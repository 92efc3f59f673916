"""SparkSession factory with scale-oriented defaults.

The reference pins parallelism to Kafka partition counts (1 or 4,
BASELINE.md). On Spark we instead size shuffle partitions to the
cluster and let AQE coalesce at runtime; locally we default to the
core count. All settings here are safe on a 1000-executor cluster:
AQE handles skew and partition coalescing, broadcast joins cover the
reference's async dim-lookup pattern (SURVEY.md §2.4 J3).

Local file system. Without libhadoop, Hadoop's local FS forks a
``chmod`` for every file and directory it creates, and FileContext
(which Spark's default checkpoint manager uses) forks ``readlink`` on
both ends of every rename. Every streaming micro-batch writes offset,
commit, source-log and state files, and every sink and dim-bucket swap
adds its own, so a warehouse chain spent most of its process creations
there. ``get_spark`` therefore compiles ``jvm/NioLocalFs.java`` once
per source (``javac`` against pyspark's Hadoop client API, cached in a
directory under ``tempfile.gettempdir()``) and puts it on the driver
classpath as ``fs.file.impl`` and ``fs.AbstractFileSystem.file.impl``:
the same local FS with the chmod and link-status calls made through
``java.nio``. Checksums (``.crc`` siblings), mode bits and
FileContext's exclusive ``rename(..., NONE)`` are kept, so Spark's
default FileContext checkpoint manager stays. Only ``file://`` paths
are affected. Without ``javac`` the session starts on the stock FS and
warns once; sessions created elsewhere (the driver's own, through
``harden``) keep the stock FS.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test rig; on a real cluster the
# same keys are what you would tune (shuffle.partitions ~ 2-3x cores).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    # local rig: testdata tables are single ~1-10 MB parquet files, so
    # the 128 MB default gives 1-task scans; 16 MB restores parallelism
    # at row-group granularity. On a real cluster with many large files
    # raise this back to 128m+ (see SCALE.md).
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
    # events.parquet has been generated as TIMESTAMP(NANOS) in some
    # rounds; Spark refuses to scan that physical type unless this
    # legacy flag is set, under which a NANOS column surfaces as
    # bigint (the loaders convert it back — sources/tables.py
    # convert_events_ts). CONSTRAINT for library callers: the flag is
    # session-global and type-scoped — it changes how every
    # NANOS-encoded parquet column in this session reads (bigint, not
    # timestamp) but leaves MICROS/MILLIS-encoded columns untouched
    # (they read as timestamp regardless; pinned by
    # test_sources_and_sql.test_micros_reads_unaffected_by_nanos_flag).
    # Read nanos-encoded files through sources.tables.load_table (or
    # mirror its footer probe) rather than raw spark.read.parquet.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # local[32] means the driver JVM hosts all 32 task threads: an 8g
    # heap forced multi-second full GCs that dominated bench noise
    # (measured ±7 s swings on identical queries); 24g keeps pauses
    # young-gen-sized. Cluster deployments size executors instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.ui.enabled": "false",
    # managed tables (bucketing) land outside the repo
    "spark.sql.warehouse.dir": "/tmp/gmall-spark-warehouse",
}


_LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFs.java")
_LOCAL_FS_CLASS = "gmall.fs.NioLocalFs"


def build_local_fs(source: str = _LOCAL_FS_SOURCE) -> str | None:
    """Compile the local-FS shim and return its class directory, or
    None (with a warning) when it cannot be built here.

    The directory is keyed by the source and the Hadoop client jar, so
    a second build of the same source runs no ``javac``. It is compiled
    into a temp dir and renamed into place, so a concurrent build never
    sees a half-written one.
    """
    javac = shutil.which("javac")
    jars = sorted(glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not jars:
        warnings.warn("javac or pyspark's Hadoop client jar not found: the "
                      "session uses Hadoop's stock local FS, which forks a "
                      "shell per file created or renamed", RuntimeWarning)
        return None
    with open(source, "rb") as fh:
        digest = hashlib.sha256(fh.read())
    digest.update(os.path.basename(jars[-1]).encode())
    root = tempfile.gettempdir()
    out = os.path.join(root, f"gmall-nio-local-fs-{digest.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = tempfile.mkdtemp(prefix="gmall-nio-local-fs-build-", dir=root)
    try:
        subprocess.run([javac, "--release", "17", "-nowarn", "-cp", jars[-1],
                        "-d", tmp, source], check=True, capture_output=True)
        os.rename(tmp, out)
    except subprocess.CalledProcessError as exc:
        warnings.warn("compiling the local-FS shim failed, the session uses "
                      "Hadoop's stock local FS: "
                      + exc.stderr.decode(errors="replace"), RuntimeWarning)
        return None
    except OSError:
        if not os.path.isdir(out):  # not a concurrent build that won
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _local_fs_conf() -> dict[str, str]:
    """The confs that put the shim under ``file://``; empty when the
    driver JVM is already up (its classpath is fixed, so it may not
    hold the shim) or no shim can be built."""
    if SparkContext._gateway is not None:
        return {}
    classes = build_local_fs()
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": f"{_LOCAL_FS_CLASS}$FileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl":
            f"{_LOCAL_FS_CLASS}$Fs",
    }


def get_spark(app_name: str = "gmall-spark", master: str | None = None,
              extra: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update(_local_fs_conf())
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Sessions already hardened — every registry wrapper calls harden()
# via _t, so without the memo a 150-query bench sweep pays ~900
# needless py4j conf roundtrips (r12, guide §1.2 "per-task work" at
# the driver). WeakSet so a stopped session's entry disappears.
from weakref import WeakSet

_HARDENED: "WeakSet[SparkSession]" = WeakSet()


def harden(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created
    session (the driver passes its own SparkSession to ``entry``).

    Only touches confs that are safe to set mid-session and that the
    engine's correctness depends on (timezone-stable timestamps, the
    nanos→long parquet read used by the events loader). Idempotent
    and memoized per session — callers may invoke it per query.
    """
    if spark in _HARDENED:
        return spark
    for k in ("spark.sql.session.timeZone",
              "spark.sql.legacy.parquet.nanosAsLong",
              "spark.sql.adaptive.enabled"):
        try:
            spark.conf.set(k, _DEFAULTS[k])
        except Exception:
            return spark  # conf locked down — loaders fall back; retry next call
    _HARDENED.add(spark)
    return spark
