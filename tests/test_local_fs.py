"""The fork-free local FS that ``session.get_spark`` installs under
``file://``: it is what Hadoop hands out, it creates and renames files
without forking, and it keeps the stock FS's checksums, mode bits,
exclusive rename and link status. The build is cached per source.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import warnings

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

from gmall_flink_2021_spark import session

needs_javac = pytest.mark.skipif(shutil.which("javac") is None,
                                 reason="no javac: the stock FS is used")

_SHIM = "gmall.fs.NioLocalFs"


def _last_pid() -> int:
    with open("/proc/sys/kernel/ns_last_pid") as fh:
        return int(fh.read())


class _Hadoop:
    """The session's local FileSystem and FileContext through py4j."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.conf = spark._jsc.hadoopConfiguration()
        self.fs = self.jvm.org.apache.hadoop.fs.FileSystem.get(
            self.jvm.java.net.URI("file:///"), self.conf)
        self.fc = self.jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self.conf)
        assert self.fs.getClass().getName() == f"{_SHIM}$FileSystem"

    def path(self, p) -> object:
        return self.jvm.org.apache.hadoop.fs.Path(str(p))

    def create(self, fs, p) -> None:
        out = fs.create(self.path(p))
        out.write(b"abc")
        out.close()

    def rename_none(self, src, dst) -> None:
        rename = getattr(self.jvm.org.apache.hadoop.fs, "Options$Rename")
        opts = SparkContext._gateway.new_array(rename, 1)
        opts[0] = rename.NONE
        self.fc.rename(self.path(src), self.path(dst), opts)


def _java_class(exc: Py4JJavaError) -> str:
    return exc.java_exception.getClass().getName()


@needs_javac
def test_sessions_hand_out_the_shim(spark):
    h = _Hadoop(spark)
    assert h.fc.getDefaultFileSystem().getClass().getName() == f"{_SHIM}$Fs"


@needs_javac
def test_creates_and_renames_fork_nothing(spark, tmp_path):
    h = _Hadoop(spark)
    for i in range(3):  # warm py4j and class loading
        h.create(h.fs, tmp_path / f"w{i}")
        h.rename_none(tmp_path / f"w{i}", tmp_path / f"w{i}.done")
    before = _last_pid()
    for i in range(50):
        h.create(h.fs, tmp_path / f"f{i}")
    for i in range(50):
        h.rename_none(tmp_path / f"f{i}", tmp_path / f"g{i}")
    # the stock FS forks chmod per create and readlink per rename end:
    # about 1,000 PIDs for these 100 calls
    assert _last_pid() - before < 50
    assert len(list(tmp_path.glob("g*"))) == 50


@needs_javac
def test_modes_and_checksums_match_the_stock_fs(spark, tmp_path):
    h = _Hadoop(spark)
    stock = h.jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(h.jvm.java.net.URI("file:///"), h.conf)
    for name, fs in (("shim", h.fs), ("stock", stock)):
        h.create(fs, tmp_path / name / "sub" / "part-0")
        fs.mkdirs(h.path(tmp_path / name / "dir"))
    for rel in ("sub", "sub/part-0", "sub/.part-0.crc", "dir"):
        shim, stock_ = (os.stat(tmp_path / n / rel) for n in ("shim", "stock"))
        assert stat.S_IMODE(shim.st_mode) == stat.S_IMODE(stock_.st_mode), rel
    assert stat.S_IMODE(os.stat(tmp_path / "shim/sub/part-0").st_mode) == 0o644
    assert stat.S_IMODE(os.stat(tmp_path / "shim/dir").st_mode) == 0o755
    assert ((tmp_path / "shim/sub/.part-0.crc").read_bytes()
            == (tmp_path / "stock/sub/.part-0.crc").read_bytes())
    assert h.fs.getVerifyChecksum()


@needs_javac
def test_rename_none_refuses_an_existing_target(spark, tmp_path):
    h = _Hadoop(spark)
    h.create(h.fs, tmp_path / "a")
    h.create(h.fs, tmp_path / "b")
    with pytest.raises(Py4JJavaError) as err:
        h.rename_none(tmp_path / "a", tmp_path / "b")
    assert (_java_class(err.value)
            == "org.apache.hadoop.fs.FileAlreadyExistsException")
    assert (tmp_path / "a").exists() and (tmp_path / "b").exists()


@needs_javac
def test_link_status(spark, tmp_path):
    h = _Hadoop(spark)
    h.create(h.fs, tmp_path / "target")
    os.symlink(tmp_path / "target", tmp_path / "link")
    link = h.fs.getFileLinkStatus(h.path(tmp_path / "link"))
    assert link.isSymlink()
    assert link.getSymlink().toUri().getPath() == str(tmp_path / "target")
    plain = h.fs.getFileLinkStatus(h.path(tmp_path / "target"))
    assert not plain.isSymlink() and plain.isFile() and plain.getLen() == 3
    with pytest.raises(Py4JJavaError) as err:
        h.fs.getFileLinkStatus(h.path(tmp_path / "missing"))
    assert _java_class(err.value) == "java.io.FileNotFoundException"


@needs_javac
def test_build_is_cached_per_source(tmp_path, monkeypatch):
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    source = tmp_path / "NioLocalFs.java"
    shutil.copy(session._LOCAL_FS_SOURCE, source)
    runs = []
    real_run = subprocess.run

    def counting_run(*args, **kwargs):
        runs.append(args)
        return real_run(*args, **kwargs)

    monkeypatch.setattr(subprocess, "run", counting_run)
    first = session.build_local_fs(str(source))
    assert len(runs) == 1
    assert os.path.isfile(os.path.join(first, "gmall/fs/NioLocalFs$Fs.class"))
    assert session.build_local_fs(str(source)) == first
    assert len(runs) == 1
    with open(source, "a") as fh:
        fh.write("// edited\n")
    edited = session.build_local_fs(str(source))
    assert len(runs) == 2 and edited != first and os.path.isdir(edited)
    # nothing but the two class directories is left behind
    assert sorted(os.listdir(tmp_path / "tmp")) == sorted(
        os.path.basename(d) for d in (first, edited))


def test_without_javac_the_session_keeps_the_stock_fs(monkeypatch):
    monkeypatch.setattr(shutil, "which", lambda _name: None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        conf = session._local_fs_conf()
    assert not conf.keys() & {"spark.driver.extraClassPath",
                              "spark.hadoop.fs.file.impl",
                              "spark.hadoop.fs.AbstractFileSystem.file.impl"}
    assert [w.category for w in caught] == [RuntimeWarning]
