"""Embedding similarity search over the embeddings table.

Training-data-pipeline extension: brute-force cosine top-k as the
exact baseline. The query set is broadcast against the corpus, so the
corpus side streams through without a shuffle — the right shape for
"few queries × huge corpus" at 100 TB. All arithmetic is JVM-side
higher-order functions (functions/vectors.py) and bit-reproducible in
the DuckDB oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.handles import CacheHandle
from ..functions.vectors import as_double, cosine, dot, norm


# --------------------------------------------------------------------------
# Learned-parameter memo (build once, serve many)
# --------------------------------------------------------------------------
# The Lloyd loops in this module are DETERMINISTIC functions of the
# input dataset (no RNG: lowest-vec_id seeds, integer distances, exact
# fixed-point centroid recomputation), so the learned parameters — the
# centroids the final assignment used, and the final codebooks — can be
# memoized driver-side and replayed with a single zero-shuffle
# assignment pass.  This is the production index lifecycle (train once,
# encode/serve many) applied within one session: the first build pays
# the full driver-coordinated iteration cost; every later build of the
# SAME dataset + hyperparameters (ivfpq_recall after ivfpq_ann, the
# codebook audit after the index, repeated invocations in a bench or
# test run) skips the loop and its per-iteration collect() round-trips.
# Keys carry a filesystem signature — (relpath, size, mtime_ns) of
# every data file — so rewritten/regenerated data invalidates the
# entry.  Driver memory is O(k·d) floats per entry, capped at
# _MEMO_MAX entries; SPARK_GRAFT_INDEX_MEMO=0 disables the memo.
#
# CONTRACT: the memo key must identify the EXACT input frame.  Pass a
# memo_key only when the DataFrame is the full, unmodified load of
# the signed dataset (the registry wrappers' full-table reads); a
# filtered/transformed frame must pass memo_key=None (the default),
# or it would poison the cache for every other caller of that key.

_MEMO_MAX = 16
_centroid_memo: dict = {}


def dataset_signature(path: str):
    """Hashable identity of a parquet file or directory: the absolute
    path plus every data file's (relpath, size, mtime_ns).  Returns
    None (→ memoization skipped) when the path can't be statted."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (os.path.abspath(path), st.st_size, st.st_mtime_ns)
        ents = []
        for root, _, files in os.walk(path):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue  # _SUCCESS / .crc markers churn freely
                fp = os.path.join(root, fn)
                st = os.stat(fp)
                ents.append((os.path.relpath(fp, path),
                             st.st_size, st.st_mtime_ns))
        if not ents:
            return None
        return (os.path.abspath(path), tuple(sorted(ents)))
    except OSError:
        return None


def _memo_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_INDEX_MEMO", "1") != "0"


def _memo_get(key):
    if key is None or not _memo_enabled():
        return None
    return _centroid_memo.get(key)


def _memo_put(key, value) -> None:
    if key is None or not _memo_enabled():
        return
    while len(_centroid_memo) >= _MEMO_MAX:
        _centroid_memo.pop(next(iter(_centroid_memo)))
    _centroid_memo[key] = value


# Magnitude domain of the fixed-point kernels: quantized() scales by
# 2^20 and the exact integer paths square and sum those values over
# dim=64, so |x| ≤ 100 keeps every intermediate ≤ 64·(100·2^21)² ≈
# 2^61.3 < 2^63 (≈3.5× int64 headroom).  Real embeddings are
# unit-ish scale; any |element| beyond this is encoder garbage, same
# as NaN/Inf.
EMB_MAX_ABS = 100.0


def valid_embeddings(df: DataFrame, col: str = "embedding",
                     id_col: str | None = "vec_id") -> DataFrame:
    """Ingest gate for vector operators: drop rows whose vector is
    NULL or contains a NULL / NaN / ±Inf / out-of-domain element
    (|x| > EMB_MAX_ABS), and rows missing their identity (NULL
    ``id_col`` — an unaddressable vector can't be indexed, deduped,
    or returned as a neighbor, and driver-side seed sorts would
    compare None; pass id_col=None for id-less frames).

    At 100 TB, embedding columns contain failed-encoder output —
    NULL rows, NaN-poisoned vectors, overflow Infs, exploded
    magnitudes.  Letting those reach the math produces NaN cosines
    whose comparison/ordering semantics differ between SQL engines
    and numpy kernels (Spark SQL sorts NaN greatest, ``numpy``
    comparisons return False), and magnitudes past the fixed-point
    domain overflow the exact int64 kernels (ANSI abort on Spark,
    conversion error in DuckDB).  The production contract is: vector
    operators consider only finite, non-null, in-domain vectors.
    Every mirrored oracle applies the same gate (plans/similarity.py
    wraps ``FROM embeddings`` mechanically).  Pure expression-level
    filter — no shuffle, pushes to the scan."""
    v = F.col(col)
    invalid = F.exists(
        v, lambda x: x.isNull() | F.isnan(x)
        | (F.abs(x) > F.lit(EMB_MAX_ABS)))
    out = df.filter(v.isNotNull() & ~invalid)
    if id_col is not None and id_col in df.columns:
        out = out.filter(F.col(id_col).isNotNull())
    return out


def knn_bruteforce(embeddings: DataFrame, n_queries: int = 5,
                   k: int = 5) -> DataFrame:
    """Exact cosine top-k: queries = vec_id < n_queries vs the full
    corpus. Returns (query_id, neighbor_id, rank, cosine score).

    Norms are computed once per row before the join (bit-identical to
    recomputing inside the pair — same sequential fold — but ~3x less
    arithmetic per candidate pair)."""
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("vec_n")) \
        .withColumn("norm_n", norm(F.col("vec_n")))
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        as_double("embedding").alias("vec_q")) \
        .withColumn("norm_q", norm(F.col("vec_q")))
    scored = (corpus.join(F.broadcast(queries))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos_sim",
                          F.try_divide(
                              dot(F.col("vec_q"), F.col("vec_n")),
                              F.col("norm_q") * F.col("norm_n"))))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid: element-wise mean via posexplode → avg →
    ordered collect back. Centroid elements are rounded to 6 dp to
    make them independent of floating-point summation order (partial
    aggregation order differs between engines/runs)."""
    expl = embeddings.select(
        "vec_id", "label",
        F.posexplode(as_double("embedding")).alias("pos", "x"))
    return (expl.groupBy("label", "pos")
            .agg(F.round(F.avg("x"), 6).alias("cx"))
            .groupBy("label")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
            .select("label",
                    F.transform("pairs", lambda p: p.cx).alias("centroid")))


def label_centroid_similarity(embeddings: DataFrame) -> DataFrame:
    """Cluster-level similarity: each vector's cosine to its own label
    centroid, aggregated per label (rounded 6 dp for portability)."""
    scored = (embeddings
              .join(F.broadcast(label_centroids(embeddings)), "label")
              .withColumn("cos_sim",
                          F.round(cosine(as_double("embedding"),
                                         F.col("centroid")), 6)))
    return (scored.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.min("cos_sim").alias("min_sim"),
                 F.max("cos_sim").alias("max_sim")))


def embedding_dups_exhaustive(embeddings: DataFrame,
                              threshold: float = 0.35,
                              max_scored_pairs: int = 60_000_000
                              ) -> DataFrame:
    """EXHAUSTIVE AUDIT FORM — not the production near-dup path.
    Embedding-cosine near-duplicate pairs blocked only by the label
    column: every intra-block pair is scored, O(block²) per label.
    Measured 59.5x wall at a 10x corpus of replicated vectors
    (block² blowup), so this form exists to audit the recall of the
    default ``embedding_dups`` (LSH-blocked) on a sampled block, not
    to run over a 100 TB corpus. Use ``embedding_dups`` by default.

    IN-CODE FENCE: refuses when the TOTAL scored-pair count
    Σ ct·(ct−1)/2 over label blocks exceeds ``max_scored_pairs``
    (default 6·10⁷ ≈ minutes of audit work — the x10 replica corpus
    sits at 2.4·10⁷ / ~115 s; the x32 corpus at 2.4·10⁸ would grind
    a skewed single block for an hour, which round 9's sweep proved
    empirically). The earlier per-block-rows fence let exactly that
    through: total pairs is the quantity the join actually scores,
    so it is the quantity the fence bounds. The guard is one
    map-side-combined (label, count) aggregate — negligible next to
    the block² join it protects against. Raise ``max_scored_pairs``
    explicitly for a deliberate larger audit; there is no way to hit
    the quadratic path by accident.
    """
    pairs = (embeddings.groupBy("label")
             .agg(F.count(F.lit(1)).alias("ct"))
             .agg(F.sum(F.expr("ct * (ct - 1) DIV 2")).alias("p"))
             .collect()[0].p) or 0
    if pairs > max_scored_pairs:
        raise RuntimeError(
            f"embedding_dups_exhaustive: label blocks hold {pairs} "
            f"scorable pairs (> max_scored_pairs={max_scored_pairs});"
            f" this audit form scores O(block²) pairs and must not "
            f"run at this scale — use embedding_dups (banded "
            f"hyperplane LSH, linear) as the production near-dup "
            f"path, or pass a larger max_scored_pairs for a "
            f"deliberate audit.")
    a = (embeddings.select("label", F.col("vec_id").alias("vec_a"),
                           as_double("embedding").alias("va"))
         .withColumn("na", norm(F.col("va"))))
    b = (embeddings.select("label", F.col("vec_id").alias("vec_b"),
                           as_double("embedding").alias("vb"))
         .withColumn("nb", norm(F.col("vb"))))
    # project cos_sim (and ONLY the output columns) before the
    # threshold filter: referencing cos_sim from a narrow projection
    # stops CollapseProject folding the dot/norm subtrees into every
    # downstream consumer — measured 3.2x on 400k candidate pairs
    return (a.join(b, "label")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cos_sim",
                        F.try_divide(dot(F.col("va"), F.col("vb")),
                                     F.col("na") * F.col("nb")))
            .select("label", "vec_a", "vec_b", "cos_sim")
            .filter(F.col("cos_sim") >= threshold))


def ivf_search(corpus: DataFrame, queries: DataFrame,
               cents: DataFrame, k: int = 3,
               n_probe: int = 1,
               exclude_self: bool = True) -> DataFrame:
    """IVF search against a PREBUILT index: ``cents`` is the coarse
    quantizer (label_centroids output, built once and reused across
    query sets), ``queries`` is (query_id, vec_q). Each query probes its ``n_probe`` nearest
    centroids and searches only those label partitions; queries
    broadcast into the corpus scan, never the reverse.

    ``exclude_self`` drops the corpus row whose vec_id equals the
    incoming query_id — correct ONLY when queries are corpus members
    sharing the id namespace (the ivf_ann / "find my neighbors"
    shape). Queries numbered independently of the corpus MUST pass
    False, or an unrelated corpus vector that merely shares the id
    is silently removed from its top-k.

    Returns (query_id, probed label, neighbor_id, rank, cos_sim)."""
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("label"))
    # a NULL label is an unaddressable inverted list: rows carrying
    # it can never be probed (the candidate equi-join drops NULL),
    # so it must not be probe-ABLE either — when every c_sim is NULL
    # (zero-norm query) the label tiebreak would pick NULL on Spark
    # (asc nulls first) but a real label in SQL (asc nulls last),
    # silently emptying the query's candidate set on one side only
    # (seeded-fuzz find, round 9)
    cents = cents.filter(F.col("label").isNotNull())
    probes = (queries.join(F.broadcast(cents))
              .withColumn("c_sim",
                          F.round(cosine(F.col("vec_q"),
                                         F.col("centroid")), 6))
              .withColumn("c_rank", F.row_number().over(probe_w))
              .filter(F.col("c_rank") <= n_probe)
              .select("query_id", "vec_q", "label"))
    cand = corpus.select(
        "label", F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("vec_n"))
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    if exclude_self:
        cand_q = F.col("neighbor_id") != F.col("query_id")
    else:
        cand_q = F.lit(True)
    return (cand.join(F.broadcast(probes), "label")
            .filter(cand_q)
            .withColumn("cos_sim", cosine(F.col("vec_q"), F.col("vec_n")))
            .withColumn("rank", F.row_number().over(rank_w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "label", "neighbor_id", "rank", "cos_sim"))


def ivf_ann(embeddings: DataFrame, n_queries: int = 5, k: int = 3,
            n_probe: int = 1) -> DataFrame:
    """IVF-style approximate nearest neighbors: the label column acts
    as the coarse quantizer's partition assignment. Each query probes
    its ``n_probe`` nearest centroids and searches only those
    partitions — the 100 TB path where brute force scans everything,
    this scans ~1/n_clusters of the corpus. (Thin wrapper over
    :func:`ivf_search` with the index built inline.)

    Returns (query_id, probed label, neighbor_id, rank, cos_sim)."""
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        as_double("embedding").alias("vec_q"))
    return ivf_search(embeddings, queries, label_centroids(embeddings),
                      k=k, n_probe=n_probe)


def norm_histogram(embeddings: DataFrame) -> DataFrame:
    """Distribution of embedding L2 norms in quarter-unit buckets —
    the standard sanity profile before similarity search (detects
    unnormalized or degenerate vectors). The norm is a sequential
    IEEE fold (bit-identical cross-engine), so bucket edges are exact.
    """
    nrm = norm(as_double("embedding"))
    return (embeddings
            .select(F.floor(nrm * 4).alias("norm_bucket"), "label")
            .groupBy("norm_bucket")
            .agg(F.count(F.lit(1)).alias("vec_ct"),
                 F.countDistinct("label").alias("label_ct")))


LSH_PLANES = 8
EMB_DIM = 64


def lsh_hyperplanes(n_planes: int = LSH_PLANES,
                    dim: int = EMB_DIM) -> list[list[int]]:
    """Deterministic integer hyperplanes from md5 — integer weights
    make every dot product an exact sequential IEEE fold, so bucket
    assignment (a sign test) is bit-identical across engines."""
    import hashlib

    planes = []
    for b in range(n_planes):
        digits = "".join(
            hashlib.md5(f"hp{b}|{part}".encode()).hexdigest()
            for part in range((dim + 31) // 32))
        planes.append([int(digits[j], 16) - 8 for j in range(dim)])
    return planes


def lsh_bucket(vec: Column) -> Column:
    """8-bit random-hyperplane (SimHash-style) bucket of a vector —
    JVM reference fold on the QUANT_SCALE fixed-point dot (exact,
    order-independent; agrees bit-for-bit with lsh_bucket_arrow and
    the DuckDB oracle)."""
    q = quantized(vec)
    out = F.lit(0)
    for i, plane in enumerate(lsh_hyperplanes()):
        arr = F.array(*[F.lit(int(w)).cast("bigint") for w in plane])
        idot = F.aggregate(F.zip_with(q, arr, lambda x, y: x * y),
                           F.lit(0).cast("bigint"),
                           lambda acc, v: acc + v)
        out = out + F.when(idot > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return out.cast("long")


def lsh_bucket_arrow() -> Column:
    """Arrow-vectorized form of lsh_bucket over column ``v`` (the
    default in lsh_ann): one int64 matmul per record batch instead of
    8 interpreted folds per row."""
    return hyperplane_keys_arrow(lsh_hyperplanes(), 1, LSH_PLANES)[0] \
        .cast("long")


def lsh_ann(embeddings: DataFrame, n_queries: int = 5,
            k: int = 3) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors: vectors hash into
    2^8 hyperplane-sign buckets; each query searches only its bucket.

    The third point of the ANN cost spectrum alongside brute force
    (full scan) and IVF (probed centroid partitions): candidate
    generation is a bucket equi-join, scan volume ~1/2^planes, and
    with the corpus written partitioned by bucket the probe becomes
    partition pruning. Returns (query_id, bucket, neighbor_id, rank,
    cos_sim)."""
    base = embeddings.select(
        "vec_id", as_double("embedding").alias("v"))
    base = base.withColumn("bucket", lsh_bucket_arrow())
    queries = (base.filter(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("vq"), "bucket"))
    cand = base.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("v").alias("vn"), "bucket")
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (cand.join(F.broadcast(queries), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos_sim", cosine(F.col("vq"), F.col("vn")))
            .withColumn("rank", F.row_number().over(rank_w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "bucket", "neighbor_id", "rank",
                    "cos_sim"))


def quantization_error(embeddings: DataFrame) -> DataFrame:
    """Int8 scalar-quantization audit: per label, the worst-case
    reconstruction error of round-to-nearest symmetric quantization
    (q = floor(x/max_abs*127 + 0.5), dequant = q/127*max_abs).

    Every step is deterministic IEEE arithmetic and the aggregate is
    max (order-independent), so the audit is exact across engines —
    the check a pipeline runs before committing to a compressed
    embedding store."""
    # materialize max_abs as a column FIRST: as a raw subexpression it
    # gets inlined into the per-element dequant lambda, turning the row
    # cost from O(d) into O(d^2) (measured 12x at d=64). Because the
    # second projection references max_abs more than once,
    # CollapseProject keeps the two-step shape.
    v = as_double("embedding")
    staged = embeddings.select(
        "label", v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("max_abs"))
    ma = F.col("max_abs")
    err = F.when(ma == 0.0, F.lit(0.0)).otherwise(
        F.array_max(F.zip_with(
            F.col("v"),
            F.transform(
                F.col("v"), lambda x: F.floor(x / ma * 127.0 + 0.5)
                / 127.0 * ma),
            lambda x, d: F.abs(x - d))))
    return (staged
            .select("label", err.alias("err"), ma.alias("max_abs"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("vec_ct"),
                 F.max("err").alias("max_reconstruction_err"),
                 F.max("max_abs").alias("max_abs_value")))


EMB_BANDS = 8
EMB_BAND_PLANES = 8

# Fixed-point scale for the band-key sign test: q = floor(v·2²⁰ + ½).
# Each quantized element and every integer hyperplane weight (|w| ≤ 8)
# multiply/accumulate EXACTLY in int64 (64 dims · 2²³ · 8 < 2³³), so
# the sign of the dot product is order-independent — numpy matmul,
# a JVM fold, and DuckDB list arithmetic all agree bit-for-bit.
QUANT_SCALE = 1 << 20


def quantized(vec: Column) -> Column:
    """array<bigint> fixed-point form of a double vector.

    Non-finite elements (NaN/±inf) quantize to 0 — explicitly, so the
    JVM fold, the numpy kernels (np.nan_to_num with the same policy),
    and ANSI-mode casts all agree on dirty elements instead of
    diverging (or erroring) at the double→bigint cast."""
    return F.transform(
        vec,
        lambda x: F.floor(
            F.when(F.isnan(x) | (F.abs(x) == float("inf")), F.lit(0.0))
             .otherwise(x) * QUANT_SCALE + F.lit(0.5)).cast("bigint"))


def emb_band_keys(vec: Column) -> list[Column]:
    """Per-band 8-bit hyperplane-sign keys from 64 shared integer
    hyperplanes (deterministic md5 weights). Band b's key uses planes
    [8b, 8b+8). Signs are taken on the QUANT_SCALE fixed-point dot
    product, so the JVM fold here, the Arrow batch path
    (emb_band_keys_arrow — the default, ~100× faster), and the DuckDB
    oracle are all bit-identical.

    This fold form is the slow reference: higher-order functions
    evaluate outside whole-stage codegen at ~2 ms/row for 64 planes
    (measured), which is why embedding_dups uses the Arrow path."""
    planes = lsh_hyperplanes(EMB_BANDS * EMB_BAND_PLANES)
    q = quantized(vec)
    keys = []
    for b in range(EMB_BANDS):
        out = F.lit(0)
        for j in range(EMB_BAND_PLANES):
            plane = planes[b * EMB_BAND_PLANES + j]
            arr = F.array(*[F.lit(int(w)).cast("bigint") for w in plane])
            idot = F.aggregate(F.zip_with(q, arr, lambda x, y: x * y),
                               F.lit(0).cast("bigint"),
                               lambda acc, v: acc + v)
            out = out + F.when(idot > 0,
                               F.lit(2 ** j)).otherwise(F.lit(0))
        keys.append(out.cast("long"))
    return keys


def hyperplane_keys_arrow(planes_list: list[list[int]], bands: int,
                          band_planes: int) -> Column:
    """Arrow-vectorized hyperplane sign keys over column ``v``: one
    numpy int64 matmul per record batch computes every sign at once —
    measured ~100× over the interpreted per-plane JVM folds (4.1 s →
    <50 ms for 2k rows × 64 planes on one core), and that per-row
    cost is what every embedding must pay at corpus scale. Exactness:
    the fixed-point quantization makes the sign test integer
    arithmetic, so this path, the JVM folds (emb_band_keys /
    lsh_bucket), and the DuckDB oracle agree bit-for-bit (pinned by
    test_arrow_band_keys_match_jvm_fold). Returns an array<bigint>
    column of ``bands`` keys, band b built from planes
    [b·band_planes, (b+1)·band_planes)."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array(planes_list, dtype=np.int64)
    weights = (np.int64(1) << np.arange(band_planes, dtype=np.int64))

    dim = planes.shape[1]

    @pandas_udf("array<bigint>")
    def keys_udf(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        # Dirty-data policy, identical to the JVM fold by
        # construction: a null/ragged ROW quantizes to the zero
        # vector (null dot → otherwise(0) → key 0 there), and a
        # non-finite ELEMENT quantizes to 0 (quantized() zeroes
        # NaN/±inf before the cast) — valid elements of a partly-
        # dirty vector keep contributing, so LSH recall survives one
        # corrupt dimension.
        def safe(x):
            try:
                a = np.asarray(x, dtype=np.float64)
            except (TypeError, ValueError):
                return np.zeros(dim)
            return a if a.shape == (dim,) else np.zeros(dim)

        v = np.nan_to_num(np.stack([safe(x) for x in vec]),
                          nan=0.0, posinf=0.0, neginf=0.0)
        q = np.floor(v * QUANT_SCALE + 0.5).astype(np.int64)
        signs = (q @ planes.T) > 0                    # n × n_planes
        keys = (signs.reshape(len(v), bands, band_planes)
                * weights).sum(axis=2)                # n × bands
        return pd.Series(list(keys))

    return keys_udf("v")


def emb_band_keys_arrow() -> Column:
    """The banded near-dup keys (8 bands × 8 planes) over column
    ``v`` — see hyperplane_keys_arrow."""
    return hyperplane_keys_arrow(
        lsh_hyperplanes(EMB_BANDS * EMB_BAND_PLANES),
        EMB_BANDS, EMB_BAND_PLANES)


def embedding_dups(embeddings: DataFrame,
                   threshold: float = 0.9
                   ) -> tuple[DataFrame, CacheHandle]:
    """DEFAULT near-dup path: banded random-hyperplane LSH inside the
    label (coarse-quantizer) blocks — the standard OR-construction,
    because a SINGLE hyperplane bucket only guarantees recall for
    exact duplicates (measured 0/26 of the cos≥0.35 pairs on the
    audit corpus). Each vector gets 8 band keys of 8 sign bits from
    64 shared hyperplanes; candidates agree on (label, band, key) for
    ANY band, are deduplicated, then scored exactly once.

    Recall model: p = 1 − θ/π per plane ⇒ 1 − (1 − p⁸)⁸ overall:
    ~0.94 at cos 0.90, ~0.99 at cos 0.95, 1.0 for exact duplicates
    (pinned by the synthetic-recall audit test); the default
    threshold 0.9 is the near-duplicate regime this path is for —
    lower thresholds need the exhaustive audit
    (``embedding_dups_exhaustive``), which is O(block²).

    Scale shape: the banded projection is narrow (ids + 2 longs), the
    bucket pairing is keyed (keyspace 2⁸ per band per label), and the
    corpus-sized vector frame is joined back only onto the candidate
    set — pair mass stays Σ bucket², never n². Returns
    ``(df, CacheHandle)`` (the persisted vector + banded projections)
    for callers to release.

    Candidate generation (r12): a shuffle-merge-hinted self-join of
    the banded projection — per-key pairs STREAM through the sorted
    join instead of pooling each bucket into one collect_list array
    row (the r11 shape, whose in-array explode materialized O(m²)
    struct copies per m-member bucket and measured 1.2-1.4× slower
    on duplicate-heavy corpora at sf0.1/x32). The identical
    (label, band, bkey) exchanges on the two sides are collapsed by
    runtime exchange reuse, so the banded subtree (hyperplane signs,
    and for semdedup_prune the upstream k-means assignment UDF) is
    still evaluated ONCE even when the persist is released. The
    vector join-backs key on vec_id ALONE (vec_id is unique and
    label is functional on it, so the (label, vec_id) join matched
    identical rows) — which lets column pruning drop the label
    column, and with it the whole assignment-UDF projection, from
    both scoring sides: 5 evaluations of the per-row Python
    kernels → 1 (r11).

    INPUT INVARIANT (ADVICE r11): ``vec_id`` must be globally unique
    across labels — the scoring join-back keys on it alone, so a
    corpus with the same vec_id under two labels would multiply rows
    and score the wrong vectors. The registry/audit corpora satisfy
    this by construction (vec_id is the table's primary key);
    library callers with label-scoped ids must disambiguate first."""
    # NOT persisted (r12, ADVICE r11): since the r11 rewrite the only
    # consumer of this projection is `bands` (itself persisted) — the
    # scoring sides a/b rebuild from `embeddings` directly — so a
    # persist here held corpus-sized vectors in memory with no second
    # reader
    base = (embeddings.select("label", "vec_id",
                              as_double("embedding").alias("v"))
            .withColumn("n", norm(F.col("v"))))
    bands = base.select(
        "label", "vec_id",
        F.posexplode(emb_band_keys_arrow()).alias("band", "bkey")) \
        .hint("merge") \
        .persist()
    # STREAMING self-join forced to shuffle-merge (r12): the r11
    # bucket-array pairing held each (label, band, bkey) bucket as
    # ONE collect_list row — O(m²) struct copies per bucket through
    # the in-array explodes on duplicate-heavy corpora. The merge
    # hint keeps both sides on the identical exchange (runtime
    # exchange reuse → one banded evaluation when the persist is
    # released) and streams per-key pairs (measured 1.18× at sf0.1,
    # 1.36× at the x32 replica corpus, same-session interleaved A/B).
    # NULL labels never form candidates — NULL never equi-joins,
    # exactly the old semantics.
    lft, rgt = bands.alias("lft"), bands.alias("rgt")
    cand = (lft.join(rgt, ["label", "band", "bkey"])
            .filter(F.col("lft.vec_id") < F.col("rgt.vec_id"))
            .select("label", F.col("lft.vec_id").alias("vec_a"),
                    F.col("rgt.vec_id").alias("vec_b"))
            .distinct())
    a = (embeddings.select(F.col("vec_id").alias("vec_a"),
                           as_double("embedding").alias("va"))
         .withColumn("na", norm(F.col("va"))))
    b = (embeddings.select(F.col("vec_id").alias("vec_b"),
                           as_double("embedding").alias("vb"))
         .withColumn("nb", norm(F.col("vb"))))
    out = (cand.join(a, "vec_a").join(b, "vec_b")
           .withColumn("cos_sim",
                       F.try_divide(dot(F.col("va"), F.col("vb")),
                                    F.col("na") * F.col("nb")))
           .select("label", "vec_a", "vec_b", "cos_sim")
           .filter(F.col("cos_sim") >= threshold))
    return out, CacheHandle(bands=bands)


# Back-compat name for the pre-round-3 callers: the LSH-blocked form
# IS the default now.
embedding_dups_lsh = embedding_dups


# --------------------------------------------------------------------------
# k-means (SemDedup-style curation clustering)
# --------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 3


def _quant_py(x: float) -> int:
    """Python-side QUANT_SCALE quantization — IEEE double arithmetic,
    identical to the column/numpy/SQL forms."""
    import math

    return int(math.floor(x * QUANT_SCALE + 0.5))


def _isqdist(q: Column, qc: list[int]) -> Column:
    """Integer squared distance on the fixed-point grid — pure int64
    (|q−qc| ≤ 2²⁴, 64 dims ⇒ Σ ≤ 2⁵⁴), order-independent, so the JVM
    fold, the numpy kernel, and the DuckDB fold agree exactly."""
    arr = F.array(*[F.lit(int(x)).cast("bigint") for x in qc])
    return F.aggregate(
        F.zip_with(q, arr, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"), lambda acc, d: acc + d)


def _kmeans_assign(vecs: DataFrame,
                   centroids: list[tuple[int, list[float]]],
                   arrow: bool = True) -> DataFrame:
    """Nearest-centroid assignment as a PURE PROJECTION — no join, no
    shuffle; the k·d centroid values ride along (the same
    per-iteration broadcast every distributed k-means ships).
    Distances are integer squared distances on the QUANT_SCALE grid,
    so argmin (ties → lowest cluster id) is exact on every engine —
    no float-comparison ulp risk at all.

    Default path: one numpy int64 kernel per Arrow batch
    (‖q‖² − 2q·QCᵀ + ‖qc‖² with an exact integer matmul) — the
    interpreted k·d fold costs ~0.5 ms/row at k=4 and grows linearly
    in k, which is unusable at SemDedup-realistic k (10³–10⁴). The
    JVM fold (arrow=False) is the bit-equal reference, pinned by
    test_kmeans_arrow_assignment_matches_jvm_fold."""
    order = sorted(centroids)
    if not arrow:
        # null/ragged rows: the fold yields a null distance; coalesce
        # to ‖qc‖² (= the zero-vector's distance) so the dirty-row
        # rule — nearest-to-origin, ties to lowest cluster — is the
        # SAME as the Arrow kernel's zero-vector fallback
        best = F.array_min(F.array(*[
            F.struct(
                F.coalesce(
                    _isqdist(F.col("q"), qc),
                    F.lit(int(sum(x * x for x in qc))).cast("bigint"))
                .alias("d"),
                F.lit(int(c)).alias("cluster"))
            for c, cvec in order
            for qc in [[_quant_py(x) for x in cvec]]]))
        return vecs.select("vec_id", "q", "v",
                           best["cluster"].alias("cluster"))

    from pyspark.sql.functions import pandas_udf

    qc = np.array([[_quant_py(x) for x in cvec] for _, cvec in order],
                  dtype=np.int64)
    ids = np.array([int(c) for c, _ in order], dtype=np.int64)
    qc_norms = (qc * qc).sum(axis=1)

    dim = qc.shape[1]

    @pandas_udf("int")
    def nearest(qs: pd.Series) -> pd.Series:
        if len(qs) == 0:
            return pd.Series([], dtype="int32")

        # dirty rows (null / ragged) fall back to the zero vector —
        # deterministic nearest-to-origin assignment, no task abort
        def safe(x):
            try:
                a = np.asarray(x, dtype=np.int64)
            except (TypeError, ValueError, OverflowError):
                return np.zeros(dim, dtype=np.int64)
            return a if a.shape == (dim,) else np.zeros(dim,
                                                        dtype=np.int64)

        qm = np.stack([safe(x) for x in qs])
        d = ((qm * qm).sum(axis=1, keepdims=True)
             - 2 * (qm @ qc.T) + qc_norms)        # n × k, exact int64
        return pd.Series(ids[np.argmin(d, axis=1)].astype("int32"))

    return vecs.select("vec_id", "q", "v",
                       nearest("q").cast("int").alias("cluster"))


def _kmeans_recompute(assigned: DataFrame) -> DataFrame:
    """EXACT centroid recomputation: per-dimension int64 sums of the
    QUANT_SCALE fixed-point vectors (order-independent — no float
    summation, no rounding tolerance), divided back to double once.
    One shuffle keyed by (cluster, dim)."""
    expl = assigned.select(
        "cluster", F.posexplode("q").alias("dim", "qx"))
    return (expl.groupBy("cluster", "dim")
            .agg((F.sum("qx").cast("double")
                  / (F.count(F.lit(1)) * F.lit(float(QUANT_SCALE))))
                 .alias("cx"))
            .groupBy("cluster")
            .agg(F.array_sort(
                F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
            .select("cluster",
                    F.transform("pairs", lambda p: p.cx).alias("centroid")))


def kmeans_clusters(embeddings: DataFrame, k: int = KMEANS_K,
                    iters: int = KMEANS_ITERS, memo_key=None
                    ) -> tuple[DataFrame, CacheHandle]:
    """Lloyd's k-means over the embedding corpus, the clustering stage
    of SemDedup-style curation (cluster, then dedup/select within
    clusters). Deterministic AND bit-identical across engines, runs,
    and partitionings:

     - seeds are the ``k`` lowest vec_ids (no RNG — replayable);
     - every centroid recomputation sums QUANT_SCALE fixed-point
       int64 vectors (exact, order-independent) and divides back to
       double once, so no float-summation-order tolerance is needed
       anywhere — unlike avg-of-double, this is reproducible on any
       cluster size;
     - assignment distances are sequential IEEE folds on identical
       inputs; ties break on cluster id.

    Emits one row per cluster: vec_ct, exemplar_id (min vec_id — the
    SemDedup representative), and centroid_fp (md5 over the
    10⁶-scaled integer centroid elements, an engine-portable
    fingerprint of the actual centroid values).

    Scale shape per iteration: assignment is a ZERO-shuffle scan
    projection (the k·d centroid doubles ride along as literals —
    the same per-iteration broadcast every distributed k-means
    ships, driver-coordinated exactly like MLlib's); recomputation
    is one (cluster × dim)-keyed map-side-combined aggregation whose
    k·d result is all the driver ever collects. Iterations are a
    fixed small constant, as in real curation pipelines.

    The cluster summary is ONE fused pass: the assignment subtree
    feeds a single posexplode_outer → (cluster, dim) partial
    aggregation carrying the centroid sums, the row counts, AND the
    exemplar mins, re-aggregated per cluster (r11: previously the
    count/exemplar branch and the centroid branch consumed the
    assignment separately — two evaluations of the corpus-sized
    Arrow projection plus a join, for byte-identical output)."""
    assigned, vh = kmeans_assignments(embeddings, k, iters,
                                      memo_key=memo_key)
    # posexplode_OUTER so zero-length vectors keep their row (dim
    # NULL): they must count in vec_ct / exemplar_id exactly like the
    # old whole-row aggregation branch, while contributing nothing to
    # any centroid dimension.
    expl = assigned.select(
        "cluster", "vec_id", F.posexplode_outer("q").alias("dim", "qx"))
    per_dim = (expl.groupBy("cluster", "dim")
               .agg(F.sum("qx").alias("sx"),
                    F.count(F.lit(1)).alias("ct"),
                    F.min("vec_id").alias("mvid")))
    # floor(x·10⁶ + ½), not round(): round-half behavior on exact .5
    # boundaries is engine-specific, floor is not
    centroid = F.transform(F.array_sort(F.collect_list(
        F.when(F.col("dim").isNotNull(), F.struct(
            "dim",
            (F.col("sx").cast("double")
             / (F.col("ct") * F.lit(float(QUANT_SCALE)))).alias("cx"))))),
        lambda p: p.cx)
    # every assignment row lands in exactly one of the dim==0 /
    # dim IS NULL groups, so summing those groups' row counts is the
    # old count(*)-per-cluster; min(mvid) is the old min(vec_id)
    out = (per_dim.groupBy("cluster")
           .agg(F.coalesce(
                    F.sum(F.when(F.col("dim").isNull()
                                 | (F.col("dim") == 0), F.col("ct"))),
                    F.lit(0).cast("bigint")).alias("vec_ct"),
                F.min("mvid").alias("exemplar_id"),
                centroid.alias("centroid"))
           # a cluster of only zero-length vectors has no centroid
           # rows; the old inner join against the recompute dropped
           # it — keep that contract (the oracle's JOIN does too)
           .filter(F.size("centroid") > 0)
           .select("cluster", "vec_ct", "exemplar_id",
                   F.md5(F.concat_ws(",", F.transform(
                       "centroid",
                       lambda x: F.floor(x * 1_000_000 + F.lit(0.5))
                                  .cast("bigint")))).alias("centroid_fp")))
    return out, vh


def kmeans_assignments(embeddings: DataFrame, k: int = KMEANS_K,
                       iters: int = KMEANS_ITERS, memo_key=None
                       ) -> tuple[DataFrame, CacheHandle]:
    """The per-vector side of kmeans_clusters: (vec_id, cluster, q, v)
    after ``iters`` Lloyd iterations (same determinism guarantees).
    Returns ``(df, CacheHandle)`` — the handle's ``vecs`` is the
    persisted vector projection, for callers to release or reuse.

    ``memo_key`` (a dataset_signature of the source data) opts into
    the learned-parameter memo: on a hit the loop is replaced by ONE
    assignment projection against the memoized final-iteration
    centroids — bit-identical output, because the loop is a
    deterministic function of (data, k, iters)."""
    vecs = embeddings.select(
        "vec_id", as_double("embedding").alias("v")) \
        .withColumn("q", quantized(F.col("v"))).persist()
    full_key = (None if memo_key is None
                else (memo_key, "kmeans", k, iters))
    hit = _memo_get(full_key)
    if hit is not None:
        assigned = _kmeans_assign(
            vecs, [(c, list(cv)) for c, cv in hit])
        return assigned, CacheHandle(vecs=vecs)
    centroids = [(c, list(r.v)) for c, r in enumerate(
        vecs.orderBy("vec_id").limit(k).collect())]
    if not centroids:
        # empty corpus: no seeds to train on — emit the assignment
        # schema with zero rows (the seed collect already proved the
        # frame is empty, so this costs nothing extra)
        empty = vecs.select(F.lit(0).cast("int").alias("cluster"),
                            "vec_id", "q", "v")
        return empty, CacheHandle(vecs=vecs)
    assigned = None
    for it in range(iters):
        assigned = _kmeans_assign(vecs, centroids)
        if it < iters - 1:
            centroids = [(r.cluster, list(r.centroid)) for r in
                         _kmeans_recompute(assigned).collect()]
    # `centroids` is exactly what the final assignment used — memo it
    _memo_put(full_key,
              tuple((c, tuple(cv)) for c, cv in centroids))
    return assigned, CacheHandle(vecs=vecs)


def semdedup_prune(embeddings: DataFrame,
                   threshold: float = 0.35, memo_key=None
                   ) -> tuple[DataFrame, CacheHandle]:
    """SemDedup end-to-end: cluster the corpus with k-means (LEARNED
    blocks — no label column needed), then find near-duplicate pairs
    inside each cluster with the banded hyperplane LSH and score the
    deduplicated candidates exactly once with the exact cosine. This
    is the published SemDedup recipe (cluster → intra-cluster
    semantic dedup) with the same two scale properties as
    embedding_dups: candidate mass is Σ bucket², and the corpus-sized
    frame joins back only onto candidates.

    Returns (cluster, vec_a, vec_b, cos_sim ≥ threshold)."""
    assigned, vh = kmeans_assignments(embeddings, memo_key=memo_key)
    blocks = assigned.select(F.col("cluster").alias("label"),
                             "vec_id", F.col("v").alias("embedding"))
    dups, dh = embedding_dups(blocks, threshold)
    out = dups.select(F.col("label").alias("cluster"),
                      "vec_a", "vec_b", "cos_sim")
    return out, CacheHandle.merge(dh, vh)


def ann_recall(embeddings: DataFrame, n_queries: int = 5,
               k: int = 3) -> DataFrame:
    """In-engine ANN quality audit: recall@k of the LSH-bucketed
    search against the exact brute-force top-k, per query — the
    measurement a pipeline runs before trusting an approximate index
    at corpus scale (recall is THE accuracy metric of ANN; computing
    it inside the engine means the audit parallelizes like any other
    query instead of a driver-side eval script).

    Both rankings break cosine ties on neighbor_id asc, so the
    intersection is deterministic; recall is reported as an integer
    permille (hits*1000 DIV k) — no float division.

    Scale shape: the exact side is the expensive input (broadcast
    queries x corpus scan — the audit's intrinsic cost, run on a
    sample of queries, never all); the approximate side probes
    buckets; the comparison itself is a (n_queries*k)-row join.
    """
    exact = knn_bruteforce(embeddings, n_queries, k) \
        .select("query_id", "neighbor_id")
    approx = lsh_ann(embeddings, n_queries, k) \
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    # the approximate top-k is n_queries*k rows by construction —
    # broadcast it so the comparison never shuffles the exact side
    return (exact.join(F.broadcast(approx),
                       ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("exact_k"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("long")
                  .alias("hits"))
            .select("query_id", "exact_k", "hits",
                    F.expr(f"hits * 1000 DIV {k}")
                     .alias("recall_permille")))


PQ_SUBSPACES = 8


def _isqdist_sql(qcol: str, qc: list[int]) -> str:
    """SQL-text form of _isqdist: one F.expr instead of ~300 py4j
    builder calls (constructing the m*k*iters distance expressions
    through the Column API measured 14 s of driver time at m=8 —
    the expression TEXT is free to build and plans identically)."""
    arr = "array(" + ",".join(f"{int(x)}L" for x in qc) + ")"
    return (f"aggregate(zip_with({qcol}, {arr}, "
            f"(x, y) -> (x - y) * (x - y)), "
            f"cast(0 as bigint), (acc, d) -> acc + d)")


def _pq_learn(embeddings: DataFrame, m: int = PQ_SUBSPACES,
              k: int = KMEANS_K, iters: int = KMEANS_ITERS,
              dim: int = 64, memo_key=None):
    """PQ codebook learning shared by pq_codebook_audit (the quality
    report) and ivfpq_ann (the search path). Returns
    (sub, assigned, final): the persisted exploded
    (vec_id, s, subvector) frame, the persisted final assignment
    (vec_id, s, q, cluster) — cluster IS the PQ code — and the final
    quantized codewords {(s, cluster): qc}. Caller unpersists both
    frames. Same determinism as kmeans_clusters: lowest-vec_id seeds,
    integer distances, exact fixed-point centroid sums.

    ``memo_key`` opts into the learned-parameter memo (see module
    header): on a hit, the iteration loop and its collect()
    round-trips are replaced by one assignment projection against the
    memoized final-iteration centroids, with the final codebooks
    returned straight from the memo — bit-identical output."""
    w = dim // m
    sub = (embeddings
           .select("vec_id",
                   F.posexplode(F.array(*[
                       F.slice(as_double("embedding"), s * w + 1, w)
                       for s in range(m)])).alias("s", "v"))
           .withColumn("q", quantized(F.col("v")))
           .persist())

    full_key = (None if memo_key is None
                else (memo_key, "pq", m, k, iters, dim))
    hit = _memo_get(full_key)

    # seeds: per subspace, the k lowest vec_ids' subvectors (cluster
    # id = rank of the seed vec_id) — same rule as kmeans_clusters
    cents: dict[tuple[int, int], list[int]] = {}
    if hit is None:
        seed_ids = sorted(r.vec_id for r in
                          embeddings.select("vec_id").orderBy("vec_id")
                          .limit(k).collect())
        rank = {vid: c for c, vid in enumerate(seed_ids)}
        for r in sub.filter(F.col("vec_id").isin(seed_ids)).collect():
            cents[(int(r.s), rank[r.vec_id])] = [_quant_py(x) for x in r.v]
        if not cents:
            # empty corpus: no codebooks to learn — callers receive
            # an empty assignment and an empty codeword map
            empty = sub.selectExpr("vec_id", "s", "q",
                                   "CAST(0 AS INT) AS cluster")
            return sub, empty, {}

    def assign(cmap: dict[tuple[int, int], list[int]]) -> DataFrame:
        """argmin cluster per row, dispatched on the subspace column:
        integer squared distances, ties to lowest cluster, dirty rows
        to nearest-of-origin (the _kmeans_assign JVM-fold rule).

        A cluster that lost every member in an earlier iteration has
        no recomputed centroid and DROPS OUT of the candidate set —
        exactly the unrolled oracle's semantics, where c{n} only
        carries clusters present in a{n} (duplicate-heavy corpora
        collapse seed clusters routinely; the seeded fuzz caught the
        range(k) form KeyErroring here)."""
        branches = []
        for s in range(m):
            cand = ",".join(
                f"struct(coalesce({_isqdist_sql('q', cmap[(s, c)])}, "
                f"{int(sum(x * x for x in cmap[(s, c)]))}L) as d, "
                f"{c} as cluster)"
                for c in range(k) if (s, c) in cmap)
            branches.append(
                f"WHEN s = {s} THEN array_min(array({cand})).cluster")
        case = "CASE " + " ".join(branches) + " END"
        return sub.selectExpr("vec_id", "s", "q",
                              f"({case}) AS cluster")

    def recompute(assigned: DataFrame) -> DataFrame:
        """Exact fixed-point centroid recomputation for ALL (subspace,
        cluster) pairs in one aggregation."""
        expl = assigned.select(
            "s", "cluster", F.posexplode("q").alias("dim", "qx"))
        return (expl.groupBy("s", "cluster", "dim")
                .agg((F.sum("qx").cast("double")
                      / (F.count(F.lit(1)) * F.lit(float(QUANT_SCALE))))
                     .alias("cx"))
                .groupBy("s", "cluster")
                .agg(F.array_sort(
                    F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
                .select("s", "cluster",
                        F.transform("pairs", lambda p: p.cx)
                        .alias("centroid")))

    if hit is not None:
        last_cents, memo_final = hit
        assigned = assign({sk: list(qc) for sk, qc in last_cents}) \
            .persist()
        return sub, assigned, {sk: list(qc) for sk, qc in memo_final}

    assigned = None
    for it in range(iters):
        assigned = assign(cents)
        if it < iters - 1:
            cents = {(int(r.s), int(r.cluster)):
                     [_quant_py(x) for x in r.centroid]
                     for r in recompute(assigned).collect()}

    # the last assignment feeds both the final recompute and whatever
    # the caller aggregates — persist so the argmin folds run once
    assigned = assigned.persist()
    final = {(int(r.s), int(r.cluster)): [_quant_py(x) for x in r.centroid]
             for r in recompute(assigned).collect()}
    # `cents` is exactly what the final assignment used — memo both it
    # and the final codebooks
    _memo_put(full_key,
              (tuple(sorted((sk, tuple(qc)) for sk, qc in cents.items())),
               tuple(sorted((sk, tuple(qc)) for sk, qc in final.items()))))
    return sub, assigned, final


def pq_codebook_audit(embeddings: DataFrame, m: int = PQ_SUBSPACES,
                      k: int = KMEANS_K, iters: int = KMEANS_ITERS,
                      dim: int = 64, memo_key=None
                      ) -> tuple[DataFrame, CacheHandle]:
    """Product-quantization codebook audit: split each d-dim vector
    into ``m`` subspaces, learn a k-codeword codebook per subspace
    with the deterministic fixed-point k-means (same guarantees as
    kmeans_clusters — no RNG, integer distances, exact centroid
    sums), and report per (subspace, codeword): population, codeword
    fingerprint, and the exact integer reconstruction error (sum and
    max of the fixed-point squared distance to the quantized
    codeword). PQ is the standard billion-vector compression
    (m*log2(k) bits/vector); this audit is the "is the codebook any
    good" check run before committing an embedding store to it.

    All m sub-problems advance TOGETHER through each Lloyd iteration
    on one exploded (vec_id, subspace, subvector) frame: per
    iteration, assignment is a zero-shuffle projection (the m*k
    codewords ride along as a subspace-dispatched literal argmin) and
    recomputation is ONE (subspace, cluster, dim)-keyed map-side-
    combined aggregation — m times fewer scans and driver rounds than
    looping subspaces (measured 28 s -> 3 s at m=8). The driver only
    ever collects m*k codewords per iteration.
    """
    import hashlib

    sub, assigned, final = _pq_learn(embeddings, m, k, iters, dim,
                                     memo_key=memo_key)
    if not final:
        spark = embeddings.sparkSession
        out = spark.createDataFrame(
            [], "subspace long, cluster long, vec_ct long, "
                "sq_err_sum long, sq_err_max long, codeword_fp string")
        return out, CacheHandle(sub=sub, assigned=assigned)
    err_b, fp_b = [], []
    for (s, c), qc in sorted(final.items()):
        digest = hashlib.md5(
            ",".join(str(x) for x in qc).encode()).hexdigest()
        err_b.append(f"WHEN s = {s} AND cluster = {c} "
                     f"THEN {_isqdist_sql('q', qc)}")
        fp_b.append(f"WHEN s = {s} AND cluster = {c} THEN '{digest}'")
    out = (assigned.selectExpr(
               "s", "cluster",
               "CASE " + " ".join(err_b) + " END AS err",
               "CASE " + " ".join(fp_b) + " END AS fp")
           .groupBy("s", "cluster")
           .agg(F.count(F.lit(1)).alias("vec_ct"),
                F.sum("err").alias("sq_err_sum"),
                F.max("err").alias("sq_err_max"),
                F.min("fp").alias("codeword_fp"))
           .select(F.col("s").cast("long").alias("subspace"),
                   F.col("cluster").cast("long").alias("cluster"),
                   "vec_ct", "sq_err_sum", "sq_err_max", "codeword_fp"))
    return out, CacheHandle(sub=sub, assigned=assigned)


def contrastive_pairs(embeddings: DataFrame, n_anchors: int = 5,
                      per_kind: int = 2) -> DataFrame:
    """Contrastive-pair mining for embedding training: per anchor, the
    ``per_kind`` HARD NEGATIVES (most-similar different-label vectors —
    the near-misses a contrastive loss learns the most from) and HARD
    POSITIVES (least-similar same-label vectors — the stragglers the
    anchor must still be pulled toward).

    One scored frame serves both kinds: anchors broadcast against the
    corpus scan (knn_bruteforce's shape — the corpus never shuffles),
    then a single row_number window partitioned by (anchor, same-label
    flag) with a sign-flipped sort key (cos ascending for positives,
    descending for negatives, neighbor_id tie-break) — no second scan,
    no second window pass.

    Scale shape: identical to exact top-k — broadcast·corpus work with
    a per-partition heap; at 100 TB the mining set rides one corpus
    scan. Scores stay raw doubles (same sequential IEEE fold as the
    oracle); ranking ties break on neighbor_id.
    """
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double("embedding").alias("vec_n")) \
        .withColumn("norm_n", norm(F.col("vec_n")))
    anchors = embeddings.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        as_double("embedding").alias("vec_q")) \
        .withColumn("norm_q", norm(F.col("vec_q")))
    scored = (corpus.join(F.broadcast(anchors))
              .filter(F.col("neighbor_id") != F.col("anchor_id"))
              .withColumn("cos_sim",
                          F.try_divide(
                              dot(F.col("vec_q"), F.col("vec_n")),
                              F.col("norm_q") * F.col("norm_n")))
              .withColumn("kind",
                          F.when(F.col("neighbor_label")
                                 == F.col("anchor_label"),
                                 F.lit("hard_positive"))
                          .otherwise(F.lit("hard_negative"))))
    sort_key = (F.when(F.col("kind") == "hard_positive",
                       F.col("cos_sim"))
                .otherwise(-F.col("cos_sim")))
    # NULL cos_sim (a zero-norm vector — try_divide yields NULL) must
    # never rank: Spark's plain asc() is nulls-FIRST while the SQL
    # oracle's default is nulls-last, so a degenerate embedding would
    # otherwise become the top "hard" pair in the engine only.
    w = Window.partitionBy("anchor_id", "kind").orderBy(
        sort_key.asc_nulls_last(), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= per_kind)
            .select("anchor_id", "kind", "rank", "neighbor_id",
                    "neighbor_label", "cos_sim"))


def ivfpq_ann(embeddings: DataFrame, n_queries: int = 5,
              k: int = 3, m: int = PQ_SUBSPACES,
              kc: int = KMEANS_K, iters: int = KMEANS_ITERS,
              dim: int = 64, memo_key=None
              ) -> tuple[DataFrame, CacheHandle]:
    """IVF-PQ approximate nearest neighbors — the composition every
    billion-vector store runs in production: a LEARNED coarse
    quantizer (fixed-point Lloyd's k-means, no label crutch) routes
    each query to its inverted list, and inside the probed partition
    candidates are ranked by ASYMMETRIC PQ distance — the exact query
    subvector against each candidate's codeword, summed over the m
    subspaces — so the corpus is stored as m·log2(k) bits/vector and
    never re-read at search time.

    End-to-end integer exactness: coarse assignment, PQ codes, and
    every ADC term are fixed-point int64 squared distances (ties →
    lowest id), so the full index-build + search composition has a
    bit-exact fully-unrolled SQL oracle — the same discipline as
    kmeans_clusters / pq_codebook_audit, composed.

    Scale shape: index build = the kmeans + PQ passes (each iteration
    one zero-shuffle assignment projection + one map-side-combined
    recompute); search = candidates equi-joined to their inverted
    list (1/kc of the corpus at n_probe=1), one broadcast of the
    query subvectors, ADC terms dispatched from the m·k-codeword
    literal table (the per-query LUT of a real ADC scan), one
    (query, vec) sum + per-query top-k heap.
    """
    coarse, ch = kmeans_assignments(embeddings, kc, iters,
                                    memo_key=memo_key)
    sub, codes, final = _pq_learn(embeddings, m, kc, iters, dim,
                                  memo_key=memo_key)
    if not final:
        spark = embeddings.sparkSession
        out = spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, "
                "adc_dist long")
        return out, CacheHandle.merge(ch, sub=sub, codes=codes)

    qv = (coarse.filter(F.col("vec_id") < n_queries)
          .select(F.col("vec_id").alias("query_id"), "cluster"))
    pairs = (coarse.select("vec_id", "cluster")
             .join(F.broadcast(qv), "cluster")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id"))
    qsubs = (sub.filter(F.col("vec_id") < n_queries)
             .select(F.col("vec_id").alias("query_id"), "s",
                     F.col("q").alias("qq")))
    adc_b = " ".join(
        f"WHEN s = {s} AND code = {c} THEN {_isqdist_sql('qq', qc)}"
        for (s, c), qc in sorted(final.items()))
    contrib = (pairs
               .join(codes.select("vec_id", "s",
                                  F.col("cluster").alias("code")),
                     "vec_id")
               .join(F.broadcast(qsubs), ["query_id", "s"])
               .selectExpr("query_id", "vec_id",
                           f"(CASE {adc_b} END) AS d"))
    adc = (contrib.groupBy("query_id", "vec_id")
           .agg(F.sum("d").alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id"))
    out = (adc.withColumn("rank", F.row_number().over(w).cast("long"))
           .filter(F.col("rank") <= k)
           .select("query_id", F.col("vec_id").alias("neighbor_id"),
                   "rank", "adc_dist"))
    return out, CacheHandle.merge(ch, sub=sub, codes=codes)


def ivfpq_recall(embeddings: DataFrame, n_queries: int = 5,
                 k: int = 3, memo_key=None
                 ) -> tuple[DataFrame, CacheHandle]:
    """Recall@k of the composed IVF-PQ index against the exact
    brute-force top-k — the quality-loss measurement run before
    committing a corpus to coarse+PQ compression (complements
    ann_recall, which audits the LSH bucket probe). Same integer
    permille reporting, same (n_queries·k)-row comparison join."""
    exact = knn_bruteforce(embeddings, n_queries, k) \
        .select("query_id", "neighbor_id")
    approx, ah = ivfpq_ann(embeddings, n_queries, k, memo_key=memo_key)
    hits = approx.select("query_id", "neighbor_id",
                         F.lit(1).alias("hit"))
    out = (exact.join(F.broadcast(hits),
                      ["query_id", "neighbor_id"], "left")
           .groupBy("query_id")
           .agg(F.count(F.lit(1)).alias("exact_k"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("long")
                 .alias("hits"))
           .select("query_id", "exact_k", "hits",
                   F.expr(f"hits * 1000 DIV {k}")
                    .alias("recall_permille")))
    return out, ah


def save_codebooks(codebooks: dict, path: str, spark) -> None:
    """Persist learned PQ codebooks ({(subspace, cluster): quantized
    codeword}) as a parquet artifact — the index-build output a
    training pipeline writes once and every encoder (batch or
    streaming) reloads. Fixed-point integers on disk: the roundtrip
    is exact, so a reloaded encoder is bit-identical to the trainer's.
    """
    rows = [(int(s), int(c), list(map(int, qc)))
            for (s, c), qc in sorted(codebooks.items())]
    (spark.createDataFrame(rows, "s int, cluster int, qc array<long>")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_codebooks(path: str, spark) -> dict:
    """Inverse of save_codebooks."""
    return {(r["s"], r["cluster"]): list(r["qc"])
            for r in spark.read.parquet(path).collect()}
