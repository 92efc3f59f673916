"""Quantitative accuracy gates for the no-oracle sketch queries.

The driver's CORRECTNESS row for `unique_visitors_daily_approx` and
`uv_sketch_rollup` is rows-only (sketch encodings aren't
SQL-expressible), so these tests supply the missing value-level
criterion: every estimate must land within ~3 standard errors of the
exact distinct count DuckDB computes on the same keys — the bands are
declared next to the oracles in ``plans.registry.SKETCH_GATES``.
"""

import sys

import pytest

from gmall_flink_2021_spark.plans.registry import (
    QUERIES, SKETCH_ESTIMATE_QUERIES, SKETCH_GATES)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    sys.path.insert(0, "tests")
    from parity import duck_connect

    return duck_connect(SF)


def test_embedding_dups_recall_on_synthetic_near_dups(spark):
    """Recall audit for the default banded-LSH near-dup path: plant 50
    near-identical pairs (cos ≈ 0.999) among 200 random vectors; the
    8-band × 8-plane construction predicts ≈100% recall at that
    similarity (1 − (1 − p⁸)⁸ with p = 1 − θ/π), and every found pair
    must also be scored correctly against the threshold (precision
    1.0 by construction — the cos filter is exact)."""
    import numpy as np

    from gmall_flink_2021_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    rows = [(i, str(i % 4), [float(x) for x in v])
            for i, v in enumerate(base)]
    for j in range(50):
        v = base[j] + 0.05 * rng.normal(size=64)
        rows.append((1000 + j, str(j % 4), [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>")
    dups, dh = similarity.embedding_dups(emb, threshold=0.9)
    got = {(r.vec_a, r.vec_b): r.cos_sim for r in dups.collect()}
    dh.unpersist()
    planted = {(j, 1000 + j) for j in range(50)}
    found = planted & set(got)
    assert len(found) / len(planted) >= 0.9
    assert all(v >= 0.9 for v in got.values())


@pytest.mark.parametrize("name", sorted(SKETCH_GATES))
def test_sketch_estimates_within_error_band(spark, duck, name):
    # queries upgraded to driver-graded audit forms keep their raw
    # estimate form in SKETCH_ESTIMATE_QUERIES — the 3σ gate runs there
    fn = SKETCH_ESTIMATE_QUERIES.get(name, QUERIES.get(name))
    result = fn(spark, SF).toPandas()
    assert len(result) > 0
    for gate in SKETCH_GATES[name]:
        exact = duck.execute(gate["exact_sql"]).df()
        exact_by_key = {
            tuple(str(row[k]) for k in gate["keys"]): int(row["exact_ct"])
            for _, row in exact.iterrows()}
        checked = 0
        for _, row in result.iterrows():
            key = tuple(str(row[k]) for k in gate["keys"])
            assert key in exact_by_key, (name, gate["estimate"], key)
            exact_ct = exact_by_key[key]
            est = float(row[gate["estimate"]])
            rel_err = abs(est - exact_ct) / exact_ct
            assert rel_err <= gate["max_rel_err"], (
                f"{name}.{gate['estimate']} key={key}: est={est} "
                f"exact={exact_ct} rel_err={rel_err:.4f} "
                f"> {gate['max_rel_err']}")
            checked += 1
        assert checked == len(result)


def test_arrow_band_keys_match_jvm_fold(spark):
    """The Arrow matmul band-key path (the default) and the JVM
    reference fold must agree bit-for-bit on real embeddings — the
    fixed-point quantization is what guarantees it (integer dot
    products are order-independent)."""
    from pyspark.sql import functions as F

    from gmall_flink_2021_spark.operators import similarity
    from gmall_flink_2021_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    jvm = {r.vec_id: list(r.k) for r in base.select(
        "vec_id", F.array(*similarity.emb_band_keys(F.col("v")))
        .alias("k")).collect()}
    arrow = {r.vec_id: list(r.k) for r in base.select(
        "vec_id", similarity.emb_band_keys_arrow().alias("k")).collect()}
    assert jvm and jvm == arrow
    # same pin for the single-bucket (lsh_ann) form
    jvm_b = {r.vec_id: r.b for r in base.select(
        "vec_id", similarity.lsh_bucket(F.col("v")).alias("b")).collect()}
    arrow_b = {r.vec_id: r.b for r in base.select(
        "vec_id", similarity.lsh_bucket_arrow().alias("b")).collect()}
    assert jvm_b and jvm_b == arrow_b


def test_kmeans_arrow_assignment_matches_jvm_fold(spark):
    """The Arrow integer-distance assignment kernel (default) and the
    JVM reference fold must agree exactly on real embeddings for the
    trained centroids."""
    from gmall_flink_2021_spark.operators import similarity
    from gmall_flink_2021_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, vh = similarity.kmeans_assignments(emb)
    cents = [(r.cluster, list(r.centroid)) for r in
             similarity._kmeans_recompute(assigned).collect()]
    vecs = vh.vecs
    arrow = {r.vec_id: r.cluster for r in
             similarity._kmeans_assign(vecs, cents, arrow=True).collect()}
    jvm = {r.vec_id: r.cluster for r in
           similarity._kmeans_assign(vecs, cents, arrow=False).collect()}
    vecs.unpersist()
    assert arrow and arrow == jvm


def test_arrow_kernels_dirty_row_policy_matches_jvm(spark):
    """Dirty-data contract: null rows, ragged rows, and non-finite
    ELEMENTS must produce the same band keys / cluster assignments on
    the Arrow kernels and the JVM reference folds (null/ragged row →
    zero vector; NaN/±inf element → 0, valid elements still count)."""
    import math

    from pyspark.sql import functions as F

    from gmall_flink_2021_spark.operators import similarity

    good = [float(i % 7) - 3.0 for i in range(64)]
    nan_one = list(good)
    nan_one[3] = float("nan")
    inf_one = list(good)
    inf_one[5] = math.inf
    rows = [(0, good), (1, None), (2, good[:32]),
            (3, nan_one), (4, inf_one)]
    base = spark.createDataFrame(
        rows, "vec_id long, v array<double>")
    jvm = {r.vec_id: list(r.k) for r in base.select(
        "vec_id", F.array(*similarity.emb_band_keys(F.col("v")))
        .alias("k")).collect()}
    arrow = {r.vec_id: list(r.k) for r in base.select(
        "vec_id", similarity.emb_band_keys_arrow().alias("k")).collect()}
    assert jvm == arrow
    # NaN element must NOT zero the whole vector: keys still informative
    assert jvm[3] != jvm[1]

    cents = [(0, [5.0] * 64), (7, [0.5] * 64)]
    vecs = base.withColumn("q", similarity.quantized(F.col("v")))
    a = {r.vec_id: r.cluster for r in
         similarity._kmeans_assign(vecs, cents, arrow=True).collect()}
    j = {r.vec_id: r.cluster for r in
         similarity._kmeans_assign(vecs, cents, arrow=False).collect()}
    assert a == j
    # dirty rows go to the nearest-to-origin cluster deterministically
    assert a[1] == 7 and a[2] == 7
