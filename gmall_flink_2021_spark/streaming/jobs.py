"""Structured Streaming job wiring.

Every transformation in operators/ is source-agnostic (a pure
DataFrame→DataFrame function); these helpers bind them to streaming
sources. The architectural invariant (SURVEY.md §7.1): the same
operator runs in batch mode for the DuckDB oracle and in streaming
mode behind a watermark — Structured Streaming's incrementalized-
batch model makes the results identical once all data is processed,
which is exactly what the streaming==batch tests assert.

Kafka-shape note: in production each reader below becomes
``spark.readStream.format("kafka")...select(col("value").cast("string"))``
(MyKafkaUtil.java:29-37); file sources present the identical
`value: string` / typed-row surface for tests, so the operator code
does not change.

Every foreachBatch job here runs through ``sinks.drain``;
``run_to_completion`` is the memory-sink runner the tests read back.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import sinks


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver events table replayed as a file stream with event
    time. Schema comes from the batch loader (incl. the nanos fix).

    The file streaming source only accepts directories, so the single
    parquet file is staged (hard-linked/copied once) into a per-sf
    spool directory under /tmp.
    """
    import hashlib
    import os
    import shutil

    from pyspark.sql.types import LongType, StructField, StructType

    src_stat = os.stat(os.path.join(sf_dir, "events.parquet"))
    # key the spool by file identity, not just path: the source parquet
    # can be regenerated in place between runs, and a stale staged copy
    # would silently diverge from the batch loader
    ident = f"{sf_dir}:{src_stat.st_mtime_ns}:{src_stat.st_size}"
    spool = os.path.join(
        "/tmp", "gmall_stream_spool",
        hashlib.md5(ident.encode()).hexdigest()[:12])
    os.makedirs(spool, exist_ok=True)
    dst = os.path.join(spool, "events.parquet")
    if not os.path.exists(dst):
        src = os.path.join(sf_dir, "events.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy(src, dst)
    # the physical ts encoding varies between generator versions:
    # TIMESTAMP(NANOS) surfaces as bigint (needs the shared nanos→NTZ
    # conversion), TIMESTAMP(MICROS) reads natively — probe the footer
    # metadata so the session-global nanosAsLong flag is only touched
    # when the file actually needs it (and then it must stay set: the
    # streaming scan consults it at execution time)
    from ..sources.tables import events_ts_is_nanos

    src_path = os.path.join(sf_dir, "events.parquet")
    if not events_ts_is_nanos(src_path):
        return (spark.readStream
                .schema(spark.read.parquet(src_path).schema)
                .format("parquet").load(spool))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = load_table(spark, sf_dir, "events")
    raw_schema = StructType([
        StructField("ts", LongType(), f.nullable) if f.name == "ts" else f
        for f in batch.schema.fields])
    raw = (spark.readStream.schema(raw_schema)
           .format("parquet")
           .load(spool))
    from ..sources.tables import convert_events_ts

    return convert_events_ts(raw)


def visitor_stats_stream(events: DataFrame,
                         window_duration: str = "10 minutes",
                         watermark: str = "1 second",
                         approx_uv: bool = False) -> DataFrame:
    """Streaming form of operators/dws.visitor_stats_window (A2+O2):
    the identical aggregation behind a bounded-out-of-orderness
    watermark; append mode emits each window once it closes.

    ``approx_uv=True`` is the high-cardinality deployment default
    (constant HLL++ state per group instead of a per-user set entry —
    see dws._uv_expr); the exact form remains for parity tests and
    low-cardinality keys."""
    from ..operators.dws import visitor_stats_window

    # watermarks require TIMESTAMP (not NTZ); with the session pinned
    # to UTC (session.harden) the wall clock is unchanged
    with_et = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return visitor_stats_window(
        with_et.withWatermark("ts", watermark), window_duration,
        streaming=True, approx_uv=approx_uv)


def uv_sketch_stream(events_stream: DataFrame, store_path: str,
                     checkpoint: str) -> None:
    """Streaming form of operators/dwm.uv_sketch_rollup's ingest half:
    each micro-batch's per-day HLL sketches are union-merged into the
    daily sketch store (``hll_union_agg``), so any later rollup (the
    monthly window in ``uv_rollup_from_daily``) reads O(days) sketch
    rows and never re-scans raw events. HLL registers are per-item
    maxes, so incremental union == single-pass sketch and streaming
    == batch holds exactly, not approximately.

    Idempotence: replaying a micro-batch after a failure must not
    double-merge (sketch union is idempotent but the pv_ct sum is
    not). The highest merged batch id is EMBEDDED in the store (a
    constant ``merged_bid`` column) and the store is published by
    ATOMIC directory rename (sinks.publish_store, with
    sinks.recover_store run before each read), so no crash point
    leaves a partial-but-readable store whose surviving part files
    still carry merged_bid — the failure mode of the earlier
    two-phase copy, where a replayed batch saw bid <= prior_bid
    against a partial store and skipped itself (silent row loss). A
    batch id ≤ the stored one is a no-op."""
    from ..operators.dwm import uv_daily_sketches

    def sink(batch: DataFrame, bid: int) -> None:
        _merge_into_store(
            uv_daily_sketches(batch), store_path, bid, "uv-sketch",
            lambda rows: rows.groupBy("day").agg(
                F.hll_union_agg("sk").alias("sk"),
                F.sum("pv_ct").alias("pv_ct")))

    sinks.drain(events_stream, sink, checkpoint)


def _merge_into_store(partial: DataFrame, store_path: str, bid: int,
                      label: str, combine) -> None:
    """Merge batch ``bid``'s ``partial`` frame into the merged store at
    ``store_path`` (``combine`` aggregates the union of the two), stamp
    it with ``merged_bid`` and publish it by rename. The store is
    recovered first; a batch id at or below the stored ``merged_bid``
    is a replay already merged, so it is a no-op; a store without
    merged_bid fails loud instead of re-seeding silently."""
    spark = partial.sparkSession
    sinks.recover_store(store_path)
    fs, P = sinks.store_fs(spark, store_path)
    merged = partial
    if fs.exists(P(store_path)):
        existing = spark.read.parquet(store_path)
        prior_bid = existing.agg(F.max("merged_bid")).first()[0]
        if prior_bid is None:
            raise RuntimeError(
                f"{label} store {store_path} is corrupt (no "
                "merged_bid); restore or delete the store to re-seed")
        if bid <= prior_bid:
            return  # replayed batch: already merged, atomically
        merged = combine(existing.drop("merged_bid").unionByName(partial))
    sinks.publish_store(
        merged.withColumn("merged_bid", F.lit(bid).cast("long")),
        store_path)


def contamination_stream(corpus_stream: DataFrame, bench_index: DataFrame,
                         out_path: str, checkpoint: str) -> None:
    """Streaming decontamination: a STATIC benchmark shingle index
    (operators/textstats.benchmark_shingle_index — built once,
    broadcast-sized) scores a streaming corpus micro-batch by
    micro-batch. Per-doc scores depend only on the doc and the index,
    so the union of emitted batches equals the batch operator
    row-for-row; writes are overwrite-by-batch-id (exactly-once)."""
    from ..operators.textstats import contamination_against

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(
            contamination_against(batch, bench_index), bid, out_path)

    sinks.drain(corpus_stream, sink, checkpoint)


def classifier_scores_stream(doc_stream: DataFrame, weights: DataFrame,
                             out_path: str, checkpoint: str) -> None:
    """Streaming model-based quality filtering: the trained (or
    stand-in) weight table — built ONCE, classifier-sized, broadcast
    inside every micro-batch — scores each arriving document with
    textstats.hashed_classifier_scores. Per-doc logits depend only on
    the doc and the static weights, so the union of emitted batches
    equals the batch operator row-for-row (pinned by test); writes
    are overwrite-by-batch-id (exactly-once). This is the ingestion
    placement of the classifier filter: score-at-arrival, so a later
    corpus release just filters on the stored keep_label instead of
    re-reading text."""
    from ..operators.textstats import hashed_classifier_scores

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(
            hashed_classifier_scores(batch, weights=weights), bid,
            out_path)

    sinks.drain(doc_stream, sink, checkpoint)


def segment_dedup_stream(doc_stream: DataFrame, out_path: str,
                         state_path: str, checkpoint: str) -> None:
    """Incremental paragraph-level dedup for a document stream: each
    micro-batch keeps its own first occurrence of every segment, then
    anti-joins the grow-only seen-segment state built by earlier
    batches — the arrival-order generalization of segment_dedup for
    continuous corpus ingestion (first SEEN wins; equal to the batch
    operator whenever arrival order is doc_id order, which the
    streaming==batch test pins).

    Exactly-once: both the per-batch state append and the output are
    overwrite-by-batchId, and the state read excludes rows written by
    the current batch id, so a replayed batch neither double-drops
    against its own partial write nor double-emits. State is
    (seg_hash) — 16 bytes a segment — so at corpus scale it lives as
    a partitioned parquet table that each batch anti-joins
    (broadcast-eligible while small, shuffle-join beyond)."""
    from ..operators.dedup import (doc_segments, first_occurrence,
                                   segment_rebuild)

    def sink(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        kept = first_occurrence(doc_segments(batch))
        # only a genuinely-absent state dir means "first batch"; any
        # OTHER read failure (corrupt files, schema drift) must fail
        # the batch loudly — swallowing it would silently disable
        # cross-batch dedup. Existence is probed via the Hadoop
        # FileSystem API so hdfs:// and s3a:// state paths work, not
        # just the driver's local POSIX filesystem.
        fs, P = sinks.store_fs(spark, state_path)
        if fs.exists(P(state_path)):
            seen = (spark.read.parquet(state_path)
                    .filter(F.col("batch_id") < bid)
                    .select("seg_hash"))
            kept = kept.join(seen, "seg_hash", "left_anti")
        kept = kept.persist()
        try:
            sinks.write_idempotent(kept.select("seg_hash"), bid,
                                   state_path)
            sinks.write_idempotent(segment_rebuild(kept), bid, out_path)
        finally:
            kept.unpersist()

    sinks.drain(doc_stream, sink, checkpoint)


def kmeans_score_stream(emb_stream: DataFrame,
                        centroids: list[tuple[int, list[float]]]
                        ) -> DataFrame:
    """Static-model × stream scoring: assign every arriving embedding
    to its nearest centroid from a batch k-means pass — the standard
    train-offline / score-online split. The centroid literals ride in
    the projection (same as the batch assignment), so this is a
    stateless per-row transform: streaming == batch row-for-row, any
    trigger, no state store. Returns (vec_id, cluster)."""
    from ..functions.vectors import as_double
    from ..operators.similarity import (_kmeans_assign, quantized,
                                        valid_embeddings)

    vecs = valid_embeddings(emb_stream).select(
        "vec_id", as_double("embedding").alias("v")) \
        .withColumn("q", quantized(F.col("v")))
    return _kmeans_assign(vecs, centroids).select("vec_id", "cluster")


def run_to_completion(stream_df: DataFrame, checkpoint: str) -> DataFrame:
    """Drain a file-backed stream with availableNow into a memory sink
    and return it as a DataFrame. Used by the streaming==batch tests."""
    import uuid

    name = "sink_" + uuid.uuid4().hex[:12]
    query = (stream_df.writeStream
             .format("memory")
             .queryName(name)
             .outputMode("append")
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return stream_df.sparkSession.table(name)


def duplicate_spans_stream(doc_stream: DataFrame, out_path: str,
                           state_path: str, checkpoint: str) -> None:
    """Incremental substring-dedup for a document stream: each
    micro-batch's strided span hashes are checked against the
    grow-only span index built by earlier batches, plus intra-batch
    earlier documents — "how much of this NEW doc is already in the
    corpus" at ingestion time. Equal to the batch operator
    `dedup.duplicate_spans_vs_prior` whenever arrival order is doc_id
    order (pinned by the streaming==batch test).

    Exactly-once: output and state append are both
    overwrite-by-batchId, and the state read excludes the current
    batch id, so a replayed batch neither double-drops against its own
    partial write nor double-emits. State is one 32-hex md5 per
    distinct span — at corpus scale a partitioned parquet table the
    batch left-joins (broadcast-eligible while small)."""
    from ..operators.dedup import span_hashes

    def sink(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        fs, P = sinks.store_fs(spark, state_path)
        spans = span_hashes(batch).persist()
        try:
            first = spans.groupBy("h").agg(
                F.min("doc_id").alias("first_doc"))
            marked = spans.join(first, "h")
            if fs.exists(P(state_path)):
                prior = (spark.read.parquet(state_path)
                         .filter(F.col("batch_id") < bid)
                         .select("h", F.lit(1).alias("seen")))
                marked = marked.join(prior, "h", "left")
            else:
                prior = None
                marked = marked.withColumn("seen",
                                           F.lit(None).cast("int"))
            dup = (F.col("seen").isNotNull()
                   | (F.col("first_doc") < F.col("doc_id"))).cast("long")
            per_doc = (marked.groupBy("doc_id")
                       .agg(F.count(F.lit(1)).alias("total_spans"),
                            F.sum(dup).alias("dup_spans"))
                       .filter(F.col("dup_spans") > 0))
            sinks.write_idempotent(per_doc, bid, out_path)
            new_h = spans.select("h").distinct()
            if prior is not None:
                new_h = new_h.join(prior.select("h"), "h", "left_anti")
            sinks.write_idempotent(new_h, bid, state_path)
        finally:
            spans.unpersist()

    sinks.drain(doc_stream, sink, checkpoint)


def heavy_hitter_stream(doc_stream: DataFrame, store_path: str,
                        checkpoint: str, counters: int = 512) -> None:
    """Streaming heavy-hitter terms with BOUNDED state: a corpus-wide
    Misra-Gries summary maintained across micro-batches. Each batch is
    exact-counted (one map-side-combined aggregation over the batch),
    merged into the stored summary by count addition, then pruned back
    to ``counters`` entries with the mergeable-summaries rule
    (subtract the (k+1)-th largest count, drop non-positive). State is
    ≤ counters term rows + one total row — CONSTANT in corpus size,
    where the exact streaming count (collect-all-terms) would grow
    with the vocabulary.

    Unlike the batch operator (which recounts candidates exactly and
    is oracle-exact), a one-pass bounded-state stream cannot be exact;
    what it guarantees is the MG bound, which the accuracy test gates
    quantitatively: every stored count c satisfies
    true − n/(counters+1) ≤ c ≤ true, and every term with true share
    > 1/(counters+1) of the n tokens seen so far is present.

    The prune threshold is computed by sorting the ≤ 2·counters-entry
    merged summary — a driver-side top-(k+1) over summary rows, never
    over the corpus. Idempotent replay: the max merged batch id is
    EMBEDDED in the store as a sentinel row and the store is
    published by ATOMIC directory rename (sinks.publish_store, with
    sinks.recover_store run before each read), so no crash point
    leaves a partial store readable — the earlier two-phase copy
    could commit a subset of part files that happened to include the
    sentinel rows, making the missing-sentinel fail-loud check only
    probabilistic. The sentinel check stays as defense in depth
    against out-of-band store damage.
    """
    from ..functions.text import tokens

    spark = doc_stream.sparkSession
    # both sentinels contain a space: unreachable as tokens
    TOTAL = "<total tokens>"
    MERGED = "<merged batches>"  # cnt = highest batch id merged in

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.recover_store(store_path)
        fs, P = sinks.store_fs(spark, store_path)
        existing = None
        if fs.exists(P(store_path)):
            existing = spark.read.parquet(store_path)
            meta = {r["term"]: r["cnt"] for r in existing.filter(
                F.col("term").isin(TOTAL, MERGED)).collect()}
            if TOTAL not in meta or MERGED not in meta:
                # a store without its sentinel rows is a partially-
                # written swap (crash mid-republish): refuse to
                # silently reset the accumulated summary — fail loud
                raise RuntimeError(
                    f"heavy-hitter store {store_path} is corrupt "
                    "(missing sentinel rows); restore from a clean "
                    "batch or delete the store to re-seed")
            if bid <= meta[MERGED]:
                return  # replayed batch: already merged, atomically
            n_prior = meta[TOTAL]
        else:
            n_prior = 0
        bc = (batch.select(F.explode(tokens("text")).alias("term"))
              .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
              .persist())
        try:
            # batch token total from the aggregated (vocab-sized)
            # frame — no second corpus-sized tokenize pass
            n_batch = bc.agg(F.sum("cnt")).first()[0] or 0
            merged = bc
            if existing is not None:
                merged = (existing
                          .filter(~F.col("term").isin(TOTAL, MERGED))
                          .unionByName(bc)
                          .groupBy("term").agg(F.sum("cnt").alias("cnt")))
            rows = merged.orderBy(F.desc("cnt"), F.asc("term")) \
                         .limit(counters + 1).collect()
            if len(rows) > counters:
                sub = rows[-1]["cnt"]
                merged = (merged.filter(F.col("cnt") > sub)
                          .withColumn("cnt", F.col("cnt") - F.lit(sub)))
            meta_rows = spark.createDataFrame(
                [(TOTAL, n_prior + n_batch), (MERGED, bid)],
                "term string, cnt long")
            sinks.publish_store(merged.unionByName(meta_rows), store_path)
        finally:
            bc.unpersist()

    sinks.drain(doc_stream, sink, checkpoint)


def changelog_apply_stream(change_stream: DataFrame, table_path: str,
                           checkpoint: str, pk: str,
                           order_col: str) -> None:
    """CDC changelog replay (the S2/S3 → K4 chain end-to-end): a
    stream of (op, ``order_col``, payload…) change rows is applied to a
    pk-bucketed parquet table — inserts/updates upsert, deletes
    remove — via the incremental copy-on-write merge in
    sinks.upsert_dim. Per-pk application is idempotent, so a replayed
    micro-batch converges without markers; cross-batch ordering rides
    on the changelog's own sequence column within each batch and on
    source ordering across batches (Maxwell/Debezium per-key
    monotonicity).

    The convergence proof lives in the reconciliation test: after the
    full changelog drains, analytics.snapshot_diff(applied, source)
    must return ZERO rows — the audit a real CDC pipeline runs to
    certify a replica."""

    def sink(batch: DataFrame, bid: int) -> None:
        if not batch.head(1):
            return
        sinks.upsert_dim(batch, table_path, pk=pk, order_col=order_col,
                         op_col="op")

    sinks.drain(change_stream, sink, checkpoint)


def minhash_dedup_stream(doc_stream: DataFrame, out_path: str,
                         state_path: str, checkpoint: str) -> None:
    """Incremental doc-level MinHash dedup: each micro-batch's LSH
    band buckets are checked against a grow-only bucket index
    ((band, band_hash) → first occupant) plus the batch's own earlier
    docs; a doc sharing ANY occupied bucket with an earlier doc is
    marked duplicate with its earliest predecessor — the
    first-seen-wins ingestion rule whose batch oracle is
    operators/dedup.minhash_dedup_marks (streaming == batch when
    arrival order is doc_id order).

    Completes the streaming dedup triad: paragraph level
    (segment_dedup_stream), substring level (duplicate_spans_stream),
    and document level (this). Exactly-once: both the per-doc marks
    and the bucket-index appends are overwrite-by-batchId, and the
    state read excludes the current batch id, so a replayed batch
    neither consults its own partial write nor double-appends. State
    is one 32-hex bucket hash + first doc_id per DISTINCT bucket —
    bounded by corpus novelty, not corpus size."""

    def sink(batch: DataFrame, bid: int) -> None:
        with _batch_dedup_marks(batch, bid, state_path) as (out, new_b):
            sinks.write_idempotent(out, bid, out_path)
            sinks.write_idempotent(new_b, bid, state_path)

    sinks.drain(doc_stream, sink, checkpoint)


@contextmanager
def _batch_dedup_marks(batch: DataFrame, bid: int, state_path: str):
    """Shared per-batch body of the incremental MinHash dedup: yields
    (marks, new_buckets). marks = every batch doc with
    is_dup/earliest_prior against the grow-only bucket index (batches
    < bid) plus the batch's own earlier docs; new_buckets = the index
    rows this batch contributes. The caller writes both idempotently
    inside the ``with``; the cached band frame is released on exit,
    whether the writes succeeded or not."""
    from ..operators.dedup import banded_minhash

    spark = batch.sparkSession
    fs, P = sinks.store_fs(spark, state_path)
    banded = banded_minhash(batch).persist()
    try:
        bfirst = (banded.groupBy("band", "band_hash")
                  .agg(F.min("doc_id").alias("first_doc")))
        if fs.exists(P(state_path)):
            prior = (spark.read.parquet(state_path)
                     .filter(F.col("batch_id") < bid)
                     .select("band", "band_hash",
                             F.col("first_doc").alias("prior_first")))
        else:
            prior = None
        cand = banded.join(bfirst, ["band", "band_hash"])
        if prior is not None:
            cand = cand.join(prior, ["band", "band_hash"], "left")
        else:
            cand = cand.withColumn("prior_first",
                                   F.lit(None).cast("long"))
        # least() skips nulls; each side is guarded to strict priors
        prev = F.least(
            F.when(F.col("first_doc") < F.col("doc_id"),
                   F.col("first_doc")),
            F.when(F.col("prior_first") < F.col("doc_id"),
                   F.col("prior_first")))
        marks = (cand.withColumn("prev", prev)
                 .groupBy("doc_id")
                 .agg(F.min("prev").alias("earliest_prior")))
        out = (batch.select("doc_id")
               .join(marks, "doc_id", "left")
               .select("doc_id",
                       F.col("earliest_prior").isNotNull().cast("long")
                       .alias("is_dup"),
                       "earliest_prior"))
        new_b = bfirst
        if prior is not None:
            new_b = new_b.join(prior.select("band", "band_hash"),
                               ["band", "band_hash"], "left_anti")
        yield out, new_b
    finally:
        banded.unpersist()


def corpus_funnel_stream(doc_stream: DataFrame, out_path: str,
                         state_path: str, checkpoint: str) -> None:
    """Streaming corpus-cleaning funnel: each micro-batch's per-source
    attrition counts (lang → length → quality → MinHash dedup, the
    gates of operators/textstats.corpus_funnel) are emitted as
    additive partials; the cumulative report is SUM(partials) GROUP BY
    source, which equals the batch funnel when arrival order is doc_id
    order — the gates are per-doc and the dedup decision is the same
    grow-only-index rule as minhash_dedup_stream (shared per-batch
    body, shared state layout). Exactly-once via overwrite-by-batchId
    on both partials and index."""
    from ..operators.textstats import funnel_counts, funnel_gates

    def sink(batch: DataFrame, bid: int) -> None:
        with _batch_dedup_marks(batch, bid, state_path) as (marks, new_b):
            j = funnel_gates(batch).join(
                marks.select("doc_id", "is_dup"), "doc_id", "left")
            sinks.write_idempotent(funnel_counts(j), bid, out_path)
            sinks.write_idempotent(new_b, bid, state_path)

    sinks.drain(doc_stream, sink, checkpoint)


def script_mix_stream(doc_stream: DataFrame, out_path: str,
                      checkpoint: str) -> None:
    """Streaming per-source script profiling: each micro-batch
    appends its additive counter partials
    (textstats.script_mix_partials); the cumulative report is
    textstats.script_mix_readout over the store — equal to the batch
    script_mix_stats on any corpus split (counters are per-doc and
    associative; no state). Exactly-once via overwrite-by-batchId."""
    from ..operators.textstats import script_mix_partials

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(script_mix_partials(batch), bid,
                               out_path)

    sinks.drain(doc_stream, sink, checkpoint)


def token_fertility_stream(doc_stream: DataFrame, out_path: str,
                           checkpoint: str) -> None:
    """Streaming per-lang tokenizer-fertility profiling — same
    additive-partials contract as script_mix_stream, with
    textstats.token_fertility_partials / token_fertility_readout."""
    from ..operators.textstats import token_fertility_partials

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(token_fertility_partials(batch), bid,
                               out_path)

    sinks.drain(doc_stream, sink, checkpoint)


def near_dup_rate_stream(doc_stream: DataFrame, out_path: str,
                         state_path: str, checkpoint: str) -> None:
    """Streaming per-source duplication pressure: each micro-batch's
    docs are marked against the grow-only MinHash bucket index (the
    shared _batch_dedup_marks body, i.e. the minhash_dedup_stream
    ingestion rule), reduced to (source, doc_ct, dup_ct) partials and
    appended; dedup.near_dup_rate_readout over the store equals the
    batch near_dup_rate_by_source when arrival order is doc_id order
    (same caveat as corpus_funnel_stream). Exactly-once via
    overwrite-by-batchId on both partials and index."""
    from ..operators.dedup import near_dup_rate_partials

    def sink(batch: DataFrame, bid: int) -> None:
        with _batch_dedup_marks(batch, bid, state_path) as (marks, new_b):
            sinks.write_idempotent(near_dup_rate_partials(marks, batch),
                                   bid, out_path)
            sinks.write_idempotent(new_b, bid, state_path)

    sinks.drain(doc_stream, sink, checkpoint)


def pq_encode_stream(emb_stream: DataFrame,
                     codebooks: dict, m: int = 8,
                     dim: int = 64) -> DataFrame:
    """Static-codebook × stream PQ encoding: every arriving embedding
    is compressed to its m codeword ids (the write path of an IVF-PQ
    store ingesting new vectors against codebooks trained offline by
    similarity._pq_learn). Codeword literals ride in the projection —
    stateless per-row transform, streaming == batch row-for-row, no
    state store. Returns (vec_id, s, code)."""
    from ..functions.vectors import as_double
    from ..operators.similarity import (_isqdist_sql, quantized,
                                        valid_embeddings)

    w = dim // m
    sub = (valid_embeddings(emb_stream)
           .select("vec_id",
                   F.posexplode(F.array(*[
                       F.slice(as_double("embedding"), s * w + 1, w)
                       for s in range(m)])).alias("s", "v"))
           .withColumn("q", quantized(F.col("v"))))
    branches = []
    for s in range(m):
        # per-subspace code set: a cluster can empty out in one
        # subspace but survive in another, so the union of codes
        # across subspaces would KeyError on a ragged codebook
        ks = sorted(c for (s2, c) in codebooks if s2 == s)
        cand = ",".join(
            f"struct(coalesce({_isqdist_sql('q', codebooks[(s, c)])}, "
            f"{int(sum(x * x for x in codebooks[(s, c)]))}L) as d, "
            f"{c} as code)"
            for c in ks)
        branches.append(
            f"WHEN s = {s} THEN array_min(array({cand})).code")
    case = "CASE " + " ".join(branches) + " END"
    return sub.selectExpr("vec_id", "s", f"({case}) AS code")


def ann_query_stream(query_stream: DataFrame, corpus: DataFrame,
                     out_path: str, checkpoint: str, k: int = 3,
                     n_probe: int = 1,
                     exclude_self: bool = True) -> None:
    """Online ANN serving: the IVF index — per-label centroids (the
    coarse quantizer) over a STATIC corpus — is built ONCE before the
    stream starts, then every arriving query vector is answered
    micro-batch by micro-batch with similarity.ivf_search (probe
    n_probe nearest centroids, scan only those inverted lists,
    queries broadcast into the corpus scan). This is the retrieval
    placement of the batch ivf_ann operator: index residency amortizes
    across batches (the centroid frame stays persisted for the
    stream's lifetime) instead of being rebuilt per query set.

    Per-query results depend only on the query vector and the static
    index, so the union of emitted batches equals the batch operator
    row-for-row (pinned by test); writes are overwrite-by-batch-id
    (exactly-once). ``exclude_self`` is only correct when the query
    stream's ids live in the corpus id namespace (see ivf_search);
    externally-numbered query streams must pass False."""
    from ..functions.vectors import as_double
    from ..operators.similarity import (ivf_search, label_centroids,
                                        valid_embeddings)

    corpus = valid_embeddings(corpus)
    cents = label_centroids(corpus).persist()

    def sink(batch: DataFrame, bid: int) -> None:
        queries = valid_embeddings(batch).select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("vec_q"))
        sinks.write_idempotent(
            ivf_search(corpus, queries, cents, k=k, n_probe=n_probe,
                       exclude_self=exclude_self),
            bid, out_path)

    try:
        sinks.drain(query_stream, sink, checkpoint)
    finally:
        cents.unpersist()


def with_row_audit(df: DataFrame, name: str = "row_audit") -> DataFrame:
    """Attach an in-flight reconciliation metric to any stream (or
    batch frame): rows seen and non-null keys, surfaced per
    micro-batch through StreamingQueryProgress.observedMetrics —
    production monitoring without a second scan or a side query. Pair
    with the sink's own counts to detect silent row loss between
    stages (the observability layer every ingest pipeline carries)."""
    first = df.columns[0]
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col(first).isNotNull().cast("long"))
        .alias("first_col_nonnull"))


def quality_gated_sink(stream: DataFrame, rules: list, out_path: str,
                       quarantine_path: str, checkpoint: str) -> None:
    """Dead-letter quality gate: every micro-batch is validated
    against a declarative rule set (operators/expectations — one
    conditional-aggregation pass); a batch where every rule passes is
    committed to ``out_path``, a failing batch is diverted WHOLE to
    ``quarantine_path`` along with its verdict rows — nothing is
    silently dropped, the pipeline keeps running, and the quarantine
    carries the evidence needed for triage. Both writes are
    overwrite-by-batchId (exactly-once on replay).

    Batch-granular quarantine (vs row-level filtering) is deliberate:
    an upstream fault that poisons a slice of data usually poisons
    the whole file/offset range, and the operator's job is to stop a
    bad LOAD from entering the table, not to salvage rows from it."""
    from ..operators import expectations

    def sink(batch: DataFrame, bid: int) -> None:
        # one materialization serves the probe, the validation pass,
        # and the commit/quarantine write — foreachBatch re-evaluates
        # the source per action otherwise
        batch = batch.persist()
        try:
            if not batch.head(1):
                return
            verdict = expectations.validate(batch, rules)
            rows = verdict.collect()   # |rules| rows
            if all(r["passed"] == 1 for r in rows):
                sinks.write_idempotent(batch, bid, out_path)
            else:
                sinks.write_idempotent(batch, bid, quarantine_path)
                sinks.write_idempotent(
                    verdict, bid, quarantine_path + "._verdicts")
        finally:
            batch.unpersist()

    sinks.drain(stream, sink, checkpoint)


def daily_value_store_stream(events_stream: DataFrame, store_path: str,
                             checkpoint: str) -> None:
    """Continuous feed for the drift monitor: each micro-batch writes
    its (event_type, day) integer-cent PARTIALS via the idempotent
    overwrite-by-batchId sink — no merged-store swap, no marker, no
    read-modify-write: a replayed batch overwrites its own partial
    directory, so exactly-once holds structurally (the earlier
    merge-in-place form had a crash window between store publish and
    marker where a replay double-counted sums). The merged daily
    frame is derived AT READ time by summing partials — exact integer
    addition, still O(days·types) after aggregation — and the
    partial directories compact like any other sink layout
    (sinks.compact_table)."""
    from ..functions import money

    def sink(batch: DataFrame, bid: int) -> None:
        from ..functions.timeutil import dated

        day = F.date_trunc("day", F.col("ts"))
        daily = (dated(batch)
                 .groupBy("event_type", day.alias("day"))
                 .agg((F.sum(money("value")) * 100).cast("long")
                      .alias("cents")))
        sinks.write_idempotent(daily, bid, store_path)

    sinks.drain(events_stream, sink, checkpoint)


def zscores_from_daily_store(spark, store_path: str,
                             trailing: int = 7,
                             min_prior: int = 3) -> DataFrame:
    """The monitor's read side: sum the per-batch partials into the
    exact daily totals (integer cents are additive across batches),
    then run THE SAME scoring tree as the batch operator
    (analytics.score_daily_cents — shared, not copied), so
    streaming-fed scoring equals analytics.daily_value_zscores
    exactly once all events have drained (pinned by test)."""
    from ..operators.analytics import score_daily_cents

    daily = (spark.read.parquet(store_path)
             .groupBy("event_type", "day")
             .agg(F.sum("cents").alias("cents")))
    return score_daily_cents(daily, trailing, min_prior)


def dsir_score_stream(doc_stream: DataFrame, reference_docs: DataFrame,
                      out_path: str, checkpoint: str) -> None:
    """Online data selection at ingestion (DSIR): the target/raw
    log-likelihood-ratio table — built ONCE from the static reference
    corpus, O(dim) rows, persisted for the stream's lifetime — scores
    every arriving document micro-batch by micro-batch with
    textstats.dsir_score (token fan-out joined to the broadcast llr
    table, integer-exact per-doc sums). Per-doc weights depend only
    on the doc and the static table, so the union of emitted batches
    equals the batch operator row-for-row when the reference equals
    the streamed corpus (pinned by test); writes are
    overwrite-by-batch-id (exactly-once). Tokens hashing to a bucket
    the reference never observed are dropped by the inner join — a
    production deployment materializes all dim buckets (smoothing
    defines their llr) to score them at the floor instead."""
    from ..operators.textstats import dsir_llr_table, dsir_score

    llr = dsir_llr_table(reference_docs).persist()

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(dsir_score(batch, llr), bid, out_path)

    try:
        llr.count()
        sinks.drain(doc_stream, sink, checkpoint)
    finally:
        llr.unpersist()


def bpe_encode_stream(doc_stream: DataFrame, reference_docs: DataFrame,
                      out_path: str, checkpoint: str,
                      n_merges: int | None = None) -> None:
    """Tokenizer serving: the BPE vocabulary — trained ONCE offline
    from the static reference corpus (textstats.bpe_learn), reduced
    to the word -> symbol-count map, persisted for the stream's
    lifetime — encodes every arriving document micro-batch by
    micro-batch via one broadcast join onto the token fan-out.
    Out-of-vocabulary words count 1 atomic symbol, exactly as the
    batch operator treats separator-unsafe words. Union of emitted
    batches == batch bpe_encode_stats when the reference equals the
    streamed corpus (pinned by test); writes are
    overwrite-by-batch-id (exactly-once)."""
    from ..operators import textstats

    if n_merges is None:
        n_merges = textstats.BPE_N_MERGES
    _, vocab, lh = textstats.bpe_learn(reference_docs, n_merges)
    enc = textstats.bpe_vocab_encoder(vocab).persist()

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(
            textstats.encode_with_vocab(batch, enc), bid, out_path)

    try:
        enc.count()
        lh.unpersist()
        sinks.drain(doc_stream, sink, checkpoint)
    finally:
        enc.unpersist()


def novelty_gate_stream(doc_stream: DataFrame, snapshot: DataFrame,
                        out_path: str, checkpoint: str) -> None:
    """Streaming ingest novelty gate: the snapshot-side dedup index
    (content fingerprints + minhash signatures + LSH band buckets —
    dedup.snapshot_index, built ONCE and persisted for the stream's
    lifetime) classifies every arriving document micro-batch as
    exact_dup / near_dup / novel with the same core as batch
    incremental_dedup. Verdicts depend only on the doc and the static
    snapshot, so the union of emitted batches equals the batch
    operator row-for-row (pinned by test); writes are
    overwrite-by-batch-id (exactly-once). Within-stream duplicates
    are intentionally NOT decided here — minhash_dedup_stream owns
    the first-seen-wins rule; a production ingest runs both gates."""
    from ..operators import dedup

    snap_idx = dedup.snapshot_index(snapshot).persist()

    def sink(batch: DataFrame, bid: int) -> None:
        # the fused batch index is read twice (spine + band buckets);
        # persist for the write, release before the next micro-batch
        batch_idx = dedup.snapshot_index(batch).persist()
        try:
            sinks.write_idempotent(
                dedup._novelty_classify(batch_idx, snap_idx),
                bid, out_path)
        finally:
            batch_idx.unpersist()

    try:
        snap_idx.count()
        sinks.drain(doc_stream, sink, checkpoint)
    finally:
        snap_idx.unpersist()


def profile_sketch_stream(doc_stream: DataFrame, cols: list[str],
                          store_path: str, checkpoint: str) -> None:
    """Streaming column-profile monitoring: each micro-batch's
    per-column (ct, null_ct, HLL sketch) rows are merged into the
    profile store — counters by sum, sketches by hll_union_agg.
    Counters merge EXACTLY; sketch estimates agree with the
    single-pass batch profile within the HLL error band (datasketches
    sketches near the sparse→dense promotion boundary can differ by a
    few counts from the single-pass build — low-cardinality columns,
    still in exact sparse mode, merge bit-identically; both pinned by
    test). The data-quality readout (expectations.profile_estimates,
    feeding a drift check against a baseline) never re-scans ingested
    data.
    Same replay discipline as uv_sketch_stream: merged_bid embedded
    in the store, atomic directory-rename publish, replayed batch ids
    are no-ops."""
    from ..operators.expectations import profile_sketches

    def sink(batch: DataFrame, bid: int) -> None:
        _merge_into_store(
            profile_sketches(batch, cols), store_path, bid, "profile",
            lambda rows: rows.groupBy("col_name").agg(
                F.sum("ct").alias("ct"),
                F.sum("null_ct").alias("null_ct"),
                F.hll_union_agg("sk").alias("sk")))

    sinks.drain(doc_stream, sink, checkpoint)


def scd2_enrich_stream(fact_stream: DataFrame, orders: DataFrame,
                       out_path: str, checkpoint: str) -> None:
    """Streaming temporal-table join (Flink's FOR SYSTEM_TIME AS OF,
    gmall's async dim lookup family) against a STATIC versioned
    dimension: every micro-batch of lineitem facts is tagged with the
    order-status version in effect on its ship date via the same
    union + carry-forward merge as the batch operator
    (operators/analytics.scd2_enrich). Effective status depends only
    on the fact row and the static version table, so the union of
    emitted batches equals the batch enrich row-for-row; writes are
    overwrite-by-batch-id (exactly-once)."""
    from ..operators.analytics import scd2_enrich

    def sink(batch: DataFrame, bid: int) -> None:
        sinks.write_idempotent(scd2_enrich(orders, batch), bid,
                               out_path)

    sinks.drain(fact_stream, sink, checkpoint)
