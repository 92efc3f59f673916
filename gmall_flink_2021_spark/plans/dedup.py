"""Plans: document deduplication family (queries + mirrored DuckDB oracles)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup

from ._base import (  # noqa: F401
    _t)
from ._sql import (  # noqa: F401
    _BANDS,
    _MINHASH_MATCH,
    _N_MINHASH,
    _SHINGLES,
    _SIG,
    _SIMHASH_BAND_MASKS,
    _SIMHASH_COMBINE,
    _SIMHASH_SUMS,
    _TOKS)

def q_exact_dups(spark, sf):
    """Gates: hash aggregation on an md5 content fingerprint (16-byte group
    key, not raw text)."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.exact_dups(documents)

def q_minhash_signatures(spark, sf):
    """Gates: explode-once MinHash: 2 md5s sliced 8 ways, one map-side-
    combined shuffle."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.minhash_signatures(documents)

def q_minhash_band_pairs(spark, sf):
    """Gates: LSH banding: per-band equi-join candidate generation
    (bucketed, never all-pairs)."""
    (documents,) = _t(spark, sf, "documents")
    # persist stays LIVE through the caller's materialization (the
    # self-join reads the banding once, not twice) — r7 semantics;
    # bench.py clearCache()/session teardown reclaims it
    out, _h = dedup.minhash_band_pairs(documents)
    return out

def q_minhash_jaccard_pairs(spark, sf):
    """Gates: signature-estimated Jaccard scoring joined back onto LSH
    candidates — near-dup scoring with NO re-read of the raw text (the
    production scorer that replaces exact n-gram counting at scale)."""
    (documents,) = _t(spark, sf, "documents")
    out, _h = dedup.minhash_jaccard_pairs(documents)  # persist live
    return out

def q_ngram_jaccard_pairs(spark, sf):
    """Gates: df-capped + per-doc-budgeted inverted-index self-join (join
    volume linear in corpus; plan-pinned df filter)."""
    (documents,) = _t(spark, sf, "documents")
    out, _h = dedup.ngram_jaccard_pairs(documents)  # persist live
    return out

def q_cross_source_dup_matrix(spark, sf):
    """Gates: per-fingerprint source-set aggregation + indexed-array
    pair fan-out (|sources|² output, never a corpus self-join — the
    oracle deliberately keeps the naive hashed self-join form) merged
    with the banded-LSH cross-source candidate counts."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.cross_source_dup_matrix(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_dedup_threshold_calibration(spark, sf):
    """Gates: 9-row match-level histogram on the capped-candidate
    scorer (threshold-picking curve; cost == the scorer's)."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.dedup_threshold_calibration(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_near_dup_rate_by_source(spark, sf):
    """Gates: per-source dup-permille over the online LSH marks
    (which upstream feed to deprioritize)."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.near_dup_rate_by_source(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_simhash_signatures(spark, sf):
    """Gates: 60 conditional bit-vote sums recombined after one doc_id
    shuffle."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.simhash_signatures(documents)

def q_dedup_summary(spark, sf):
    """Gates: LSH components to one left flag-join + aggregate; plan-pinned
    NO forced broadcast (AQE decides)."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.dedup_summary(documents)

def q_dup_clusters(spark, sf):
    """Gates: connected components: bounded local union-find with
    distributed min-label fallback."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.dup_clusters(documents)

def q_dedup_keep_best(spark, sf):
    """Gates: argmax-per-group spanning a composed pipeline — window
    top-1 by quality over the connected-components output joined to a
    corpus projection (the actionable keep/drop form of dup_clusters)."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.dedup_keep_best(documents)

def q_simhash_band_pairs(spark, sf):
    """Gates: 4x15-bit pigeonhole banding + exact bit_count hamming verify
    (plan-pinned equi-join)."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.simhash_band_pairs(documents)

def q_editdist_verified_pairs(spark, sf):
    """Gates: exact Levenshtein verification of LSH candidates (the
    verify pass of a near-dup pipeline) — candidate-bounded O(len²)
    scoring, integer-exact across engines."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.editdist_verified_pairs(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_segment_dedup(spark, sf):
    """Gates: corpus-wide first-occurrence ranking (row_number over
    segment-hash groups) + position-ordered document reconstruction
    via array_sort(collect_list(struct)) — the C4-style paragraph
    dedup that actually rewrites documents."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.segment_dedup(documents)

def q_duplicate_spans(spark, sf):
    """Gates: substring-level dedup (strided char-window fan-out in
    the scan projection + distinct-doc df filter + linear mark-join) —
    the suffix-array-style shared-text audit MinHash can't see."""
    (documents,) = _t(spark, sf, "documents")
    return dedup.duplicate_spans(documents)

def q_minhash_dedup_marks(spark, sf):
    """Gates: the online-ingestion dedup DECISION (bucket-first ranking,
    O(corpus) output on any duplication level) vs the pair-enumeration
    family."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.minhash_dedup_marks(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_dedup_provenance(spark, sf):
    """Gates: dedup provenance attribution — the (dup_source,
    orig_source) matrix over the online marks; off-diagonal mass is
    cross-source mirroring, the feed-level curation signal the
    pairwise counts hide."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.dedup_provenance(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_split_leakage_check(spark, sf):
    """Gates: split hygiene — near-dup leakage ACROSS the content-hash
    train/val split via a bucket semi-join (no pair enumeration); the
    in-corpus counterpart of benchmark decontamination."""
    (documents,) = _t(spark, sf, "documents")
    out, h = dedup.split_leakage_check(documents)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

def q_incremental_dedup(spark, sf):
    """Gates: cross-snapshot novelty gate (the daily-ingest decision) —
    exact-fingerprint + LSH-band collision of an incoming batch
    against the existing corpus; joins unhinted so AQE broadcasts the
    batch side only when it measures small, and the snapshot
    signatures are semi-filtered to the matched set before the
    agreement audit. Batch = doc_id % 10 == 7 (a deterministic
    'today's crawl' slice), snapshot = the rest."""
    (documents,) = _t(spark, sf, "documents")
    batch = documents.filter(F.col("doc_id") % 10 == 7)
    snap = documents.filter(F.col("doc_id") % 10 != 7)
    out, h = dedup.incremental_dedup(snap, batch)
    h.unpersist()  # lazy: recompute-on-reuse
    return out

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "exact_dups": q_exact_dups,
    "minhash_signatures": q_minhash_signatures,
    "minhash_band_pairs": q_minhash_band_pairs,
    "minhash_jaccard_pairs": q_minhash_jaccard_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "cross_source_dup_matrix": q_cross_source_dup_matrix,
    "dedup_threshold_calibration": q_dedup_threshold_calibration,
    "near_dup_rate_by_source": q_near_dup_rate_by_source,
    "simhash_signatures": q_simhash_signatures,
    "dup_clusters": q_dup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_summary": q_dedup_summary,
    "simhash_band_pairs": q_simhash_band_pairs,
    "segment_dedup": q_segment_dedup,
    "editdist_verified_pairs": q_editdist_verified_pairs,
    "duplicate_spans": q_duplicate_spans,
    "minhash_dedup_marks": q_minhash_dedup_marks,
    "dedup_provenance": q_dedup_provenance,
    "split_leakage_check": q_split_leakage_check,
    "incremental_dedup": q_incremental_dedup,
}

ORACLES: dict[str, str] = {
    "exact_dups": f"""
        WITH {_TOKS}
        SELECT min(doc_id) AS canonical_id,
               count(*) AS dup_ct,
               md5(coalesce(array_to_string(tok, ' '), '')) AS fp
        FROM toks
        GROUP BY 3
    """,
    "minhash_signatures": f"""
        WITH {_SIG}
        SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sig
    """,
    "minhash_band_pairs": f"""
        WITH {_BANDS}
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l
        JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
        WHERE l.doc_id < r.doc_id
    """,
    "minhash_dedup_marks": f"""
        WITH {_BANDS},
        buckets AS (
            SELECT band, band_hash, min(doc_id) AS first_doc
            FROM bands GROUP BY band, band_hash),
        coll AS (
            SELECT b.doc_id, min(k.first_doc) AS earliest_prior
            FROM bands b
            JOIN buckets k ON b.band = k.band AND b.band_hash = k.band_hash
            WHERE k.first_doc < b.doc_id
            GROUP BY b.doc_id)
        SELECT d.doc_id,
               CAST(CASE WHEN c.earliest_prior IS NULL THEN 0 ELSE 1 END
                    AS BIGINT) AS is_dup,
               c.earliest_prior
        FROM documents d LEFT JOIN coll c ON d.doc_id = c.doc_id
        WHERE d.doc_id IS NOT NULL
    """,
    "dedup_provenance": f"""
        WITH {_BANDS},
        buckets AS (
            SELECT band, band_hash, min(doc_id) AS first_doc
            FROM bands GROUP BY band, band_hash),
        coll AS (
            SELECT b.doc_id, min(k.first_doc) AS earliest_prior
            FROM bands b
            JOIN buckets k ON b.band = k.band AND b.band_hash = k.band_hash
            WHERE k.first_doc < b.doc_id
            GROUP BY b.doc_id)
        SELECT d.source AS dup_source, o.source AS orig_source,
               count(*) AS ct
        FROM coll c
        JOIN documents d ON c.doc_id = d.doc_id AND d.doc_id IS NOT NULL
        JOIN documents o ON c.earliest_prior = o.doc_id AND o.doc_id IS NOT NULL
        GROUP BY 1, 2
    """,
    "split_leakage_check": f"""
        WITH {_BANDS},
        tagged AS (
            SELECT doc_id, band, band_hash,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0', '1') AS is_val
            FROM bands),
        tb AS (
            SELECT DISTINCT band, band_hash FROM tagged
            WHERE NOT is_val),
        leaked AS (
            SELECT count(DISTINCT t.doc_id) AS leaked_ct
            FROM tagged t
            SEMI JOIN tb ON t.band = tb.band
                        AND t.band_hash = tb.band_hash
            WHERE t.is_val),
        vc AS (
            SELECT count(*) AS val_ct FROM documents
            WHERE doc_id IS NOT NULL
              AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                      IN ('0', '1'))
        SELECT val_ct, leaked_ct,
               leaked_ct * 1000 // greatest(val_ct, 1) AS leak_permille
        FROM vc, leaked
    """,
    "minhash_jaccard_pairs": f"""
        WITH {_BANDS},
        -- per-band candidate cap mirrored from the Spark side: each
        -- doc pairs with its 4 immediate doc_id successors inside the
        -- bucket (lead window), so a bucket of m duplicates emits
        -- m*4 pairs, never m^2/2
        led AS (
            SELECT doc_id AS doc_a,
                   [lead(doc_id, 1) OVER w, lead(doc_id, 2) OVER w,
                    lead(doc_id, 3) OVER w, lead(doc_id, 4) OVER w]
                   AS succ
            FROM bands
            WINDOW w AS (PARTITION BY band, band_hash ORDER BY doc_id)
        ),
        pairs AS (
            SELECT DISTINCT doc_a, t.doc_b
            FROM led, unnest(succ) AS t(doc_b)
            WHERE t.doc_b IS NOT NULL
        )
        SELECT doc_a, doc_b,
               CAST({_MINHASH_MATCH} AS BIGINT) AS matching_components,
               CAST({_MINHASH_MATCH} AS DOUBLE) / {_N_MINHASH}.0 AS est_jaccard
        FROM pairs
        JOIN sig a ON pairs.doc_a = a.doc_id
        JOIN sig b ON pairs.doc_b = b.doc_id
    """,
    "dedup_threshold_calibration": f"""
        WITH {_BANDS},
        led AS (
            SELECT doc_id AS doc_a,
                   [lead(doc_id, 1) OVER w, lead(doc_id, 2) OVER w,
                    lead(doc_id, 3) OVER w, lead(doc_id, 4) OVER w]
                   AS succ
            FROM bands
            WINDOW w AS (PARTITION BY band, band_hash ORDER BY doc_id)
        ),
        pairs AS (
            SELECT DISTINCT doc_a, t.doc_b
            FROM led, unnest(succ) AS t(doc_b)
            WHERE t.doc_b IS NOT NULL
        ),
        scored AS (
            SELECT CAST({_MINHASH_MATCH} AS BIGINT) AS matching_components
            FROM pairs
            JOIN sig a ON pairs.doc_a = a.doc_id
            JOIN sig b ON pairs.doc_b = b.doc_id
        )
        SELECT matching_components,
               CAST(matching_components AS DOUBLE) / {_N_MINHASH}.0 AS est_jaccard,
               count(*) AS pair_ct
        FROM scored
        GROUP BY matching_components
    """,
    "near_dup_rate_by_source": f"""
        WITH {_BANDS},
        buckets AS (
            SELECT band, band_hash, min(doc_id) AS first_doc
            FROM bands GROUP BY band, band_hash),
        coll AS (
            SELECT b.doc_id, min(k.first_doc) AS earliest_prior
            FROM bands b
            JOIN buckets k ON b.band = k.band AND b.band_hash = k.band_hash
            WHERE k.first_doc < b.doc_id
            GROUP BY b.doc_id)
        SELECT d.source,
               count(*) AS doc_ct,
               CAST(count(c.earliest_prior) AS BIGINT) AS dup_ct,
               (1000 * count(c.earliest_prior)) // greatest(count(*), 1)
                   AS dup_permille
        FROM documents d LEFT JOIN coll c ON d.doc_id = c.doc_id
        WHERE d.doc_id IS NOT NULL
        GROUP BY d.source
    """,
    "ngram_jaccard_pairs": f"""
        WITH {_SHINGLES},
        docs AS (
            SELECT doc_id, list_distinct(sh) AS sh FROM shing
            WHERE len(sh) > 0
        ),
        sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
        inv0 AS (
            SELECT doc_id, s.shingle AS s
            FROM docs, unnest(sh) AS s(shingle)
        ),
        -- scale guards mirrored from the Spark side: df > 1000
        -- shingles dropped, then each doc keeps only its 32 rarest
        -- shingles (df asc, shingle asc — the same total order both
        -- engines compute on the raw string)
        invd AS (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df
            FROM inv0
        ),
        inv AS (
            SELECT doc_id, substr(md5(s), 1, 16) AS shingle FROM (
                SELECT doc_id, s,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY df, s) AS rk
                FROM invd WHERE df <= 1000
            ) WHERE rk <= 32
        ),
        common AS (
            SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
                   count(*) AS common_sh
            FROM inv l JOIN inv r
              ON l.shingle = r.shingle AND l.doc_id < r.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, CAST(common_sh AS BIGINT) AS common_sh,
               CAST(common_sh AS DOUBLE)
                   / CAST(a.n_sh + b.n_sh - common_sh AS DOUBLE) AS jaccard
        FROM common
        JOIN sizes a ON common.doc_a = a.doc_id
        JOIN sizes b ON common.doc_b = b.doc_id
        ORDER BY jaccard DESC, doc_a, doc_b
        LIMIT 50
    """,
    "cross_source_dup_matrix": f"""
        WITH {_BANDS},
        hashed AS (
            SELECT DISTINCT md5(array_to_string(tok, ' ')) AS h, source
            FROM toks WHERE len(tok) > 0
        ),
        exact AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS exact_dup_groups
            FROM hashed a JOIN hashed b USING (h)
            WHERE a.source < b.source
            GROUP BY 1, 2
        ),
        led AS (
            SELECT doc_id AS doc_a,
                   [lead(doc_id, 1) OVER w, lead(doc_id, 2) OVER w,
                    lead(doc_id, 3) OVER w, lead(doc_id, 4) OVER w]
                   AS succ
            FROM bands
            WINDOW w AS (PARTITION BY band, band_hash ORDER BY doc_id)
        ),
        cand AS (
            SELECT DISTINCT doc_a, t.doc_b
            FROM led, unnest(succ) AS t(doc_b)
            WHERE t.doc_b IS NOT NULL
        ),
        near AS (
            SELECT least(sa.source, sb.source) AS source_a,
                   greatest(sa.source, sb.source) AS source_b,
                   count(*) AS neardup_pairs
            FROM cand p
            JOIN documents sa ON p.doc_a = sa.doc_id AND sa.doc_id IS NOT NULL
            JOIN documents sb ON p.doc_b = sb.doc_id AND sb.doc_id IS NOT NULL
            WHERE sa.source != sb.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b,
               CAST(coalesce(exact_dup_groups, 0) AS BIGINT)
                   AS exact_dup_groups,
               CAST(coalesce(neardup_pairs, 0) AS BIGINT)
                   AS neardup_pairs
        FROM exact FULL JOIN near USING (source_a, source_b)
    """,
    "simhash_signatures": f"""
        WITH {_TOKS},
        tk AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        h AS (SELECT doc_id, substr(md5(t), 1, 15) AS h FROM tk),
        v AS (
            SELECT doc_id,
{_SIMHASH_SUMS}
            FROM h GROUP BY doc_id
        )
        SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash FROM v
    """,
    "dup_clusters": f"""
        WITH RECURSIVE {_BANDS},
        pairs AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
            WHERE l.doc_id < r.doc_id),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION ALL
                  SELECT doc_b, doc_a FROM pairs),
        walk(a, b) AS (
            SELECT s, d FROM edges
            UNION
            SELECT w.a, e.d FROM walk w JOIN edges e ON w.b = e.s),
        labels AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM walk GROUP BY a)
        SELECT cluster_id, doc_id, cluster_sz
        FROM labels
        JOIN (SELECT cluster_id, count(*) AS cluster_sz
              FROM labels GROUP BY cluster_id) sz USING (cluster_id)
    """,
    "dedup_keep_best": f"""
        WITH RECURSIVE {_BANDS},
        pairs AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
            WHERE l.doc_id < r.doc_id),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION ALL
                  SELECT doc_b, doc_a FROM pairs),
        walk(a, b) AS (
            SELECT s, d FROM edges
            UNION
            SELECT w.a, e.d FROM walk w JOIN edges e ON w.b = e.s),
        labels AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM walk GROUP BY a)
        SELECT cluster_id, l.doc_id AS doc_id,
               CAST(len(tok) AS INT) AS n_tokens,
               CAST(CASE WHEN row_number() OVER (
                        PARTITION BY cluster_id
                        ORDER BY len(tok) DESC, l.doc_id) = 1
                    THEN 1 ELSE 0 END AS INT) AS keep
        FROM labels l JOIN toks t ON l.doc_id = t.doc_id
    """,
    "dedup_summary": f"""
        WITH RECURSIVE {_BANDS},
        pairs AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
            WHERE l.doc_id < r.doc_id),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION ALL
                  SELECT doc_b, doc_a FROM pairs),
        walk(a, b) AS (
            SELECT s, d FROM edges
            UNION
            SELECT w.a, e.d FROM walk w JOIN edges e ON w.b = e.s),
        labels AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM walk GROUP BY a),
        drops AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
        SELECT source, count(*) AS doc_ct,
               CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS dropped_ct,
               CAST(count(*)
                    - sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS kept_ct
        FROM documents LEFT JOIN drops dr USING (doc_id)
        WHERE doc_id IS NOT NULL
        GROUP BY source
    """,
    "simhash_band_pairs": f"""
        WITH {_TOKS},
        tk AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        h AS (SELECT doc_id, substr(md5(t), 1, 15) AS h FROM tk),
        v AS (
            SELECT doc_id,
{_SIMHASH_SUMS}
            FROM h GROUP BY doc_id
        ),
        s AS (SELECT doc_id,
                     CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash FROM v),
        b AS (
            SELECT doc_id, simhash,
                   unnest([0, 1, 2, 3]) AS band,
                   unnest([{_SIMHASH_BAND_MASKS}]) AS band_key
            FROM s
        ),
        p AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                   l.simhash AS sa, r.simhash AS sb
            FROM b l JOIN b r USING (band, band_key)
            WHERE l.doc_id < r.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM p
        WHERE bit_count(xor(sa, sb)) <= 3
    """,
    "segment_dedup": "WITH " + _TOKS.lstrip() + """,
        starts AS (
            SELECT doc_id, tok,
                   unnest(range(0, greatest(len(tok) - 1, 0) + 1, 25)) AS i
            FROM toks),
        segs AS (
            SELECT doc_id,
                   CAST(1 + greatest(len(tok) - 1, 0) // 25 AS BIGINT)
                       AS n_segs,
                   CAST(i // 25 AS BIGINT) AS seg_idx,
                   coalesce(array_to_string(tok[i + 1 : i + 25], ' '),
                            '') AS seg
            FROM starts),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY md5(seg)
                                         ORDER BY doc_id, seg_idx) AS rn
            FROM segs)
        SELECT doc_id,
               max(n_segs) AS n_segs,
               count(*) AS n_kept,
               md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS dedup_fp
        FROM ranked WHERE rn = 1
        GROUP BY doc_id
    """,
    "editdist_verified_pairs": f"""
        WITH {_BANDS},
        -- per-band candidate cap mirrored from the Spark side (same
        -- rule as minhash_jaccard_pairs): each doc pairs with its 4
        -- immediate doc_id successors inside the bucket
        led AS (
            SELECT doc_id AS doc_a,
                   [lead(doc_id, 1) OVER w, lead(doc_id, 2) OVER w,
                    lead(doc_id, 3) OVER w, lead(doc_id, 4) OVER w]
                   AS succ
            FROM bands
            WINDOW w AS (PARTITION BY band, band_hash ORDER BY doc_id)
        ),
        pairs AS (
            SELECT DISTINCT doc_a, t.doc_b
            FROM led, unnest(succ) AS t(doc_b)
            WHERE t.doc_b IS NOT NULL
        ),
        norm AS (SELECT doc_id,
                        coalesce(array_to_string(tok, ' '), '') AS t
                 FROM toks)
        -- DuckDB levenshtein is BYTE-based; strlen = byte length
        -- (the Spark side reads the text through the latin-1
        -- byte<->char bijection so its char DP equals this byte DP)
        SELECT doc_a, doc_b,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
               CAST(levenshtein(a.t, b.t) AS DOUBLE)
                   / greatest(strlen(a.t), strlen(b.t), 1) AS rel_dist
        FROM pairs
        JOIN norm a ON pairs.doc_a = a.doc_id
        JOIN norm b ON pairs.doc_b = b.doc_id
        WHERE CAST(levenshtein(a.t, b.t) AS DOUBLE)
                  / greatest(strlen(a.t), strlen(b.t), 1) <= 0.4
    """,

    # substring-level dedup: strided 64-char windows every 16 chars;
    # md5 is bit-identical across engines, substr/substring are both
    # 1-based character-addressed
    "duplicate_spans": """
        WITH spans AS (
            SELECT doc_id,
                   md5(substr(text, CAST(p AS INT), 64)) AS h
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, CAST(n_chars AS INT) - 63,
                                              16)) AS p
                FROM documents WHERE doc_id IS NOT NULL AND n_chars >= 64
            )
        ),
        duph AS (
            SELECT h FROM spans GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT s.doc_id,
               count(*) AS total_spans,
               CAST(sum(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS dup_spans
        FROM spans s LEFT JOIN duph d USING (h)
        GROUP BY s.doc_id
        HAVING CAST(sum(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) > 0
    """,
}


ORACLES["incremental_dedup"] = f"""
    WITH {_BANDS},
    fp AS (
        SELECT doc_id, md5(coalesce(array_to_string(tok, ' '), '')) AS fp
        FROM toks
    ),
    bat AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 = 7),
    snp AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 <> 7),
    ex AS (
        SELECT bf.doc_id, min(sf.doc_id) AS exact_id
        FROM fp bf
        JOIN bat ON bat.doc_id = bf.doc_id
        JOIN fp sf ON sf.fp = bf.fp
        JOIN snp ON snp.doc_id = sf.doc_id
        GROUP BY bf.doc_id
    ),
    nr AS (
        SELECT bb.doc_id, min(sb.doc_id) AS near_id
        FROM bands bb
        JOIN bat ON bat.doc_id = bb.doc_id
        JOIN bands sb ON sb.band = bb.band
                     AND sb.band_hash = bb.band_hash
        JOIN snp ON snp.doc_id = sb.doc_id
        GROUP BY bb.doc_id
    ),
    dec AS (
        SELECT bat.doc_id,
               CASE WHEN ex.exact_id IS NOT NULL THEN 'exact_dup'
                    WHEN nr.near_id IS NOT NULL THEN 'near_dup'
                    ELSE 'novel' END AS verdict,
               coalesce(ex.exact_id, nr.near_id) AS matched_id
        FROM bat
        LEFT JOIN ex ON ex.doc_id = bat.doc_id
        LEFT JOIN nr ON nr.doc_id = bat.doc_id
    )
    SELECT d.doc_id, d.verdict, d.matched_id,
           CASE WHEN d.matched_id IS NULL THEN NULL
                ELSE CAST({_MINHASH_MATCH} AS BIGINT) END AS sig_agree
    FROM dec d
    LEFT JOIN sig a ON a.doc_id = d.doc_id
    LEFT JOIN sig b ON b.doc_id = d.matched_id
"""
