"""Driver-contract registry, part 2: layout, retrieval, and
distribution-QC extension operators (round 3 additions).

Same contract as registry.py: name → (spark_fn, oracle_sql), every oracle
an exact ANSI/DuckDB twin of the Spark expression — including the Bloom
filter and Morton interleave, which are replayed bit-for-bit in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cut, load_table
from . import inference, layout, sampling, stats, text
from .registry import (
    DEDUP_CLUSTERS_DOCS_SQL,
    _SQL_COV_CTES,
    _SQL_HASH60,
    _SQL_QUALITY_KEEP,
    _SQL_QUALITY_STATS,
    _SQL_TOKENS,
    _sql_adc_topk,
    _sql_ivf_lists,
    _sql_pq_dist,
    _sql_pq_training_ctes,
    _sql_winnow_fp,
)

# --------------------------------------------------------------------------
# BM25 retrieval
# --------------------------------------------------------------------------
_BM25_TERMS = ["hash", "join", "window"]
_BM25_K = 10
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the query {hash, join, window} — see
    text.bm25_topk for the scale/parity design."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    ).withColumnRenamed("id", "doc_id")


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(set(_BM25_TERMS)))
    # Constants interpolated from the SAME Python doubles the Spark side
    # folds in (repr() round-trips exactly), so both engines share every
    # literal bit-for-bit.
    k1 = repr(float(_BM25_K1))
    k1p1 = repr(float(_BM25_K1) + 1.0)
    b = repr(float(_BM25_B))
    one_minus_b = repr(1.0 - float(_BM25_B))
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS toks FROM documents
), st AS (
  SELECT count(*)::DOUBLE AS n, sum(len(toks))::DOUBLE AS sum_dl FROM base
), hits AS (
  SELECT doc_id, unnest(toks) AS term, len(toks) AS dl FROM base
), tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM hits WHERE term IN ({terms}) GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         floor(
           ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * (tf.tf * {k1p1}::DOUBLE)
           / (tf.tf + {k1}::DOUBLE
              * ({one_minus_b}::DOUBLE
                 + {b}::DOUBLE * tf.dl::DOUBLE / (st.sum_dl / st.n)))
           * 1e6 + 0.5
         )::BIGINT AS c_micro
  FROM tf JOIN dfreq USING (term), st
)
SELECT doc_id, sum(c_micro)::BIGINT AS score_micro,
       count(*)::BIGINT AS n_terms_hit
FROM scored GROUP BY 1
ORDER BY score_micro DESC, doc_id ASC LIMIT {_BM25_K}
"""


BM25_TOPK_DOCS_SQL = _bm25_oracle()


# --------------------------------------------------------------------------
# Z-order layout stats
# --------------------------------------------------------------------------
_Z_BUCKET_BITS = 6


def _zorder_bounds(ev: DataFrame):
    """One row: the (user_id, value) normalization bounds xlo/xhi/ylo/yhi."""
    return ev.select(
        F.min("user_id").alias("xlo"),
        F.max("user_id").alias("xhi"),
        F.min("value").alias("ylo"),
        F.max("value").alias("yhi"),
    ).first()


def zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket min/max envelopes of a Z-ordered (user_id, value) layout
    of events — the file-skipping index an OPTIMIZE ZORDER writer emits.
    Normalization bounds are the table's min/max (4-value driver metadata,
    like tfidf's N literal)."""
    ev = load_table(spark, sf_dir, "events")
    r = _zorder_bounds(ev)
    return layout.zorder_bucket_stats(
        ev,
        "user_id",
        "value",
        (float(r["xlo"]), float(r["xhi"])),
        (float(r["ylo"]), float(r["yhi"])),
        bucket_bits=_Z_BUCKET_BITS,
    ).orderBy("bucket")


def _zorder_oracle() -> str:
    gb = layout.GRID_BITS
    gmax = (1 << gb) - 1
    # Morton interleave written out as the same OR-of-shifts the Spark
    # expression builds (x even bits, y odd bits).
    parts = []
    for i in range(gb):
        parts.append(f"(((gx >> {i}) & 1) << {2 * i})")
        parts.append(f"(((gy >> {i}) & 1) << {2 * i + 1})")
    morton = " | ".join(parts)
    shift = 2 * gb - _Z_BUCKET_BITS
    return f"""
WITH b AS (
  SELECT min(user_id)::DOUBLE AS xlo, max(user_id)::DOUBLE AS xhi,
         min(value)::DOUBLE  AS ylo, max(value)::DOUBLE  AS yhi
  FROM events
), g AS (
  SELECT
    greatest(0, least({gmax},
      floor((user_id::DOUBLE - b.xlo) * ({gmax}.0::DOUBLE / (b.xhi - b.xlo)))::BIGINT)) AS gx,
    greatest(0, least({gmax},
      floor((value::DOUBLE - b.ylo) * ({gmax}.0::DOUBLE / (b.yhi - b.ylo)))::BIGINT)) AS gy
  FROM events, b
), z AS (
  SELECT gx, gy, ({morton}) AS z FROM g
)
SELECT (z >> {shift})::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
       min(gx)::BIGINT AS gx_min, max(gx)::BIGINT AS gx_max,
       min(gy)::BIGINT AS gy_min, max(gy)::BIGINT AS gy_max
FROM z GROUP BY 1
"""


ZORDER_LAYOUT_EVENTS_SQL = _zorder_oracle()


def zorder_prune_demo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END proof of the Z-order claim, oracle-paired: write events
    twice — once Z-ordered on (user_id, value) via layout.zorder_write,
    once round-robin (the unclustered control) — then, for a selective
    ~2%-span predicate on EACH dimension, count the parquet row groups
    whose footer min/max envelope intersects it
    (layout.parquet_rowgroups_overlapping — exactly the units a
    stats-pruning reader scans).

    Output: one row per dimension with the SQL-expressible band
    selectivity (rows inside the band / total rows — the oracle recomputes
    both from the events table with the identical IEEE arithmetic) plus a
    ``zorder_prunes_vs_control`` boolean that the oracle pins to TRUE: the
    Z-ordered layout must intersect strictly fewer row groups than the
    round-robin control. A broken morton key, a lost clustered write, or
    footer stats that stop pruning flip the boolean and go red on the
    driver. The raw hit/total counts stay asserted hard in
    tests/test_layout_stats.py (gh <= gt//2 on a deterministic grid).
    """
    import shutil
    from . import stores

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    r = _zorder_bounds(ev)
    xlo, xhi = float(r["xlo"]), float(r["xhi"])
    ylo, yhi = float(r["ylo"]), float(r["yhi"])
    # middle ~2%-span predicate per dimension (same op order as the oracle
    # SQL so the double arithmetic is bitwise identical)
    xmid, xspan = (xlo + xhi) / 2.0, (xhi - xlo) * 0.01
    ymid, yspan = (ylo + yhi) / 2.0, (yhi - ylo) * 0.01
    preds = {"user_id": (xmid - xspan, xmid + xspan), "value": (ymid - yspan, ymid + yspan)}

    # r14 (guide §1.2): the total count and the two per-dimension band
    # counts used to be three separate driver count() actions; one agg
    # pass computes all three (sum-of-when band counts are the same
    # double comparisons the filters ran — values unchanged).
    crow = ev.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(dim) >= F.lit(lo)) & (F.col(dim) <= F.lit(hi)), 1
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"band_{dim}")
            for dim, (lo, hi) in preds.items()
        ],
    ).first()
    n_total = crow["n_total"]
    base = stores.scratch_dir("zorder_demo_")
    rows = []
    try:
        zdir, cdir = os.path.join(base, "z"), os.path.join(base, "ctl")
        layout.zorder_write(
            ev, "user_id", "value", (xlo, xhi), (ylo, yhi), zdir, n_files=64
        )
        ev.repartition(64).write.mode("overwrite").parquet(cdir)
        for dim, (lo, hi) in preds.items():
            n_band = crow[f"band_{dim}"]
            _, _, gh, _ = layout.parquet_rowgroups_overlapping(zdir, dim, lo, hi)
            _, _, cgh, _ = layout.parquet_rowgroups_overlapping(cdir, dim, lo, hi)
            rows.append((dim, n_band, n_total, bool(gh < cgh)))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "dim string, n_rows_in_band long, n_rows_total long, "
        "zorder_prunes_vs_control boolean",
    ).orderBy("dim")


ZORDER_PRUNE_DEMO_EVENTS_SQL = """
WITH b AS (
  SELECT min(user_id)::DOUBLE AS xlo, max(user_id)::DOUBLE AS xhi,
         min(value)::DOUBLE AS ylo, max(value)::DOUBLE AS yhi
  FROM events
)
SELECT 'user_id' AS dim,
       (SELECT count(*) FROM events, b
        WHERE user_id::DOUBLE >= (xlo + xhi) / 2.0 - (xhi - xlo) * 0.01
          AND user_id::DOUBLE <= (xlo + xhi) / 2.0 + (xhi - xlo) * 0.01
       )::BIGINT AS n_rows_in_band,
       (SELECT count(*) FROM events)::BIGINT AS n_rows_total,
       TRUE AS zorder_prunes_vs_control
UNION ALL
SELECT 'value',
       (SELECT count(*) FROM events, b
        WHERE value::DOUBLE >= (ylo + yhi) / 2.0 - (yhi - ylo) * 0.01
          AND value::DOUBLE <= (ylo + yhi) / 2.0 + (yhi - ylo) * 0.01
       )::BIGINT,
       (SELECT count(*) FROM events)::BIGINT,
       TRUE
ORDER BY dim
"""


# --------------------------------------------------------------------------
# Bloom-filter join pruning
# --------------------------------------------------------------------------
_BLOOM_M = 256
_BLOOM_K = 3
_BLOOM_ACCTBAL = 7000.0


def bloom_prune_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prune events against rich customers (c_acctbal > 7000), then
    verify with the real join: one summary row
    (n_probe, n_pass_bloom, n_true_match, n_false_pos).

    The bitmap is ≤256 bits of driver metadata broadcast into the probe
    scan (layout.bloom_bitmap); at 100 TB the pruned rows never reach the
    join exchange."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    build = cust.filter(F.col("c_acctbal") > F.lit(_BLOOM_ACCTBAL)).select(
        F.col("c_custkey").alias("k")
    )
    bitmap = layout.bloom_bitmap(build, "k", _BLOOM_M, _BLOOM_K)
    passed = layout.bloom_prune_probe(ev, "user_id", bitmap, _BLOOM_M, _BLOOM_K)
    summary = (
        passed.join(build.distinct(), passed["user_id"] == F.col("k"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_pass_bloom"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias(
                "n_true_match"
            ),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_false_pos"),
        )
    )
    n_probe = ev.agg(F.count(F.lit(1)).alias("n_probe"))
    return n_probe.crossJoin(summary).select(
        "n_probe", "n_pass_bloom", "n_true_match", "n_false_pos"
    )


def _bloom_hash_sql(j: int, key: str) -> str:
    return (
        f"(('0x' || substr(md5('bloom{j}:' || ({key})::VARCHAR), 1, 15))::BIGINT"
        f" % {_BLOOM_M})"
    )


def _bloom_oracle() -> str:
    build_pos = " UNION ".join(
        f"SELECT {_bloom_hash_sql(j, 'k')} AS pos FROM build"
        for j in range(_BLOOM_K)
    )
    probe_checks = " AND ".join(
        f"{_bloom_hash_sql(j, 'user_id')} IN (SELECT pos FROM pos)"
        for j in range(_BLOOM_K)
    )
    return f"""
WITH build AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > {_BLOOM_ACCTBAL!r}
), pos AS (
  {build_pos}
), pass AS (
  SELECT user_id FROM events WHERE {probe_checks}
)
SELECT (SELECT count(*) FROM events)::BIGINT AS n_probe,
       count(*)::BIGINT AS n_pass_bloom,
       sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_true_match,
       sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_false_pos
FROM pass LEFT JOIN build b ON pass.user_id = b.k
"""


BLOOM_PRUNE_JOIN_EVENTS_SQL = _bloom_oracle()


# --------------------------------------------------------------------------
# Per-user anomaly z-scores
# --------------------------------------------------------------------------
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is >2 population std-devs from their user's
    mean — see stats.zscore_outliers for the integer-exact parity design."""
    ev = load_table(spark, sf_dir, "events")
    return stats.zscore_outliers(
        ev, "user_id", "event_id", "value", threshold=2.0
    ).orderBy("id")


ANOMALY_ZSCORE_EVENTS_SQL = """
WITH r AS (
  SELECT event_id AS id, user_id AS key,
         floor(value * 1e6 + 0.5)::BIGINT AS vm
  FROM events
), st AS (
  SELECT key, count(*) AS n, sum(vm) AS s1,
         sum((vm * vm)::DECIMAL(38,0)) AS s2
  FROM r GROUP BY 1
)
SELECT id, key, vm AS value_micro,
       floor(((vm::DOUBLE - s1::DOUBLE / n::DOUBLE)
              / sqrt(greatest(s2::DOUBLE / n::DOUBLE
                              - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE),
                              0.0)))
             * 1000.0 + 0.5)::BIGINT AS z_milli
FROM r JOIN st USING (key)
WHERE n > 1
  AND sqrt(greatest(s2::DOUBLE / n::DOUBLE
                    - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE),
                    0.0)) > 0.0
  AND abs((vm::DOUBLE - s1::DOUBLE / n::DOUBLE)
          / sqrt(greatest(s2::DOUBLE / n::DOUBLE
                          - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE),
                          0.0))) > 2.0
"""


# --------------------------------------------------------------------------
# Classifier scoring + curriculum binning
# --------------------------------------------------------------------------
def classifier_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-tier quality-classifier scores per document (the logistic
    length prior — see inference.classifier_scores; real models ride the
    injectable mapInPandas tier)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        inference.classifier_scores(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


_SCORE_SQL = (
    "floor(1.0 / (1.0 + exp(-(0.9::DOUBLE * ln(1.0 + len({toks})::DOUBLE)"
    " + -3.0::DOUBLE))) * 1e6 + 0.5)::BIGINT"
).format(toks=_SQL_TOKENS.format(c="text"))

CLASSIFIER_SCORE_DOCS_SQL = f"""
SELECT doc_id, {_SCORE_SQL} AS score_micro FROM documents
"""


def curriculum_bins_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quartile curriculum table over classifier scores — see
    inference.curriculum_bins (ntile with id tie-break; cuts-based scale
    path covered in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = inference.classifier_scores(docs, "doc_id", "text")
    return inference.curriculum_bins(scored, n_bins=4).orderBy("bin")


CURRICULUM_BINS_DOCS_SQL = f"""
WITH scored AS (
  SELECT doc_id AS id, {_SCORE_SQL} AS score_micro FROM documents
), b AS (
  SELECT score_micro,
         ntile(4) OVER (ORDER BY score_micro ASC, id ASC) AS bin
  FROM scored
)
SELECT bin::INTEGER AS bin, count(*)::BIGINT AS n_docs,
       min(score_micro)::BIGINT AS score_micro_min,
       max(score_micro)::BIGINT AS score_micro_max
FROM b GROUP BY 1
"""


# --------------------------------------------------------------------------
# ExactSubstr dedup (Lee et al. 2021) — duplicated-span removal
# --------------------------------------------------------------------------
_SUBSTR_K = 8


def dedup_substring_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated 8-token-span removal (text.dedup_substring_spans);
    emits md5 of the rebuilt text so the compare rows stay small."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.dedup_substring_spans(docs, "doc_id", "text", k=_SUBSTR_K)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_dedup")).alias("dedup_md5"),
    ).orderBy("doc_id")


DEDUP_SUBSTRING_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id AS id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents
), base1 AS (
  SELECT id, toks FROM base WHERE len(toks) > 0
), spans AS (
  SELECT id,
         unnest(list_transform(
           generate_series(1, greatest(len(toks) - {_SUBSTR_K} + 1, 0)),
           i -> struct_pack(s := i - 1,
                            hx := md5(array_to_string(toks[i:i+{_SUBSTR_K}-1], ' ')))
         )) AS sp
  FROM base1 WHERE len(toks) >= {_SUBSTR_K}
), sp2 AS (
  SELECT id, sp.s AS s, sp.hx AS hx FROM spans
), marked AS (
  SELECT id, s, row_number() OVER (PARTITION BY hx ORDER BY id, s) AS rn FROM sp2
), rem AS (
  SELECT id, s, s + {_SUBSTR_K - 1} AS e FROM marked WHERE rn > 1
), isl AS (
  SELECT id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR s > max(e) OVER (PARTITION BY id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS flag
  FROM rem
), isl2 AS (
  SELECT id, s, e,
         sum(flag) OVER (PARTITION BY id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), merged AS (
  SELECT id, island, min(s) AS ms, max(e) AS me FROM isl2 GROUP BY 1, 2
), covered AS (
  SELECT DISTINCT id, unnest(generate_series(ms, me)) AS pos FROM merged
), toks_pos AS (
  SELECT id, unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) - 1 AS pos
  FROM base1
), kept AS (
  SELECT tp.id, tp.tok, tp.pos, c.pos IS NULL AS keep
  FROM toks_pos tp LEFT JOIN covered c ON tp.id = c.id AND tp.pos = c.pos
)
SELECT id AS doc_id, count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_removed,
       md5(coalesce(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY pos),
                    '')) AS dedup_md5
FROM kept GROUP BY id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Tokenizer induction + batch planning
# --------------------------------------------------------------------------
def bpe_merge_candidates_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-char-pair counts over the corpus vocabulary (one
    BPE merge round's counting step — see text.bpe_merge_candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_merge_candidates(docs, "text", top_n=20)


BPE_MERGE_CANDIDATES_CORPUS_SQL = f"""
WITH words AS (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest({_SQL_TOKENS.format(c='text')}) AS w FROM documents
  ) GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, i, 2))) AS pair,
         wc
  FROM words WHERE length(w) >= 2
)
SELECT pair, sum(wc)::BIGINT AS n_pairs
FROM pairs GROUP BY pair
ORDER BY n_pairs DESC, pair ASC LIMIT 20
"""


def batch_by_length_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch plan for documents (bucket width 32 tokens,
    batch size 16) with per-batch padding waste — see
    sampling.batch_by_length."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions import tokens as tok_fn

    return sampling.batch_by_length(
        docs, "doc_id", F.size(tok_fn(F.col("text"))), bucket_width=32, batch_size=16
    ).orderBy("bucket", "batch_idx")


BATCH_BY_LENGTH_DOCS_SQL = f"""
WITH rows_ AS (
  SELECT doc_id AS id, len({_SQL_TOKENS.format(c='text')})::BIGINT AS nt
  FROM documents
), b AS (
  SELECT id, nt, nt // 32 AS bucket FROM rows_
), r AS (
  SELECT bucket, nt,
         floor((row_number() OVER (PARTITION BY bucket
                                   ORDER BY nt DESC, id ASC) - 1) / 16.0)::BIGINT
           AS batch_idx
  FROM b
)
SELECT bucket, batch_idx, count(*)::BIGINT AS n_docs,
       max(nt)::BIGINT AS max_tokens, sum(nt)::BIGINT AS sum_tokens,
       (count(*) * max(nt) - sum(nt))::BIGINT AS padding_waste
FROM r GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# End-to-end LLM training-data pipeline (the showcase composition)
# --------------------------------------------------------------------------
_PIPE_SCORE_MIN = 600000  # classifier gate: score_micro ≥ 0.60


def llm_data_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline as ONE composed query:
    C4/Gopher quality gate → corpus exact-dedup (min-id winner) →
    quality-classifier gate (≥0.70) → 256-token sequence packing per
    source shard → per-sequence summary.

    Every stage is the SAME library operator exposed individually
    (text.quality_flags, dedup winner agg, inference.classifier_scores,
    text.pack_sequences) — this query pins that they compose. Stage gates
    rejoin by 8-byte doc_id (semi-join shape; AQE broadcasts the surviving
    id list when small). In production each stage's output is a
    materialized table between jobs; the lazy chain here exercises the
    same plan end to end. Output: (shard, seq_id, n_docs, sum_tokens).
    """
    docs = load_table(spark, sf_dir, "documents")
    keep_ids = (
        text.quality_flags(docs, "doc_id", "text")
        .filter(F.col("keep"))
        .select("doc_id")
    )
    # r14: eager cuts at each stage's surviving frame — the docstring's
    # "materialized table between jobs" production shape, now mirrored in
    # the lazy chain: without them every downstream gate re-ran the whole
    # upstream pipeline per branch (8 documents scans in one plan)
    d1 = cut(docs.join(keep_ids, "doc_id"))
    winners = d1.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    d2 = cut(d1.join(winners.select("doc_id"), "doc_id"))
    score_ids = (
        inference.classifier_scores(d2, "doc_id", "text")
        .filter(F.col("score_micro") >= F.lit(_PIPE_SCORE_MIN))
        .select(F.col("id").alias("doc_id"))
    )
    d3 = d2.join(score_ids, "doc_id")
    packed = text.pack_sequences(d3, "doc_id", "text", target=256)
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("shard", "seq_id")
    )


def _llm_pipeline_oracle() -> str:
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH m AS (
  SELECT doc_id,
         {_SQL_QUALITY_STATS}
  FROM (SELECT doc_id, text, {toks} AS toks FROM documents)
), keepers AS (
  SELECT doc_id FROM m WHERE {_SQL_QUALITY_KEEP}
), d1 AS (
  SELECT d.doc_id, d.text, d.source FROM documents d
  JOIN keepers USING (doc_id)
), win AS (
  SELECT min(doc_id) AS doc_id FROM d1 GROUP BY md5(text)
), d2 AS (
  SELECT d1.* FROM d1 JOIN win USING (doc_id)
), sc AS (
  SELECT doc_id FROM d2 WHERE {_SCORE_SQL} >= {_PIPE_SCORE_MIN}
), d3 AS (
  SELECT d2.* FROM d2 JOIN sc USING (doc_id)
), t AS (
  SELECT source AS shard, doc_id, len({toks}) AS n_tokens FROM d3
), c AS (
  SELECT shard, doc_id, n_tokens::BIGINT AS n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) - n_tokens)::BIGINT AS start
  FROM t WHERE n_tokens > 0
)
SELECT shard, (start // 256)::BIGINT AS seq_id,
       count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
FROM c GROUP BY 1, 2 ORDER BY shard, seq_id
"""


LLM_DATA_PIPELINE_DOCS_SQL = _llm_pipeline_oracle()


QUERIES: dict = {
    "llm_data_pipeline_docs": (llm_data_pipeline_docs, LLM_DATA_PIPELINE_DOCS_SQL),
    "bpe_merge_candidates_corpus": (
        bpe_merge_candidates_corpus,
        BPE_MERGE_CANDIDATES_CORPUS_SQL,
    ),
    "batch_by_length_docs": (batch_by_length_docs, BATCH_BY_LENGTH_DOCS_SQL),
    "bm25_topk_docs": (bm25_topk_docs, BM25_TOPK_DOCS_SQL),
    "dedup_substring_docs": (dedup_substring_docs, DEDUP_SUBSTRING_DOCS_SQL),
    "classifier_score_docs": (classifier_score_docs, CLASSIFIER_SCORE_DOCS_SQL),
    "curriculum_bins_docs": (curriculum_bins_docs, CURRICULUM_BINS_DOCS_SQL),
    "zorder_layout_events": (zorder_layout_events, ZORDER_LAYOUT_EVENTS_SQL),
    # rows-only: file layout / parquet footer stats aren't SQL-expressible;
    # tests/test_layout_stats.py asserts the pruning inequality hard
    "zorder_prune_demo_events": (
        zorder_prune_demo_events,
        ZORDER_PRUNE_DEMO_EVENTS_SQL,
    ),
    "bloom_prune_join_events": (
        bloom_prune_join_events,
        BLOOM_PRUNE_JOIN_EVENTS_SQL,
    ),
    "anomaly_zscore_events": (anomaly_zscore_events, ANOMALY_ZSCORE_EVENTS_SQL),
}


# --------------------------------------------------------------------------
# LSH recall metric (validation anchor for dedup_embedding_pairs)
# --------------------------------------------------------------------------
def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded-LSH near-dup pairs against the exact
    brute-force pair set, as a VALUE the driver checks: (n_lsh, n_exact,
    n_common, recall_bp). Approximate operators should report their
    approximation, not hide it — the companion dedup_embedding_pairs query
    is oracle-checked against the banding algorithm itself, and THIS query
    pins how far that sits from exact (10000 bp at sf0.01, 9913 bp at
    sf0.1). The exact side is O(n²) — a validation anchor, not a
    production path (excluded from bench)."""
    from . import dedup, similarity

    emb = load_table(spark, sf_dir, "embeddings")
    lsh = similarity.hyperplane_lsh_pairs(
        emb, id_col="vec_id", vec_col="embedding",
        bits=48, band_bits=3, threshold=0.4,
    ).select("id_a", "id_b")
    exact = dedup.embedding_near_dup(
        emb, "vec_id", "embedding", threshold=0.4
    ).select("id_a", "id_b")
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_common = lsh.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        n_lsh.crossJoin(n_exact)
        .crossJoin(n_common)
        .select(
            "n_lsh",
            "n_exact",
            "n_common",
            F.floor(
                F.col("n_common") * F.lit(10000.0)
                / F.greatest(F.col("n_exact"), F.lit(1))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("recall_bp"),
        )
    )


def _dedup_embedding_recall_oracle() -> str:
    from . import similarity as _sim

    planes = _sim._deterministic_hyperplanes(64, 48, seed=42)
    sig_terms = " + ".join(
        f"(CASE WHEN list_inner_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) > 0 "
        f"THEN {2**i}::BIGINT ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, v, {bi} AS band, (sig >> {bi * 3}) & 7 AS key FROM sigs"
        for bi in range(16)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id AS id, embedding AS v, {sig_terms} AS sig FROM embeddings
), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
), lsh AS (
  SELECT id_a, id_b FROM cand
  WHERE round(list_cosine_similarity(va::DOUBLE[], vb::DOUBLE[]), 6) >= 0.4
), exact AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 6) >= 0.4
)
SELECT (SELECT count(*) FROM lsh)::BIGINT AS n_lsh,
       (SELECT count(*) FROM exact)::BIGINT AS n_exact,
       (SELECT count(*) FROM lsh JOIN exact USING (id_a, id_b))::BIGINT
           AS n_common,
       floor((SELECT count(*) FROM lsh JOIN exact USING (id_a, id_b))::DOUBLE
             * 10000.0
             / greatest((SELECT count(*) FROM exact), 1) + 0.5)::BIGINT
           AS recall_bp
"""


DEDUP_EMBEDDING_RECALL_SQL = _dedup_embedding_recall_oracle()

QUERIES["dedup_embedding_recall"] = (
    dedup_embedding_recall,
    DEDUP_EMBEDDING_RECALL_SQL,
)


# --------------------------------------------------------------------------
# Corpus datasheet (dataset-card summary)
# --------------------------------------------------------------------------
def corpus_datasheet_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card for the documents corpus — the summary table a
    training-data release ships: volume (docs/tokens/chars), provenance
    breadth (sources, languages), language-distribution Shannon entropy,
    exact-duplicate rate, quality-gate pass rate, and mean classifier
    score.

    Scale shape: four independent one-row/narrow aggregates (volume scan;
    lang counts [#langs rows]; md5-distinct [16-byte keys]; quality+score
    flags fused into the volume scan) crossJoined at the end — every
    shuffle is a partial-agg'd scalar or a tiny key set.

    Value parity: entropy terms are micro-rounded PER LANGUAGE and summed
    as BIGINTs (repo rule #1 — a -Σ p·ln p double sum is accumulation-
    order-dependent; the per-term integer sum is not). Rates are basis
    points via floor(x·10000 + 0.5).
    """
    from ..functions import tokens as toks

    docs = load_table(spark, sf_dir, "documents")
    vol = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks(F.col("text")))).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
    )
    lang_n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ent = (
        lang_n.crossJoin(F.broadcast(total))
        .select(
            F.floor(-(p * F.log(p)) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("lang_entropy_micro"))
    )
    dup = (
        docs.select(F.md5("text").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.countDistinct("h").alias("nu"),
        )
        .select(
            F.floor(
                (F.col("nd") - F.col("nu")) * F.lit(10000.0)
                / F.col("nd")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dup_bp")
        )
    )
    gate = (
        text.quality_flags(docs, "doc_id", "text")
        .agg(
            F.count(F.lit(1)).alias("nq"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("nk"),
        )
        .select(
            F.floor(F.col("nk") * F.lit(10000.0) / F.col("nq") + F.lit(0.5))
            .cast("long")
            .alias("quality_pass_bp")
        )
    )
    score = (
        inference.classifier_scores(docs, "doc_id", "text")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum("score_micro").alias("ss"),
        )
        .select(
            F.floor(F.col("ss").cast("double") / F.col("ns") + F.lit(0.5))
            .cast("long")
            .alias("mean_score_micro")
        )
    )
    return (
        vol.crossJoin(ent).crossJoin(dup).crossJoin(gate).crossJoin(score)
    )


def _datasheet_oracle() -> str:
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH vol AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(len({toks}))::BIGINT AS n_tokens,
         sum(length(text))::BIGINT AS n_chars,
         count(DISTINCT source)::BIGINT AS n_sources,
         count(DISTINCT lang)::BIGINT AS n_langs
  FROM documents
), ent AS (
  SELECT sum(floor(-( (c::DOUBLE / n::DOUBLE)
                      * ln(c::DOUBLE / n::DOUBLE)) * 1e6 + 0.5)::BIGINT)::BIGINT
           AS lang_entropy_micro
  FROM (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
       (SELECT count(*) AS n FROM documents)
), dup AS (
  SELECT floor((count(*) - count(DISTINCT md5(text))) * 10000.0
               / count(*) + 0.5)::BIGINT AS dup_bp
  FROM documents
), m AS (
  SELECT {_SQL_QUALITY_STATS}
  FROM (SELECT text, {toks} AS toks FROM documents)
), gate AS (
  SELECT floor(sum(CASE WHEN {_SQL_QUALITY_KEEP} THEN 1 ELSE 0 END) * 10000.0
               / count(*) + 0.5)::BIGINT AS quality_pass_bp
  FROM m
), sc AS (
  SELECT floor(sum({_SCORE_SQL})::DOUBLE / count(*) + 0.5)::BIGINT
           AS mean_score_micro
  FROM documents
)
SELECT * FROM vol, ent, dup, gate, sc
"""


CORPUS_DATASHEET_DOCS_SQL = _datasheet_oracle()

QUERIES["corpus_datasheet_docs"] = (
    corpus_datasheet_docs,
    CORPUS_DATASHEET_DOCS_SQL,
)


# --------------------------------------------------------------------------
# BPE encode (tokenizer application)
# --------------------------------------------------------------------------
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the fixed 8-merge BPE table to every document — see
    text.bpe_encode; the oracle replays the chained replaces exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.bpe_encode(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def _bpe_encode_oracle() -> str:
    spaced = (
        "array_to_string(list_transform(generate_series(1, length(w)), "
        "i -> substr(w, i, 1)), ' ')"
    )
    chain = f"concat(' ', {spaced}, ' ')"
    for a, b in text.BPE_MERGES:
        for _ in range(2):  # two passes per merge = fixpoint (text.bpe_encode)
            chain = f"replace({chain}, ' {a} {b} ', ' {a}{b} ')"
    enc = (
        "list_transform(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> x <> ''), w -> trim({chain}))"
    )
    # enc computed once in the subquery (mirrors the Spark side's single
    # materialization); coalesce: list_sum over an empty list is NULL in
    # DuckDB while Spark's aggregate(..., 0, ...) is 0.
    return f"""
SELECT doc_id,
       len(enc)::BIGINT AS n_words,
       coalesce(list_sum(list_transform(enc, e -> len(string_split(e, ' ')))),
                0)::BIGINT AS n_bpe_tokens,
       md5(array_to_string(enc, '|')) AS enc_md5
FROM (SELECT doc_id, {enc} AS enc FROM documents) ORDER BY doc_id
"""


BPE_ENCODE_DOCS_SQL = _bpe_encode_oracle()

QUERIES["bpe_encode_docs"] = (bpe_encode_docs, BPE_ENCODE_DOCS_SQL)


# --------------------------------------------------------------------------
# Bigram-LM perplexity scoring (CCNet-style quality filter)
# --------------------------------------------------------------------------
def lm_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by average bigram NLL under an add-one-smoothed
    corpus bigram LM — see text.lm_perplexity_scores. doc_id-aliased and
    sorted for the driver compare."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.lm_perplexity_scores(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def _lm_perplexity_oracle() -> str:
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), uni AS (
  SELECT w, count(*)::BIGINT AS c1
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
), v AS (
  SELECT count(*)::BIGINT AS v FROM uni
), big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i])) AS w1,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i + 1])) AS w2
  FROM t WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, count(*)::BIGINT AS c2 FROM big GROUP BY w1, w2
), sv AS (
  SELECT c2.w1, c2.w2,
         floor(-ln((c2.c2 + 1)::DOUBLE / (uni.c1 + v.v)::DOUBLE) * 1e6
               + 0.5)::BIGINT AS nll_micro
  FROM c2, v JOIN uni ON uni.w = c2.w1
)
SELECT big.doc_id,
       count(*)::BIGINT AS n_bigrams,
       sum(sv.nll_micro)::BIGINT AS nll_micro_sum,
       floor(sum(sv.nll_micro)::DOUBLE / count(*) + 0.5)::BIGINT
           AS avg_nll_micro
FROM big JOIN sv ON sv.w1 = big.w1 AND sv.w2 = big.w2
GROUP BY big.doc_id ORDER BY big.doc_id
"""


LM_PERPLEXITY_DOCS_SQL = _lm_perplexity_oracle()

QUERIES["lm_perplexity_docs"] = (lm_perplexity_docs, LM_PERPLEXITY_DOCS_SQL)


# --------------------------------------------------------------------------
# BPE training loop (iterative tokenizer induction)
# --------------------------------------------------------------------------
_BPE_TRAIN_ROUNDS = 6


def bpe_train_merges_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 6 BPE merges over the documents corpus (text.bpe_train: the
    iterative loop whose one counting round is bpe_merge_candidates) and
    return the merge table. The oracle replays the SAME loop as a chained
    CTE — each round's top pair feeds the next round's re-segmentation via
    scalar subqueries — so an ITERATIVE algorithm still gets a value-exact
    SQL twin."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, "text", n_merges=_BPE_TRAIN_ROUNDS)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, n_pairs long",
    ).orderBy("merge_rank")


def _bpe_train_oracle(n_rounds: int) -> str:
    toks = _SQL_TOKENS.format(c="text")
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT concat(' ', array_to_string(list_transform(
           generate_series(1, length(w0)), i -> substr(w0, i, 1)), ' '),
         ' ') AS w,
         count(*)::BIGINT AS wc
  FROM (SELECT unnest({toks}) AS w0 FROM documents) GROUP BY w0
)"""
    ]
    for k in range(1, n_rounds + 1):
        prev = f"v{k - 1}"
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT l, r, sum(wc)::BIGINT AS cnt
  FROM (
    SELECT wc,
           unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i])) AS l,
           unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i + 1])) AS r
    FROM (SELECT wc, string_split(trim(w), ' ') AS arr FROM {prev})
  ) GROUP BY l, r
  ORDER BY cnt DESC, l, r LIMIT 1
)"""
        )
        if k < n_rounds:
            ctes.append(
                f"""v{k} AS MATERIALIZED (
  SELECT replace(replace(w,
           (SELECT ' ' || l || ' ' || r || ' ' FROM p{k}),
           (SELECT ' ' || l || r || ' ' FROM p{k})),
           (SELECT ' ' || l || ' ' || r || ' ' FROM p{k}),
           (SELECT ' ' || l || r || ' ' FROM p{k})) AS w,
         wc
  FROM {prev}
)"""
            )
    unions = "\nUNION ALL\n".join(
        f"SELECT {k}::INT AS merge_rank, l AS lhs, r AS rhs, cnt AS n_pairs FROM p{k}"
        for k in range(1, n_rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions + "\nORDER BY merge_rank"


BPE_TRAIN_MERGES_CORPUS_SQL = _bpe_train_oracle(_BPE_TRAIN_ROUNDS)

QUERIES["bpe_train_merges_corpus"] = (
    bpe_train_merges_corpus,
    BPE_TRAIN_MERGES_CORPUS_SQL,
)


# --------------------------------------------------------------------------
# Perceptual image dedup (pHash + banded Hamming pairs)
# --------------------------------------------------------------------------
def dedup_image_phash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image near-dup over real pixels: synthesize one 32×32
    PNG per doc_id where ids sharing ``doc_id % K`` (K = n_docs/2) carry
    the same base pattern plus tiny per-id pixel noise → png_decode →
    DCT pHash → banded-Hamming pairs. The planted ground truth (same
    pattern ⇔ near-dup) is derivable by the SQL oracle WITHOUT decoding
    pixels, so the whole binary→pixels→DCT→hash→band→pair pipeline is
    VALUE-checked: a broken decode, hash, or banding step changes the pair
    set and fails the compare."""
    import pandas as pd

    from . import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    k = max(n // 2, 1)
    # the sf tables land as ONE parquet file → 1 partition → the Python
    # synth+decode below would run serial; spread it. (A real binaryFile
    # scan parallelizes by file and doesn't need this.)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def _synth(it):
        import numpy as np

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                base = np.random.default_rng(d % k).integers(
                    0, 256, (32, 32), dtype=np.uint8
                )
                noise_rng = np.random.default_rng(d + 1_000_000_007)
                img = base.astype(np.int16)
                for _ in range(2):  # two ±8 pixel edits per id
                    y, x = int(noise_rng.integers(0, 32)), int(
                        noise_rng.integers(0, 32)
                    )
                    img[y, x] += int(noise_rng.integers(-8, 9))
                ids.append(d)
                blobs.append(
                    multimodal.png_encode(img.clip(0, 255).astype(np.uint8))
                )
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    binary = docs.mapInPandas(_synth, schema="doc_id long, content binary")
    sigs = multimodal.image_phash(binary, "doc_id")
    return (
        multimodal.phash_hamming_pairs(sigs, max_hamming=10)
        .select("id_a", "id_b")  # hamming itself is pixel-derived, not SQL
        .orderBy("id_a", "id_b")
    )


DEDUP_IMAGE_PHASH_DOCS_SQL = """
WITH n AS (SELECT greatest(count(*) // 2, 1) AS k FROM documents),
     p AS (SELECT doc_id, doc_id % (SELECT k FROM n) AS pat FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM p a JOIN p b ON a.pat = b.pat AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""

QUERIES["dedup_image_phash_docs"] = (
    dedup_image_phash_docs,
    DEDUP_IMAGE_PHASH_DOCS_SQL,
)


def dedup_audio_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio near-dup over real waveforms: synthesize one 1-s
    8 kHz WAV per doc_id where ids sharing ``doc_id % K`` carry the same
    3-sinusoid mix, each id gain-jittered ±10% plus σ=30 white noise →
    wav_decode → Haitsma-Kalker delta-sign fingerprint → banded-Hamming
    pairs. Planted-pair oracle, like dedup_image_phash_docs: ground truth
    derives from doc_id arithmetic, so decode/FFT/banding are all
    value-checked."""
    import pandas as pd

    from . import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    k = max(n // 2, 1)
    # single-file source → 1 partition; spread the Python synth+FFT
    # (see dedup_image_phash_docs note)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def _synth(it):
        import numpy as np

        sr = 8000
        t = np.arange(sr // 4) / sr  # 0.25 s: fixture-synth cost, not signal
        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                prng = np.random.default_rng(d % k)
                # one tone PER fingerprint band with a pattern-seeded
                # per-frame STEP envelope: every frame-energy delta sign is
                # an independent coin per pattern (full 64-bit entropy
                # across patterns — smooth envelopes left bits correlated
                # and produced cross-pattern collisions), while steps are
                # large vs the per-id noise so same-pattern bits are stable.
                # (Stationary tones would leave deltas noise-dominated —
                # Haitsma-Kalker bits need time-varying audio.)
                x = np.zeros_like(t)
                for band_lo in (250, 1250, 2250, 3250):
                    f = float(prng.integers(band_lo, band_lo + 600))
                    steps = prng.uniform(0.2, 1.0, 18)
                    env = np.repeat(steps, len(t) // 18 + 1)[: len(t)]
                    x = x + env * np.sin(2 * np.pi * f * t)
                nrng = np.random.default_rng(d + 2_000_000_011)
                gain = 0.9 + 0.2 * nrng.random()
                x = x / max(1e-9, np.abs(x).max()) * 8000.0 * gain
                x = x + nrng.normal(0.0, 30.0, x.shape)
                samples = x.clip(-32768, 32767).astype(np.int16)[:, None]
                ids.append(d)
                blobs.append(multimodal.wav_encode(samples, sr))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    binary = docs.mapInPandas(_synth, schema="doc_id long, content binary")
    sigs = multimodal.audio_fingerprints(binary, "doc_id")
    return (
        multimodal.phash_hamming_pairs(sigs, max_hamming=6, sig_col="afp")
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


QUERIES["dedup_audio_fingerprint_docs"] = (
    dedup_audio_fingerprint_docs,
    DEDUP_IMAGE_PHASH_DOCS_SQL,  # same planted-pair ground truth
)


# --------------------------------------------------------------------------
# PCA top component (integer-exact power iteration)
# --------------------------------------------------------------------------
_PCA_ROUNDS = 3


def pca_top_component_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant PCA direction of the 64-d embedding column via 3 rounds of
    power iteration over the micro-int covariance — see
    similarity.pca_top_component. Engine-exact: the oracle replays the
    identical integer recurrence as chained CTEs."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pca_top_component(
        emb, "embedding", dim=64, rounds=_PCA_ROUNDS
    ).orderBy("dim_i")


def _pca_oracle(rounds: int) -> str:
    # covariance in micro units (the covariance_embeddings oracle), then the
    # exact integer recurrence: w = C·v (BIGINT), v = floor((w/max|w|)·1e6+.5)
    ctes = [
        f"""cov AS MATERIALIZED (
  WITH {_SQL_COV_CTES}
  SELECT p.i, p.j, floor((p.pij - ma.m * mb.m) * 1e6 + 0.5)::BIGINT AS c
  FROM prods p JOIN means ma ON ma.i = p.i JOIN means mb ON mb.i = p.j
)""",
        """cfull AS MATERIALIZED (
  SELECT i, j, c FROM cov
  UNION ALL
  SELECT j AS i, i AS j, c FROM cov WHERE i <> j
)""",
        "v0 AS (SELECT g.i - 1 AS i, 1000000::BIGINT AS v "
        "FROM generate_series(1, 64) AS g(i))",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
  SELECT m.i, sum(m.c * v.v)::BIGINT AS w
  FROM cfull m JOIN v{k - 1} v ON v.i = m.j GROUP BY m.i
)"""
        )
        ctes.append(
            f"""v{k} AS MATERIALIZED (
  SELECT i, floor((w::DOUBLE /
           greatest((SELECT max(abs(w)) FROM w{k}), 1)::DOUBLE) * 1e6
           + 0.5)::BIGINT AS v
  FROM w{k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT i::BIGINT AS dim_i, v AS v_micro FROM v{rounds} ORDER BY i"
    )


PCA_TOP_COMPONENT_EMBEDDINGS_SQL = _pca_oracle(_PCA_ROUNDS)

QUERIES["pca_top_component_embeddings"] = (
    pca_top_component_embeddings,
    PCA_TOP_COMPONENT_EMBEDDINGS_SQL,
)


def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the learned dominant component — the
    zero-shuffle reduction pass (similarity.pca_project). The oracle
    re-derives the component via the same chained CTEs and replays the
    dot product."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.pca_project(emb, "vec_id", "embedding", dim=64, rounds=_PCA_ROUNDS)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


def _pca_project_oracle(rounds: int) -> str:
    base = _pca_oracle(rounds)
    # swap the final SELECT for the projection join
    head = base[: base.rindex("\nSELECT ")]
    return (
        head
        + f""",
ex2 AS (
  SELECT vec_id, g.i - 1 AS i, embedding[g.i]::DOUBLE AS x
  FROM embeddings, generate_series(1, 64) AS g(i)
)
SELECT e.vec_id,
       floor(sum(e.x * v.v::DOUBLE) / 1e6 * 1e6 + 0.5)::BIGINT AS proj_micro
FROM ex2 e JOIN v{rounds} v ON v.i = e.i
GROUP BY e.vec_id ORDER BY e.vec_id"""
    )


PCA_PROJECT_EMBEDDINGS_SQL = _pca_project_oracle(_PCA_ROUNDS)

QUERIES["pca_project_embeddings"] = (
    pca_project_embeddings,
    PCA_PROJECT_EMBEDDINGS_SQL,
)


def pca_top2_components_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA directions by power iteration + integer-exact Hotelling
    deflation — see similarity.power_iteration_deflate_micro. The oracle
    replays component 1, the Rayleigh quotient, the deflated matrix, and
    component 2 as one chained-CTE program."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pca_top_components(
        emb, "embedding", dim=64, k=2, rounds=_PCA_ROUNDS
    ).orderBy("component", "dim_i")


def _pca_top2_oracle(rounds: int) -> str:
    base = _pca_oracle(rounds)  # cov, cfull, v0..v{rounds} for component 1
    head = base[: base.rindex("\nSELECT ")]
    r = rounds
    extra = f""",
wf AS MATERIALIZED (
  SELECT m.i, sum(m.c * v.v)::BIGINT AS w
  FROM cfull m JOIN v{r} v ON v.i = m.j GROUP BY m.i
),
ray AS MATERIALIZED (
  SELECT floor(sum(tv.v::HUGEINT * w.w)::DOUBLE
               / greatest(sum2.vv, 1)::DOUBLE + 0.5)::BIGINT AS lam,
         greatest(sum2.vv, 1)::BIGINT AS vv
  FROM v{r} tv JOIN wf w ON w.i = tv.i
  CROSS JOIN (SELECT sum(tu.v::HUGEINT * tu.v)::BIGINT AS vv
              FROM v{r} tu) sum2
  GROUP BY sum2.vv
),
c2 AS MATERIALIZED (
  SELECT m.i, m.j,
         m.c - floor(((SELECT lam FROM ray)::HUGEINT * va.v * vb.v)::DOUBLE
                     / (SELECT vv FROM ray)::DOUBLE + 0.5)::BIGINT AS c
  FROM cfull m JOIN v{r} va ON va.i = m.i JOIN v{r} vb ON vb.i = m.j
),
u0 AS (SELECT g.i - 1 AS i, 1000000::BIGINT AS v
       FROM generate_series(1, 64) AS g(i))"""
    for kk in range(1, r + 1):
        extra += f""",
x{kk} AS MATERIALIZED (
  SELECT m.i, sum(m.c * v.v)::BIGINT AS w
  FROM c2 m JOIN u{kk - 1} v ON v.i = m.j GROUP BY m.i
),
u{kk} AS MATERIALIZED (
  SELECT i, floor((w::DOUBLE /
           greatest((SELECT max(abs(w)) FROM x{kk}), 1)::DOUBLE) * 1e6
           + 0.5)::BIGINT AS v
  FROM x{kk}
)"""
    return (
        head
        + extra
        + f"""
SELECT 0::BIGINT AS component, i::BIGINT AS dim_i, v AS v_micro FROM v{r}
UNION ALL
SELECT 1::BIGINT, i::BIGINT, v FROM u{r}
ORDER BY component, dim_i"""
    )


PCA_TOP2_COMPONENTS_EMBEDDINGS_SQL = _pca_top2_oracle(_PCA_ROUNDS)

QUERIES["pca_top2_components_embeddings"] = (
    pca_top2_components_embeddings,
    PCA_TOP2_COMPONENTS_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# MERGE / upsert (copy-on-write)
# --------------------------------------------------------------------------
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE E2E (cdc.merge_upsert): land customers as a
    parquet target, upsert a batch (every custkey % 10 == 0 gets +1000
    acctbal; 5 brand-new keys above max), swap via the staging protocol,
    then RE-READ the swapped table and aggregate it. The oracle computes
    the same post-merge aggregates closed-form from the base table — a
    wrong anti-join, a lost insert, or a partial swap all change the
    numbers."""
    import shutil
    from . import stores

    from . import cdc

    cust = load_table(spark, sf_dir, "customer")
    maxkey = cust.agg(F.max("c_custkey")).first()[0]
    updates = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
    )
    new_rows = spark.createDataFrame(
        [
            (int(maxkey) + i, f"New Customer {i}", 0, 100.25 * i, "MERGED")
            for i in range(1, 6)
        ],
        cust.schema,
    )
    base = stores.scratch_dir("merge_upsert_")
    target = os.path.join(base, "customer")
    try:
        cust.write.mode("overwrite").parquet(target)
        stats = cdc.merge_upsert(
            spark, target, updates.unionByName(new_rows), ["c_custkey"]
        )
        after = spark.read.parquet(target)
        out = after.select(
            F.count(F.lit(1)).alias("n_rows"),
            # integer cents: Spark DECIMAL crosses pandas as Decimal objects
            # while DuckDB's bridge emits float64 — a rounded BIGINT compares
            # exactly on both sides regardless of intermediate scale
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(38,2)")) * 100
            )
            .cast("long")
            .alias("sum_acctbal_cents"),
            F.sum((F.col("c_mktsegment") == "MERGED").cast("long")).alias(
                "n_merged_segment"
            ),
            F.lit(stats["n_updated"]).cast("long").alias("n_updated"),
            F.lit(stats["n_inserted"]).cast("long").alias("n_inserted"),
        ).collect()[0]
        # materialize BEFORE the temp dir vanishes
        return spark.createDataFrame(
            [tuple(out)],
            "n_rows long, sum_acctbal_cents long, n_merged_segment long, "
            "n_updated long, n_inserted long",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


MERGE_UPSERT_CUSTOMERS_SQL = """
SELECT (SELECT count(*) FROM customer)::BIGINT + 5 AS n_rows,
       round(((SELECT sum(c_acctbal::DECIMAL(38,2)) FROM customer)
         + 1000.00 * (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
         + 100.25 + 200.50 + 300.75 + 401.00 + 501.25) * 100)::BIGINT
           AS sum_acctbal_cents,
       5::BIGINT AS n_merged_segment,
       (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)::BIGINT
           AS n_updated,
       5::BIGINT AS n_inserted
"""

QUERIES["merge_upsert_customers"] = (
    merge_upsert_customers,
    MERGE_UPSERT_CUSTOMERS_SQL,
)


# --------------------------------------------------------------------------
# Stratified split (exact per-group fractions)
# --------------------------------------------------------------------------
def stratified_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 80/10/10 split stratified by language (sampling.
    stratified_splits) — per-(lang, split) counts, which pin both the
    rank-cut boundaries and the deterministic hash ordering."""
    from . import sampling

    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.stratified_splits(docs, "lang", "doc_id")
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


STRATIFIED_SPLIT_DOCS_SQL = f"""
WITH r AS (
  SELECT lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_SQL_HASH60.format(c="doc_id::VARCHAR")} ASC, doc_id ASC
         )::BIGINT AS rn,
         count(*) OVER (PARTITION BY lang)::BIGINT AS n
  FROM documents
)
SELECT lang,
       CASE WHEN rn <= (n * 80) / 100.0 THEN 'train'
            WHEN rn <= (n * 90) / 100.0 THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs
FROM r GROUP BY 1, 2 ORDER BY lang, split
"""

QUERIES["stratified_split_docs"] = (
    stratified_split_docs,
    STRATIFIED_SPLIT_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Unicode NFC normalization
# --------------------------------------------------------------------------
#: decomposed suffix: 'e'+COMBINING ACUTE and 'i'+COMBINING DIAERESIS —
#: NFC composes both, so every doc visibly changes (len shrinks by 2)
_NFC_SUFFIX = " caf" + "é" + " naïve"


def nfc_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC over every document (text.nfc_normalize) with a
    deterministic decomposed-accent suffix appended so the pass provably
    composes something. The oracle runs DuckDB's NATIVE nfc_normalize —
    two independent Unicode implementations (Python unicodedata vs
    DuckDB's) must agree on every byte (compared via md5)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)).alias("text")
    )
    out = text.nfc_normalize(docs, "doc_id", "text")
    return (
        out.select(
            F.col("id").alias("doc_id"),
            "n_chars_before",
            "n_chars_after",
            "changed",
            F.md5("text_nfc").alias("nfc_md5"),
        )
        .orderBy("doc_id")
    )


NFC_NORMALIZE_DOCS_SQL = f"""
SELECT doc_id,
       length(s)::BIGINT AS n_chars_before,
       length(nfc_normalize(s))::BIGINT AS n_chars_after,
       nfc_normalize(s) <> s AS changed,
       md5(nfc_normalize(s)) AS nfc_md5
FROM (SELECT doc_id, text || '{_NFC_SUFFIX}' AS s FROM documents)
ORDER BY doc_id
"""

QUERIES["nfc_normalize_docs"] = (nfc_normalize_docs, NFC_NORMALIZE_DOCS_SQL)


# --------------------------------------------------------------------------
# Incremental materialized-aggregate refresh (view maintenance)
# --------------------------------------------------------------------------
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance E2E (cdc.incremental_agg_refresh):
    build the per-priority COUNT/SUM rollup of orders, apply a CDC batch
    (deletes: orderkey%97; updates as delete+insert pairs: %101 gets
    +10.00; inserts: %89 cloned at +5.00) to the ROLLUP ONLY — the base
    table is never rescanned. The oracle recomputes the post-CDC state
    from scratch, certifying the delta algebra: a wrong sign, a lost
    pair, or a dropped group changes the numbers."""
    from . import cdc

    ords = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    pri = F.col("o_orderpriority")

    mv = ords.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(price).cast("decimal(38,2)").alias("sum_price"),
    )
    is_del = key % 97 == 0
    is_upd = (key % 97 != 0) & (key % 101 == 0)
    ten = F.lit("10.00").cast("decimal(18,2)")
    five = F.lit("5.00").cast("decimal(18,2)")
    delta = (
        ords.filter(is_del)
        .select(pri, price.alias("price"), F.lit("delete").alias("change_type"))
        .unionByName(
            ords.filter(is_upd).select(
                pri, price.alias("price"), F.lit("delete").alias("change_type")
            )
        )
        .unionByName(
            ords.filter(is_upd).select(
                pri,
                (price + ten).cast("decimal(18,2)").alias("price"),
                F.lit("insert").alias("change_type"),
            )
        )
        .unionByName(
            ords.filter(key % 89 == 0).select(
                pri,
                (price + five).cast("decimal(18,2)").alias("price"),
                F.lit("insert").alias("change_type"),
            )
        )
    )
    refreshed = cdc.incremental_agg_refresh(
        mv, delta, ["o_orderpriority"], "n_orders", {"sum_price": "price"}
    )
    # integer cents: Spark DECIMAL crosses pandas as Decimal objects while
    # DuckDB's bridge emits float64 — a BIGINT compares exactly everywhere
    return refreshed.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sum_price") * 100).cast("long").alias("sum_price_cents"),
    ).orderBy("o_orderpriority")


INCREMENTAL_AGG_ORDERS_SQL = """
WITH after AS (
  SELECT o_orderpriority, o_totalprice::DECIMAL(18,2) AS price
  FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderpriority,
         (o_totalprice::DECIMAL(18,2) + 10.00)::DECIMAL(18,2)
  FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 = 0
  UNION ALL
  SELECT o_orderpriority,
         (o_totalprice::DECIMAL(18,2) + 5.00)::DECIMAL(18,2)
  FROM orders WHERE o_orderkey % 89 = 0
)
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       round(sum(price) * 100)::BIGINT AS sum_price_cents
FROM after GROUP BY 1 ORDER BY o_orderpriority
"""

QUERIES["incremental_agg_orders"] = (
    incremental_agg_orders,
    INCREMENTAL_AGG_ORDERS_SQL,
)


# --------------------------------------------------------------------------
# Small-file compaction (content-parity E2E)
# --------------------------------------------------------------------------
def compact_small_files_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction E2E (layout.compact_files): land documents as 64
    deliberately-tiny parquet files, compact to 4 via the shuffle-free
    coalesce path + staging-swap, RE-READ the swapped table and emit
    row count + an order-free content checksum + the file-count proof.
    The oracle computes the same count/checksum straight from the base
    table — a dropped row, a duplicated file, or a partial swap changes
    the checksum; `files_reduced` pins that compaction actually happened."""
    import shutil
    from . import stores

    from ..functions import md5_hash60
    from ..sinks.parquet_sink import compact_table

    docs = load_table(spark, sf_dir, "documents")
    base = stores.scratch_dir("compact_")
    target = os.path.join(base, "documents")
    try:
        docs.repartition(64).write.mode("overwrite").parquet(target)
        stats = compact_table(spark, target, n_files=4)
        after = spark.read.parquet(target)
        row = after.select(
            F.count(F.lit(1)).alias("n_rows"),
            # sum in decimal (no overflow), then fold mod 2^40 to a BIGINT
            # — wide decimals round-trip as lossy float64 in some pandas
            # bridges, a plain long compares exactly everywhere
            (
                F.sum(
                    md5_hash60(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.md5(F.col("text")),
                        )
                    ).cast("decimal(38,0)")
                )
                % F.lit(1099511627776)
            )
            .cast("long")
            .alias("content_sum"),
            F.lit(
                stats["files_after"] < stats["files_before"]
                and stats["files_after"] <= 4
            ).alias("files_reduced"),
        ).collect()[0]
        return spark.createDataFrame(
            [tuple(row)],
            "n_rows long, content_sum long, files_reduced boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


COMPACT_SMALL_FILES_DOCS_SQL = f"""
SELECT count(*)::BIGINT AS n_rows,
       (sum({_SQL_HASH60.format(c="doc_id::VARCHAR || ':' || md5(text)")})
            % 1099511627776)::BIGINT AS content_sum,
       TRUE AS files_reduced
FROM documents
"""

QUERIES["compact_small_files_docs"] = (
    compact_small_files_docs,
    COMPACT_SMALL_FILES_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Balanced trainer shards (weight-balanced, no global sort)
# --------------------------------------------------------------------------
_SHARD_N = 8
_SHARD_BUCKET = 100


def _shard_totals(dealt: DataFrame) -> DataFrame:
    """Per-shard doc count and char total of a shard assignment."""
    return (
        dealt.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("shard")
    )


def shard_balance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deal documents into 8 near-equal-weight trainer shards
    (sampling.balanced_shards: bucket-by-length → in-bucket rank →
    phase-offset round-robin — no global sort). Emits per-shard doc and
    char totals; the oracle replays the exact window, and the balance
    property itself is pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return _shard_totals(
        sampling.balanced_shards(docs, "doc_id", "n_chars", _SHARD_N, _SHARD_BUCKET)
    )


SHARD_BALANCE_DOCS_SQL = f"""
WITH r AS (
  SELECT n_chars, (n_chars // {_SHARD_BUCKET})::BIGINT AS bucket,
         row_number() OVER (
           PARTITION BY n_chars // {_SHARD_BUCKET}
           ORDER BY n_chars DESC, doc_id ASC
         )::BIGINT AS rn
  FROM documents
)
SELECT ((rn - 1 + bucket) % {_SHARD_N})::INTEGER AS shard,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM r GROUP BY 1 ORDER BY shard
"""

QUERIES["shard_balance_docs"] = (shard_balance_docs, SHARD_BALANCE_DOCS_SQL)


# --------------------------------------------------------------------------
# Heavy hitters: Misra-Gries sketch + exact verification pass
# --------------------------------------------------------------------------
def heavy_hitters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 corpus tokens via sketch-then-verify (sketch.
    heavy_hitters): O(sketch_k) executor memory, candidate-only shuffle,
    support-guarantee guardrail. The oracle is the PLAIN exact top-k — the
    whole point is that the sketch path must return the identical answer."""
    from . import sketch

    docs = load_table(spark, sf_dir, "documents")
    return sketch.heavy_hitters(docs, "text", k_top=20, sketch_k=512)


HEAVY_HITTERS_DOCS_SQL = f"""
WITH toks AS (
  SELECT unnest({_SQL_TOKENS.format(c="text")}) AS token FROM documents
)
SELECT token, count(*)::BIGINT AS freq
FROM toks GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 20
"""

QUERIES["heavy_hitters_docs"] = (heavy_hitters_docs, HEAVY_HITTERS_DOCS_SQL)


# --------------------------------------------------------------------------
# Versioned table + time travel (snapshot isolation E2E)
# --------------------------------------------------------------------------
def time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table E2E (tableformat): commit orders as v0, commit a
    mutated snapshot (keys %3<>0, +1.50) as v1, then TIME-TRAVEL: read v0
    back after v1 is current and aggregate BOTH versions. The oracle
    computes both versions' aggregates closed-form from the base table —
    a pointer flip that lost v0, or a torn commit, changes the answer."""
    import shutil
    from . import stores

    from . import tableformat as tf

    ords = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = stores.scratch_dir("timetravel_")
    root = os.path.join(base, "orders_t")
    try:
        assert tf.commit_version(ords, root) == 0
        mutated = ords.filter(F.col("o_orderkey") % 3 != 0).withColumn(
            "o_totalprice",
            (price + F.lit("1.50").cast("decimal(18,2)")).cast("double"),
        )
        assert tf.commit_version(mutated, root) == 1
        # r14 (guide §1.2): ONE collect for both versions (union of the
        # two per-version aggregates, each tagged with its version
        # literal) instead of one driver action per version. The collect
        # stays EAGER — the finally below deletes the scratch table, so a
        # lazy return would read a vanished root. Same rows, same schema.
        aggs = [
            tf.read_version(spark, root, v).agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                # integer cents: exact BIGINT on both Spark and oracle
                # sides (Decimal-vs-float64 breaks the driver's hash)
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100
                )
                .cast("long")
                .alias("sum_price_cents"),
            )
            for v in (0, 1)
        ]
        out = [tuple(r) for r in aggs[0].unionByName(aggs[1]).collect()]
        return spark.createDataFrame(
            out, "version long, n_rows long, sum_price_cents long"
        ).orderBy("version")
    finally:
        shutil.rmtree(base, ignore_errors=True)


TIME_TRAVEL_ORDERS_SQL = """
SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows,
       round(sum(o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS sum_price_cents
FROM orders
UNION ALL
SELECT 1::BIGINT, count(*)::BIGINT,
       round(sum((o_totalprice::DECIMAL(18,2) + 1.50)) * 100)::BIGINT
FROM orders WHERE o_orderkey % 3 <> 0
ORDER BY version
"""

QUERIES["time_travel_orders"] = (time_travel_orders, TIME_TRAVEL_ORDERS_SQL)


# --------------------------------------------------------------------------
# Stats-manifest pruning (Iceberg-manifest-style metadata-only planning)
# --------------------------------------------------------------------------
def stats_prune_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-manifest E2E (tableformat.collect_stats / prune_files /
    scan_pruned): commit orders range-clustered on o_totalprice into the
    versioned table, build the per-file min/max manifest from parquet
    footers (metadata-only, O(files)), then answer a ~10%-span price-band
    query by scanning ONLY the manifest-kept files.

    Output row pins three facts the oracle recomputes from the base
    table: ``n_rows_total`` comes from metadata_count (zero data IO — a
    wrong manifest changes it), ``n_rows_in_band`` comes from the PRUNED
    scan (a prune that drops a needed file changes it), and
    ``files_pruned_vs_total`` is pinned TRUE (the clustered layout must
    let the manifest skip at least one file — the point of the
    operator). At 100 TB this is the planner reading KB of manifest
    instead of listing + footer-fetching the object store per query."""
    import shutil
    from . import stores

    from . import tableformat as tf

    ords = load_table(spark, sf_dir, "orders")
    r = ords.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).first()
    plo, phi = float(r["lo"]), float(r["hi"])
    # middle ~10%-span band, same op order as the oracle SQL
    mid, span = (plo + phi) / 2.0, (phi - plo) * 0.05
    lo, hi = mid - span, mid + span

    base = stores.scratch_dir("stats_prune_")
    root = os.path.join(base, "orders_t")
    try:
        clustered = ords.repartitionByRange(8, "o_totalprice").sortWithinPartitions(
            "o_totalprice"
        )
        tf.commit_version(clustered, root)
        tf.collect_stats(root, columns=["o_totalprice"])
        n_total = tf.metadata_count(root)
        kept, total_files = tf.prune_files(root, "o_totalprice", lo, hi)
        n_band = tf.scan_pruned(spark, root, "o_totalprice", lo, hi).count()
        return spark.createDataFrame(
            [(int(n_total), int(n_band), bool(len(kept) < total_files))],
            "n_rows_total long, n_rows_in_band long, "
            "files_pruned_vs_total boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


STATS_PRUNE_SCAN_ORDERS_SQL = """
WITH b AS (
  SELECT min(o_totalprice) AS plo, max(o_totalprice) AS phi FROM orders
)
SELECT (SELECT count(*) FROM orders)::BIGINT AS n_rows_total,
       (SELECT count(*) FROM orders, b
        WHERE o_totalprice >= (plo + phi) / 2.0 - (phi - plo) * 0.05
          AND o_totalprice <= (plo + phi) / 2.0 + (phi - plo) * 0.05
       )::BIGINT AS n_rows_in_band,
       TRUE AS files_pruned_vs_total
"""

QUERIES["stats_prune_scan_orders"] = (
    stats_prune_scan_orders,
    STATS_PRUNE_SCAN_ORDERS_SQL,
)


# --------------------------------------------------------------------------
# Contiguous id assignment (global order, no global sort)
# --------------------------------------------------------------------------
def assign_ids_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 0-based row ids over orders in (o_totalprice, o_orderkey)
    order via sampling.assign_contiguous_ids — the distributed prefix-sum
    form (bucket + offset + within-bucket rank), never a single-partition
    ``row_number() OVER (ORDER BY …)``. The oracle computes the same ids
    WITH the global window (fine at sf0.01), so any bucket-boundary or
    offset error shows as a value mismatch. Output thinned to every 97th
    orderkey to keep the driver compare small while still pinning ids
    from every region of the global order."""
    from . import sampling

    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    withids = sampling.assign_contiguous_ids(
        ords, ["o_totalprice", "o_orderkey"], id_col="row_id", n_buckets=32
    )
    return (
        withids.filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", "row_id")
        .orderBy("o_orderkey")
    )


ASSIGN_IDS_ORDERS_SQL = """
SELECT o_orderkey, row_id FROM (
  SELECT o_orderkey,
         (row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
          - 1)::BIGINT AS row_id
  FROM orders
) WHERE o_orderkey % 97 = 0
ORDER BY o_orderkey
"""

QUERIES["assign_ids_orders"] = (assign_ids_orders, ASSIGN_IDS_ORDERS_SQL)


# --------------------------------------------------------------------------
# Per-document character entropy (garbage detector)
# --------------------------------------------------------------------------
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document in integer micro-nats
    (text.char_entropy) — the CCNet/Gopher garbage signal. Ordered by
    doc_id; values engine-exact via per-term micro-rounding."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.char_entropy(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


CHAR_ENTROPY_DOCS_SQL = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), hist AS (
  SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2
), t AS (
  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM hist
)
SELECT doc_id, max(n)::BIGINT AS n_chars,
       count(*)::BIGINT AS n_distinct_chars,
       sum(round(-(c::DOUBLE / n) * ln(c::DOUBLE / n) * 1000000)::BIGINT)::BIGINT
           AS entropy_micro
FROM t GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["char_entropy_docs"] = (char_entropy_docs, CHAR_ENTROPY_DOCS_SQL)


# --------------------------------------------------------------------------
# Vocabulary coverage / OOV rate (tokenizer QA)
# --------------------------------------------------------------------------
def _top_tokens(df: DataFrame, text_col: str) -> list[str]:
    """The corpus's 50 most frequent tokens (freq desc, token asc)."""
    top = (
        df.select(F.explode(text.tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(50)
        .collect()
    )
    return [r["token"] for r in top]


def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate against the corpus's own exact top-50 tokens
    (text.vocab_coverage, literal tier): the vocab derives
    deterministically (freq desc, token asc) so the oracle replays BOTH
    the vocab selection and the coverage math."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = _top_tokens(docs, "text")
    return (
        text.vocab_coverage(docs, "doc_id", "text", vocab)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


VOCAB_COVERAGE_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS.format(c="text")} AS toks FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS token FROM base
), top AS (
  SELECT token FROM tok GROUP BY 1
  ORDER BY count(*) DESC, token ASC LIMIT 50
), oov AS (
  SELECT doc_id, count(*)::BIGINT AS n_oov
  FROM tok WHERE token NOT IN (SELECT token FROM top) GROUP BY 1
)
SELECT b.doc_id, len(b.toks)::BIGINT AS n_tokens,
       coalesce(o.n_oov, 0)::BIGINT AS n_oov,
       CASE WHEN len(b.toks) > 0
            THEN (coalesce(o.n_oov, 0) * 10000) // len(b.toks)
            ELSE 0 END::BIGINT AS oov_bp
FROM base b LEFT JOIN oov o USING (doc_id)
ORDER BY doc_id
"""

QUERIES["vocab_coverage_docs"] = (vocab_coverage_docs, VOCAB_COVERAGE_DOCS_SQL)


# --------------------------------------------------------------------------
# Corpus-build pipeline v2 (round-4 composition showcase)
# --------------------------------------------------------------------------
_CB_OOV_BP = 7000
_CB_SHARDS = 4
_CB_BUCKET = 100


def corpus_build_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 composition: NFC normalize (so decomposed-accent duplicates
    actually collapse) → exact-dedup winner (min doc_id per md5 of the
    NORMALIZED text) → OOV gate against the deduped corpus's own top-50
    vocabulary (≤ 70% OOV) → weight-balanced trainer shards. Every stage
    is the SAME individually-exposed operator (text.nfc_normalize /
    vocab_coverage, sampling.balanced_shards); the oracle replays the full
    four-stage chain as one CTE program. Output: per-shard doc/char
    totals."""
    docs = load_table(spark, sf_dir, "documents")
    # r14 (guide §4): `norm` (the corpus-scale NFC Arrow pass) feeds the
    # dedup winner, the semi-join back, the top-50 vocabulary collect, the
    # OOV coverage, and the shard input — five consumers whose subtrees
    # each re-ran the normalization (plan-measured: 4 Arrow stages in the
    # final plan plus one more in the vocab collect). One EAGER
    # localCheckpoint runs NFC once; everything downstream reads the
    # materialized (id, text_nfc) rows.
    norm = cut(
        text.nfc_normalize(docs, "doc_id", "text")
        .select("id", "text_nfc")
    )
    win = norm.groupBy(F.md5("text_nfc").alias("fp")).agg(
        F.min("id").alias("id")
    )
    kept = norm.join(win, "id", "left_semi")

    vocab = _top_tokens(kept, "text_nfc")
    cov = text.vocab_coverage(kept, "id", "text_nfc", vocab)
    gated = kept.join(
        cov.filter(F.col("oov_bp") <= _CB_OOV_BP).select("id"), "id", "left_semi"
    ).select("id", F.length("text_nfc").alias("n_chars"))

    return _shard_totals(
        sampling.balanced_shards(gated, "id", "n_chars", _CB_SHARDS, _CB_BUCKET)
    )


CORPUS_BUILD_PIPELINE_DOCS_SQL = f"""
WITH norm AS (
  SELECT doc_id AS id, nfc_normalize(text) AS t FROM documents
), win AS (
  SELECT min(id) AS id FROM norm GROUP BY md5(t)
), kept AS (
  SELECT n.id, n.t FROM norm n JOIN win w ON n.id = w.id
), tok AS (
  SELECT id, unnest({_SQL_TOKENS.format(c="t")}) AS token FROM kept
), top AS (
  SELECT token FROM tok GROUP BY 1
  ORDER BY count(*) DESC, token ASC LIMIT 50
), cov AS (
  SELECT k.id, len({_SQL_TOKENS.format(c="k.t")})::BIGINT AS n_tokens,
         coalesce(o.n_oov, 0)::BIGINT AS n_oov
  FROM kept k LEFT JOIN (
    SELECT id, count(*)::BIGINT AS n_oov
    FROM tok WHERE token NOT IN (SELECT token FROM top) GROUP BY 1
  ) o USING (id)
), gated AS (
  SELECT k.id, length(k.t)::BIGINT AS n_chars
  FROM kept k JOIN cov c USING (id)
  WHERE (CASE WHEN c.n_tokens > 0
              THEN (c.n_oov * 10000) // c.n_tokens ELSE 0 END) <= {_CB_OOV_BP}
), r AS (
  SELECT n_chars, (n_chars // {_CB_BUCKET})::BIGINT AS bucket,
         row_number() OVER (
           PARTITION BY n_chars // {_CB_BUCKET}
           ORDER BY n_chars DESC, id ASC
         )::BIGINT AS rn
  FROM gated
)
SELECT ((rn - 1 + bucket) % {_CB_SHARDS})::INTEGER AS shard,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM r GROUP BY 1 ORDER BY shard
"""

QUERIES["corpus_build_pipeline_docs"] = (
    corpus_build_pipeline_docs,
    CORPUS_BUILD_PIPELINE_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Change data feed between table versions
# --------------------------------------------------------------------------
def table_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF E2E (tableformat.table_changes): commit orders as v0, commit a
    mutated snapshot as v1 (drop %3==0; of the kept, +1.50 where %5==0),
    then ask the TABLE for the delta between the versions. The oracle
    derives the change counts closed-form from the base table — a missed
    update (fingerprint bug), a ghost delete, or a reversed diff
    direction all change the counts."""
    import shutil
    from . import stores

    from . import tableformat as tf

    ords = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = stores.scratch_dir("cdf_")
    root = os.path.join(base, "orders_t")
    try:
        tf.commit_version(ords, root)
        mutated = ords.filter(F.col("o_orderkey") % 3 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0,
                (price + F.lit("1.50").cast("decimal(18,2)")).cast("double"),
            ).otherwise(F.col("o_totalprice")),
        )
        tf.commit_version(mutated, root)
        out = (
            tf.table_changes(spark, root, 0, 1, ["o_orderkey"])
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("change_type")
            .collect()
        )
        return spark.createDataFrame(
            [tuple(r) for r in out], "change_type string, n long"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


TABLE_CHANGES_ORDERS_SQL = """
SELECT 'delete' AS change_type,
       (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)::BIGINT AS n
UNION ALL
SELECT 'update',
       (SELECT count(*) FROM orders
        WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0)::BIGINT
ORDER BY change_type
"""

QUERIES["table_changes_orders"] = (table_changes_orders, TABLE_CHANGES_ORDERS_SQL)


# --------------------------------------------------------------------------
# Two-stage retrieval (prefix shortlist → full-dim rerank)
# --------------------------------------------------------------------------
def knn_two_stage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN for queries vec_id < 5: 32-dim prefix shortlist,
    full-dim rerank to top-5 — with the shortlist width DERIVED FROM THE
    DATA (similarity.adaptive_two_stage_topk): measure the prefix's mean
    energy retention (matryoshka_qc) and widen the net as
    ceil(5*k/retention^2). The synthetic embeddings are iid across dims —
    the prefix-scoring WORST case (retention = 32/64 ≈ 0.5 → shortlist
    ~99 → measured recall 0.92@5, vs 0.74@5 at the folklore 50); trained
    Matryoshka/PCA embeddings front-load variance, shrink the shortlist
    automatically, and sit far higher. The oracle replays ALL THREE
    stages — retention measurement, shortlist derivation, both ranking
    passes — exactly."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.adaptive_two_stage_topk(
        emb, queries, prefix_dim=32, k=5, oversample=5
    ).orderBy("query_id", "rank")


KNN_TWO_STAGE_TOPK_SQL = """
WITH ret AS (
  SELECT sum(round(round(
           list_sum(list_transform((embedding::DOUBLE[])[1:32], x -> x * x))
           / list_sum(list_transform(embedding::DOUBLE[], x -> x * x)),
         6) * 1000000)::BIGINT) AS s,
         count(*)::BIGINT AS n
  FROM embeddings
  WHERE list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
), sl AS (
  SELECT greatest(5, ceil(25.0 / pow((s / n) / 1e6, 2)))::BIGINT AS v
  FROM ret
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         (embedding::DOUBLE[])[1:32] AS qp
  FROM embeddings WHERE vec_id < 5
), s1 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qp, (c.embedding::DOUBLE[])[1:32]), 6)
           AS s1
  FROM q JOIN embeddings c ON c.vec_id <> q.query_id
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s1 DESC, neighbor_id ASC) AS r1
    FROM s1
  ) WHERE r1 <= (SELECT v FROM sl)
), rerank AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_cosine_similarity(q.qv, c.embedding::DOUBLE[]), 6) AS cosine
  FROM short s
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rerank
) WHERE rank <= 5
"""

QUERIES["knn_two_stage_topk"] = (knn_two_stage_topk, KNN_TWO_STAGE_TOPK_SQL)


# --------------------------------------------------------------------------
# Join-cardinality pre-flight
# --------------------------------------------------------------------------
def _orders_customer_on_custkey(spark: SparkSession, sf_dir: str):
    """``orders`` and ``customer`` with their join key renamed ``custkey``."""
    ords = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    return ords, cust


def join_cardinality_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion guardrail (stats.join_cardinality): predict
    |orders ⋈ customer| on custkey from the two per-key counts, plus the
    ACTUAL join count in the same row — the oracle independently computes
    both, so the prediction must equal reality."""
    ords, cust = _orders_customer_on_custkey(spark, sf_dir)
    # r14 (guide §1.2): prediction collect + actual join count were two
    # driver actions; one crossJoined single-row plan runs both subtrees
    # in the caller's single job. Same row, same schema.
    return stats.join_cardinality(ords, cust, ["custkey"]).crossJoin(
        ords.join(cust, "custkey").agg(
            F.count(F.lit(1)).cast("long").alias("actual_join_rows")
        )
    )


JOIN_CARDINALITY_ORDERS_CUSTOMER_SQL = """
WITH ca AS (SELECT o_custkey AS k, count(*)::BIGINT AS na FROM orders GROUP BY 1),
     cb AS (SELECT c_custkey AS k, count(*)::BIGINT AS nb FROM customer GROUP BY 1),
     j AS (SELECT na, nb FROM ca JOIN cb USING (k))
SELECT sum(na * nb)::BIGINT AS est_join_rows,
       count(*)::BIGINT AS n_join_keys,
       max(na * nb)::BIGINT AS max_key_fanout,
       (SELECT count(*) FROM orders o JOIN customer c
        ON o.o_custkey = c.c_custkey)::BIGINT AS actual_join_rows
FROM j
"""

QUERIES["join_cardinality_orders_customer"] = (
    join_cardinality_orders_customer,
    JOIN_CARDINALITY_ORDERS_CUSTOMER_SQL,
)


# --------------------------------------------------------------------------
# Matryoshka truncation QC
# --------------------------------------------------------------------------
def matryoshka_qc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-energy retention at widths 16/32/48
    (similarity.matryoshka_qc) — the measurement that picks
    two_stage_topk's prefix width from data. Ordered by width."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.matryoshka_qc(emb).orderBy("width")


MATRYOSHKA_QC_EMBEDDINGS_SQL = """
WITH per AS (
  SELECT w.width,
         round(round(
           list_sum(list_transform((e.embedding::DOUBLE[])[1:w.width],
                                   x -> x * x))
           / list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)),
         6) * 1000000)::BIGINT AS retained_micro
  FROM embeddings e
  CROSS JOIN (VALUES (16), (32), (48)) w(width)
  WHERE list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)) > 0
)
SELECT width::BIGINT AS width, count(*)::BIGINT AS n_vecs,
       min(retained_micro)::BIGINT AS min_retained_micro,
       sum(retained_micro)::BIGINT AS sum_retained_micro
FROM per GROUP BY 1 ORDER BY width
"""

QUERIES["matryoshka_qc_embeddings"] = (
    matryoshka_qc_embeddings,
    MATRYOSHKA_QC_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# Partition backfill (detect missing → refill only those)
# --------------------------------------------------------------------------
def backfill_partitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-backfill E2E (parquet_sink.missing_partitions /
    backfill_partitions): land events date-partitioned with Jan 7 and
    Jan 21 deliberately absent, DETECT the gaps from the directory
    listing alone, refill only those two partitions via dynamic
    overwrite, then re-read. Output: per-day counts + the detected-gap
    count — the oracle computes the per-day counts from the base table,
    so a missed gap, a partial refill, or an over-wide overwrite all
    change the rows."""
    import shutil
    from . import stores

    from ..sinks.parquet_sink import (
        backfill_partitions,
        missing_partitions,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    holes = ["2024-01-07", "2024-01-21"]
    base = stores.scratch_dir("backfill_")
    path = os.path.join(base, "events")
    try:
        write_partitioned(
            ev.filter(~F.col("event_date").cast("string").isin(holes)),
            path,
            ["event_date"],
        )
        expected = [
            str(r["event_date"])
            for r in ev.select("event_date").distinct().collect()
        ]
        missing = missing_partitions(path, "event_date", expected)
        n_backfilled = backfill_partitions(ev, path, "event_date", missing)
        out = (
            spark.read.parquet(path)
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .withColumn("n_backfilled", F.lit(n_backfilled).cast("long"))
            .orderBy("event_date")
            .collect()
        )
        return spark.createDataFrame(
            [tuple(r) for r in out],
            "event_date date, n_events long, n_backfilled long",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


BACKFILL_PARTITIONS_EVENTS_SQL = """
SELECT ts::DATE AS event_date, count(*)::BIGINT AS n_events,
       2::BIGINT AS n_backfilled
FROM events GROUP BY 1 ORDER BY event_date
"""

QUERIES["backfill_partitions_events"] = (
    backfill_partitions_events,
    BACKFILL_PARTITIONS_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# Triangle counting (degree-ordered)
# --------------------------------------------------------------------------
def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the supplier co-order BACKBONE graph: two
    suppliers are adjacent iff they ship lines of the same order, kept
    only if the pair is among the 20,000 strongest relationships
    (co-occurrence count, fully tie-broken — a constant-bounded edge
    budget, the production move for NEARLY-COMPLETE projection graphs
    whose raw wedge volume would explode; a random bipartite projection
    at sf0.1 is ~84% dense). Counted via the degree-ordered wedge join
    (graph.triangle_count); the oracle counts the SAME triangles with
    the naive a<b<c three-way self-join — two different algorithms must
    agree on the number."""
    from . import graph

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .orderBy(F.col("w").desc(), F.col("sa").asc(), F.col("sb").asc())
        .limit(20000)
        .select("sa", "sb")
    )
    return graph.triangle_count(edges, "sa", "sb")


TRIANGLE_COUNT_SUPPLIERS_SQL = """
WITH e AS (
  SELECT x, y FROM (
    SELECT a.l_suppkey AS x, b.l_suppkey AS y, count(*) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    ORDER BY w DESC, x ASC, y ASC LIMIT 20000
  )
)
SELECT (SELECT count(*) FROM (SELECT x AS v FROM e UNION SELECT y FROM e))::BIGINT
         AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       (SELECT count(*)
        FROM e e1
        JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
        JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y)::BIGINT AS n_triangles
"""

QUERIES["triangle_count_suppliers"] = (
    triangle_count_suppliers,
    TRIANGLE_COUNT_SUPPLIERS_SQL,
)


# --------------------------------------------------------------------------
# Event-transition matrix (clickstream Markov counts)
# --------------------------------------------------------------------------
def event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type TRANSITION counts (the clickstream Markov
    matrix): lag over (user, time) windows — parallel per user key, never
    a global sort — then a (prev, next) pair aggregate. Top-15 by count
    with full tie-breaks. Ties in ts break by event_id so the lag
    sequence is engine-deterministic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return pairs.orderBy(
        F.col("n_transitions").desc(),
        F.col("prev_type").asc(),
        F.col("next_type").asc(),
    ).limit(15)


EVENT_TRANSITIONS_EVENTS_SQL = """
WITH lagged AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n_transitions
FROM lagged WHERE prev_type IS NOT NULL
GROUP BY 1, 2
ORDER BY n_transitions DESC, prev_type ASC, next_type ASC
LIMIT 15
"""

QUERIES["event_transitions_events"] = (
    event_transitions_events,
    EVENT_TRANSITIONS_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# Point-in-time join (facts × SCD2 dimension history)
# --------------------------------------------------------------------------
def pit_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness E2E (temporal.point_in_time_join): build
    a two-version SCD2 user dimension (every user 'bronze' until
    Jan 15 2024, then tier = user_id-derived), join every event to the
    version valid AT ITS TIMESTAMP, and aggregate value by tier. The
    oracle derives each event's tier with a CASE on the same boundary —
    a join that backdates (uses only the current version) or duplicates
    (interval overlap) changes every number."""
    from . import temporal

    ev = load_table(spark, sf_dir, "events")
    # r15 (duplicate-scan audit tail): v1 and v2 each replayed the events
    # scan + user_id distinct — 3 events scans in one plan → 1 behind an
    # eager cut of the distinct user list. No A/B timing was recorded.
    users = cut(ev.select(F.col("user_id")).distinct())
    boundary = F.lit("2024-01-15 00:00:00").cast("timestamp")
    v1 = users.select(
        "user_id",
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("eff_from"),
        boundary.alias("eff_to"),
        F.lit("bronze").alias("tier"),
    )
    v2 = users.select(
        "user_id",
        boundary.alias("eff_from"),
        F.lit(None).cast("timestamp").alias("eff_to"),
        F.when(F.col("user_id") % 3 == 0, F.lit("gold"))
        .otherwise(F.lit("silver"))
        .alias("tier"),
    )
    dim = v1.unionByName(v2)
    joined = temporal.point_in_time_join(ev, dim, ["user_id"], "ts")
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer cents: exact BIGINT on both Spark and oracle sides
            # (Decimal-vs-float64 breaks the driver's hash)
            F.round(F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("sum_value_cents"),
        )
        .orderBy("tier")
    )


PIT_JOIN_EVENTS_SQL = """
SELECT CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'bronze'
            WHEN user_id % 3 = 0 THEN 'gold' ELSE 'silver' END AS tier,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(18,2)) * 100)::BIGINT AS sum_value_cents
FROM events GROUP BY 1 ORDER BY tier
"""

QUERIES["pit_join_events"] = (pit_join_events, PIT_JOIN_EVENTS_SQL)


# --------------------------------------------------------------------------
# Temperature sampling (multilingual corpus mixing, α = 0.5)
# --------------------------------------------------------------------------
def temperature_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature mixing over languages at a 40%-of-corpus
    budget (sampling.temperature_sample): rates from EXACT integer isqrt
    algebra, rows gated by the deterministic id hash. Output per lang:
    population, rate, sampled count — the oracle replays rate derivation
    AND the hash gate, so every number is value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    target = (n_total * 4) // 10
    out = sampling.temperature_sample(docs, "lang", "doc_id", target)
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("keep_rate_bp").alias("keep_rate_bp"),
            F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
        )
        .orderBy("lang")
    )


TEMPERATURE_SAMPLE_DOCS_SQL = f"""
WITH c AS (
  SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY 1
), tot AS (
  SELECT sum(n)::BIGINT AS big_n,
         sum(floor(sqrt(n::DOUBLE))::BIGINT)::BIGINT AS denom
  FROM c
), r0 AS (
  SELECT c.lang, c.n,
         least(10000,
               (((SELECT big_n FROM tot) * 4 // 10)
                * floor(sqrt(c.n::DOUBLE))::BIGINT * 10000)
               // ((SELECT denom FROM tot) * c.n))::BIGINT AS rate_bp0
  FROM c
), r AS (
  -- downward monotone envelope over ascending n (temperature_sample_rates):
  -- ties in n share one raw rate, so the frame order within ties is moot
  SELECT lang, n,
         min(rate_bp0) OVER (ORDER BY n ASC
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS rate_bp
  FROM r0
)
SELECT d.lang, count(*)::BIGINT AS n_docs,
       max(r.rate_bp)::BIGINT AS keep_rate_bp,
       sum(({_SQL_HASH60.format(c="d.doc_id::VARCHAR")} % 10000
            < r.rate_bp)::BIGINT)::BIGINT AS n_sampled
FROM documents d JOIN r ON d.lang = r.lang
GROUP BY d.lang ORDER BY d.lang
"""

QUERIES["temperature_sample_docs"] = (
    temperature_sample_docs,
    TEMPERATURE_SAMPLE_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Winsorization (robust clipping)
# --------------------------------------------------------------------------
def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at [P05, P95]
    (stats.winsorize_by_group). Clipped sums are per-row rounded to cent
    integers BEFORE summing (order-free); clip-flag counts pin the
    percentile parity at both band edges."""
    ev = load_table(spark, sf_dir, "events")
    w = stats.winsorize_by_group(ev, "event_type", "value")
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("clipped_low").cast("long")).alias("n_clipped_low"),
            F.sum(F.col("clipped_high").cast("long")).alias("n_clipped_high"),
            F.sum(F.round(F.col("value_w") * 100).cast("long")).alias(
                "sum_clipped_cents"
            ),
        )
        .orderBy("event_type")
    )


WINSORIZE_EVENTS_SQL = """
WITH p AS (
  SELECT event_type, quantile_cont(value, 0.05) AS plo,
         quantile_cont(value, 0.95) AS phi
  FROM events GROUP BY 1
)
SELECT e.event_type, count(*)::BIGINT AS n_rows,
       sum((e.value < p.plo)::BIGINT)::BIGINT AS n_clipped_low,
       sum((e.value > p.phi)::BIGINT)::BIGINT AS n_clipped_high,
       sum(round(least(greatest(e.value, p.plo), p.phi) * 100)::BIGINT)::BIGINT
         AS sum_clipped_cents
FROM events e JOIN p USING (event_type)
GROUP BY 1 ORDER BY event_type
"""

QUERIES["winsorize_events"] = (winsorize_events, WINSORIZE_EVENTS_SQL)


# --------------------------------------------------------------------------
# Equi-depth histogram (CBO-style column stats)
# --------------------------------------------------------------------------
def histogram_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth 4-bucket histogram of l_extendedprice — the ANALYZE
    TABLE column statistic a cost-based optimizer consumes: exact
    quartile cuts (one value-counts buffer), then a narrow CASE bucket +
    per-bucket count/min/max. At 100 TB the cuts come from
    approx_percentile; the publishing shape is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    # scalar-subquery crossJoin (not collect()): the cut array rides the
    # same job instead of an extra driver round-trip
    cuts = li.agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("c")
    )
    v = F.col("l_extendedprice")
    bucket = (
        F.when(v <= F.element_at("c", 1), F.lit(1))
        .when(v <= F.element_at("c", 2), F.lit(2))
        .when(v <= F.element_at("c", 3), F.lit(3))
        .otherwise(F.lit(4))
    )
    return (
        li.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min(v), 4).alias("min_price"),
            F.round(F.max(v), 4).alias("max_price"),
        )
        .orderBy("bucket")
    )


HISTOGRAM_LINEITEM_SQL = """
WITH c AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS c1,
         quantile_cont(l_extendedprice, 0.50) AS c2,
         quantile_cont(l_extendedprice, 0.75) AS c3
  FROM lineitem
)
SELECT CASE WHEN l_extendedprice <= (SELECT c1 FROM c) THEN 1
            WHEN l_extendedprice <= (SELECT c2 FROM c) THEN 2
            WHEN l_extendedprice <= (SELECT c3 FROM c) THEN 3
            ELSE 4 END::BIGINT AS bucket,
       count(*)::BIGINT AS n_rows,
       round(min(l_extendedprice), 4) AS min_price,
       round(max(l_extendedprice), 4) AS max_price
FROM lineitem GROUP BY 1 ORDER BY bucket
"""

QUERIES["histogram_lineitem"] = (histogram_lineitem, HISTOGRAM_LINEITEM_SQL)


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (round 6)
# --------------------------------------------------------------------------
def kn_bigram_lm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-150 Kneser-Ney smoothed bigram probabilities over the corpus
    (text.kneser_ney_bigrams, D = 0.75): the standard n-gram LM smoothing
    (Kneser-Ney 1995 / Chen-Goodman 1999) whose continuation counts are
    what add-k smoothing (lm_perplexity_docs) lacks. The oracle replays
    counts, both N1+ tables, and the full float formula; the top-150 cut
    is fully tie-broken (prob desc, w1, w2)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.kneser_ney_bigrams(docs, "text")
        .orderBy(F.col("pkn_micro").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(150)
    )


def _kn_bigram_oracle() -> str:
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH t AS (
  SELECT {toks} AS toks FROM documents
), base AS (
  SELECT toks FROM t WHERE len(toks) >= 2
), big AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i])) AS w1,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i + 1])) AS w2
  FROM base
), c2 AS (
  SELECT w1, w2, count(*)::BIGINT AS c2 FROM big GROUP BY w1, w2
), lft AS (
  SELECT w1, sum(c2)::BIGINT AS c1, count(*)::BIGINT AS n1p_fw
  FROM c2 GROUP BY w1
), rgt AS (
  SELECT w2, count(*)::BIGINT AS n1p_bw FROM c2 GROUP BY w2
), btot AS (
  SELECT count(*)::BIGINT AS b FROM c2
)
SELECT c2.w1, c2.w2, c2.c2, lft.c1, lft.n1p_fw, rgt.n1p_bw,
       floor((greatest(c2.c2 - 0.75::DOUBLE, 0.0::DOUBLE) / lft.c1
              + 0.75::DOUBLE * lft.n1p_fw / lft.c1
                * (rgt.n1p_bw / btot.b::DOUBLE)) * 1e6 + 0.5)::BIGINT
           AS pkn_micro
FROM c2, btot
JOIN lft ON lft.w1 = c2.w1
JOIN rgt ON rgt.w2 = c2.w2
ORDER BY pkn_micro DESC, c2.w1 ASC, c2.w2 ASC
LIMIT 150
"""


KN_BIGRAM_LM_CORPUS_SQL = _kn_bigram_oracle()

QUERIES["kn_bigram_lm_corpus"] = (kn_bigram_lm_corpus, KN_BIGRAM_LM_CORPUS_SQL)


# --------------------------------------------------------------------------
# PSI distribution drift per source (round 6)
# --------------------------------------------------------------------------
def psi_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution vs the whole corpus (stats.psi_by_group over power-of-two
    n_chars bins) — the per-crawl drift monitor. Integer-exact binning,
    add-one smoothing over a dense 21-bin universe, per-bin micro-rounded
    contributions summed as integers."""
    docs = load_table(spark, sf_dir, "documents")
    return stats.psi_by_group(docs, "source", "n_chars").orderBy("source")


def _psi_oracle() -> str:
    bkt = " + ".join(f"(n_chars >= {2 ** k})::INT" for k in range(20))
    return f"""
WITH c AS (
  SELECT source AS grp, ({bkt}) AS bkt, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
), tot AS (
  SELECT count(*)::BIGINT AS n FROM documents
), base AS (
  SELECT bkt, sum(c)::BIGINT AS cq FROM c GROUP BY bkt
), grps AS (
  SELECT DISTINCT grp FROM c
), u AS (
  SELECT grp, range::INT AS bkt FROM grps, range(0, 21)
), gn AS (
  SELECT grp, sum(c)::BIGINT AS n_rows FROM c GROUP BY grp
), dense AS (
  SELECT u.grp, u.bkt,
         coalesce(c.c, 0)::BIGINT AS c,
         coalesce(base.cq, 0)::BIGINT AS cq,
         gn.n_rows, tot.n
  FROM u
  LEFT JOIN c ON c.grp = u.grp AND c.bkt = u.bkt
  LEFT JOIN base ON base.bkt = u.bkt
  JOIN gn ON gn.grp = u.grp, tot
), terms AS (
  SELECT grp, n_rows,
         floor(((c + 1)::DOUBLE / (n_rows + 21)::DOUBLE
                - (cq + 1)::DOUBLE / (n + 21)::DOUBLE)
               * ln(((c + 1)::DOUBLE / (n_rows + 21)::DOUBLE)
                    / ((cq + 1)::DOUBLE / (n + 21)::DOUBLE))
               * 1e6 + 0.5)::BIGINT AS term_micro
  FROM dense
)
SELECT grp AS source, max(n_rows)::BIGINT AS n_rows,
       sum(term_micro)::BIGINT AS psi_micro
FROM terms GROUP BY grp ORDER BY source
"""


PSI_DRIFT_DOCS_SQL = _psi_oracle()

QUERIES["psi_drift_docs"] = (psi_drift_docs, PSI_DRIFT_DOCS_SQL)


# --------------------------------------------------------------------------
# Per-user event trajectories (round 6)
# --------------------------------------------------------------------------
def trajectory_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type trajectories, first 50 steps, md5
    fingerprint (temporal.assemble_trajectories): the event-log →
    training-sequence primitive. (ts, event_id) makes each sequence a
    total order; the oracle rebuilds the same string with an ordered
    string_agg under a row_number cutoff."""
    from . import temporal

    ev = load_table(spark, sf_dir, "events")
    return temporal.assemble_trajectories(
        ev, "user_id", "ts", "event_id", "event_type", max_steps=50
    ).orderBy("user_id")


TRAJECTORY_EVENTS_SQL = """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
), t AS (
  SELECT user_id, md5(string_agg(event_type, '|' ORDER BY rn)) AS traj_md5
  FROM r WHERE rn <= 50 GROUP BY user_id
), g AS (
  SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY user_id
)
SELECT g.user_id, g.n_events,
       least(g.n_events, 50)::BIGINT AS n_steps, t.traj_md5
FROM g JOIN t USING (user_id) ORDER BY user_id
"""

QUERIES["trajectory_events"] = (trajectory_events, TRAJECTORY_EVENTS_SQL)


# --------------------------------------------------------------------------
# Product-quantization ANN with asymmetric distance (round 6)
# --------------------------------------------------------------------------
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search E2E (similarity.pq_train / pq_encode / pq_adc_topk;
    Jégou et al. 2011): m=4 subspaces × k=8 codewords trained with two
    deterministic Lloyd rounds, corpus encoded to 4 codes, the 3
    lowest-id vectors queried through the micro-rounded ADC LUT, top-5
    per query. The oracle replays training (seeds → two
    assignment/mean/coalesce rounds), encoding, LUT, and the integer ADC
    sum — a wrong codeword anywhere reorders the top-5."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return similarity.pq_adc_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", qid_col="qid",
        m=4, k=8, n_iter=2, topk=5,
    ).orderBy("qid", "rk")


def _pq_oracle(m: int = 4, k: int = 8, d_sub: int = 16, n_q: int = 3,
               topk: int = 5) -> str:
    dist = _sql_pq_dist(d_sub, 'q.embedding')
    return f"""
WITH {_sql_pq_training_ctes(m, k, d_sub)}, q AS (
  SELECT vec_id AS qid, embedding FROM embeddings ORDER BY vec_id LIMIT {n_q}
), lut AS (
  SELECT q.qid, b.m, b.code,
         floor({dist} * 1e6 + 0.5)::BIGINT AS d_micro
  FROM q, b2l b
), sc AS (
  SELECT l.qid, f.vec_id, sum(l.d_micro)::BIGINT AS adc_micro
  FROM enc f JOIN lut l ON l.m = f.m AND l.code = f.code
  GROUP BY 1, 2
)
{_sql_adc_topk(topk)}
"""


PQ_ADC_TOPK_EMBEDDINGS_SQL = _pq_oracle()

QUERIES["pq_adc_topk_embeddings"] = (
    pq_adc_topk_embeddings,
    PQ_ADC_TOPK_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# Deterministic corpus shuffle manifest (round 6)
# --------------------------------------------------------------------------
def shuffle_ids_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global training-order shuffle as a MANIFEST: contiguous 0-based
    positions in (md5-hash, doc_id) order — a reproducible pseudo-random
    permutation of the corpus with no RNG state and no global sort
    (sampling.assign_contiguous_ids over the 60-bit md5 key — the
    arbitrary-key path its docstring promises). Epoch reshuffles = salt
    the hash input. Output thinned to every 37th doc_id; the oracle
    replays with the exact global window."""
    from ..functions import md5_hash60
    from . import sampling

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", md5_hash60(F.col("doc_id").cast("string")).alias("h")
    )
    out = sampling.assign_contiguous_ids(
        docs, ["h", "doc_id"], id_col="pos", n_buckets=32
    )
    return (
        out.filter(F.col("doc_id") % 37 == 0)
        .select("doc_id", "pos")
        .orderBy("doc_id")
    )


SHUFFLE_IDS_DOCS_SQL = f"""
SELECT doc_id, pos FROM (
  SELECT doc_id,
         (row_number() OVER (ORDER BY {_SQL_HASH60.format(c='doc_id::VARCHAR')} ASC,
                             doc_id ASC) - 1)::BIGINT AS pos
  FROM documents
) WHERE doc_id % 37 = 0
ORDER BY doc_id
"""

QUERIES["shuffle_ids_docs"] = (shuffle_ids_docs, SHUFFLE_IDS_DOCS_SQL)


# --------------------------------------------------------------------------
# IVF-PQ composition (round 6)
# --------------------------------------------------------------------------
def pq_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search E2E (similarity.pq_ivf_topk): a 4-list coarse
    quantizer (argmax dot, deterministic seeds) routes every vector to
    one inverted list, each query probes its 2 nearest lists, and the
    ADC scoring runs over the probed lists' codes only — the composition
    that bounds PQ's candidate volume at corpus scale. The oracle
    replays the coarse assignment/probe ranking AND the full PQ
    training/encode/LUT chain."""
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return similarity.pq_ivf_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", qid_col="qid",
        n_lists=4, n_probe=2, m=4, k=8, n_iter=2, topk=5,
    ).orderBy("qid", "rk")


def _pq_ivf_oracle(m: int = 4, k: int = 8, d_sub: int = 16, n_q: int = 3,
                   n_lists: int = 4, n_probe: int = 2, topk: int = 5) -> str:
    dist = _sql_pq_dist(d_sub, 'q.embedding')
    return f"""
WITH {_sql_pq_training_ctes(m, k, d_sub)}, q AS (
  SELECT vec_id AS qid, embedding FROM embeddings ORDER BY vec_id LIMIT {n_q}
), {_sql_ivf_lists(n_lists)}, probe AS (
  SELECT qid, cid AS list_id FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_inner_product(q.embedding::DOUBLE[],
                                         c.cv::DOUBLE[]) DESC,
                      c.cid ASC) AS rk
    FROM q, cents c
  ) WHERE rk <= {n_probe}
), cand AS (
  SELECT p.qid, a.vec_id FROM probe p JOIN asg a USING (list_id)
), lut AS (
  SELECT q.qid, b.m, b.code,
         floor({dist} * 1e6 + 0.5)::BIGINT AS d_micro
  FROM q, b2l b
), sc AS (
  SELECT cd.qid, f.vec_id, sum(l.d_micro)::BIGINT AS adc_micro
  FROM enc f
  JOIN cand cd ON cd.vec_id = f.vec_id
  JOIN lut l ON l.qid = cd.qid AND l.m = f.m AND l.code = f.code
  GROUP BY 1, 2
)
{_sql_adc_topk(topk)}
"""


PQ_IVF_TOPK_EMBEDDINGS_SQL = _pq_ivf_oracle()

QUERIES["pq_ivf_topk_embeddings"] = (
    pq_ivf_topk_embeddings,
    PQ_IVF_TOPK_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# URL canonicalization + dedup (round 6)
# --------------------------------------------------------------------------
def url_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-key dedup (web.canonicalize_url): the first pass of every
    web-corpus pipeline. The documents table carries no URL column, so
    each doc gets a DETERMINISTIC synthetic URL (source + doc_id%8 page,
    decorated per doc_id%3 with scheme case, www., default ports, shuffled
    + tracking query params, fragments, trailing slashes) built
    identically in the oracle — the operator under test is the
    canonicalizer + one hash agg on the canonical key, never the
    synthesis. The moduli matter: 3 is coprime with the (source, page)
    key cycle, so every canonical group mixes ALL the decoration
    variants, proving cross-variant collapse (a 4-variant doc_id%4 key
    sharing a factor with the key cycle would put only one variant in
    each group and test nothing)."""
    from . import web

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    page = (F.col("doc_id") % 8).cast("string")
    src = F.col("source")
    v = F.col("doc_id") % 3
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://www."), src, F.lit(".example.com/page/"), page,
                F.lit("?a=1&b=2"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(src), F.lit(".EXAMPLE.COM:443/page/"),
                page, F.lit("/?b=2&a=1&utm_source=feed"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://www."), src, F.lit(".example.com:80/page/"), page,
                F.lit("/?a=1&utm_campaign=x&b=2&fbclid=zzz#frag"),
            )
        )
    )
    return (
        docs.select("doc_id", web.canonicalize_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("keep_id"),
        )
        .orderBy("canonical_url")
    )


URL_DEDUP_DOCS_SQL = r"""
WITH raw AS (
  SELECT doc_id,
    CASE (doc_id % 3)
      WHEN 0 THEN 'https://www.' || source || '.example.com/page/'
                  || (doc_id % 8)::VARCHAR || '?a=1&b=2'
      WHEN 1 THEN 'HTTPS://' || upper(source) || '.EXAMPLE.COM:443/page/'
                  || (doc_id % 8)::VARCHAR || '/?b=2&a=1&utm_source=feed'
      ELSE 'http://www.' || source || '.example.com:80/page/'
           || (doc_id % 8)::VARCHAR || '/?a=1&utm_campaign=x&b=2&fbclid=zzz#frag'
    END AS url
  FROM documents
), s1 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
             lower(trim(url)), '#.*$', ''), '^https?://', ''), '^www\.', '')
             AS u
  FROM raw
), s2 AS (
  SELECT doc_id,
         regexp_replace(u, '^([^/?:]+):(80|443)([/?]|$)', '\1\3') AS u
  FROM s1
), parts AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u, '\?.*$', ''), '/+$', '') AS path,
         CASE WHEN contains(u, '?')
              THEN regexp_replace(u, '^[^?]*\?', '') ELSE '' END AS qs
  FROM s2
), canon AS (
  SELECT doc_id,
         CASE WHEN len(params) > 0
              THEN path || '?' || array_to_string(params, '&')
              ELSE path END AS canonical_url
  FROM (
    SELECT doc_id, path,
           list_sort(list_filter(string_split(qs, '&'),
             p -> p <> '' AND NOT regexp_matches(
                 p, '^(utm_[a-z0-9_]*|fbclid|gclid|ref)='))) AS params
    FROM parts
  )
)
SELECT canonical_url, count(*)::BIGINT AS n_dups, min(doc_id)::BIGINT AS keep_id
FROM canon GROUP BY 1 ORDER BY canonical_url
"""

QUERIES["url_dedup_docs"] = (url_dedup_docs, URL_DEDUP_DOCS_SQL)


# --------------------------------------------------------------------------
# DSIR importance weights (round 6)
# --------------------------------------------------------------------------
def dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 documents by DSIR importance log-weight toward the
    English-language target (sampling.dsir_importance, 256 hashed
    uni+bigram buckets): the classifier-free data-selection scorer of
    Xie et al. 2023. Integer-micro bucket log-ratios make per-doc dot
    products order-free; the cut is fully tie-broken (weight desc,
    doc_id asc)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.dsir_importance(
            docs, "doc_id", "text", F.col("lang") == "en", n_buckets=256
        )
        .orderBy(F.col("weight_micro").desc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", "is_target", "n_grams", "weight_micro")
    )


def _dsir_oracle() -> str:
    toks = _SQL_TOKENS.format(c="text")
    h = _SQL_HASH60.format(c="g")
    return f"""
WITH t AS (
  SELECT doc_id, (lang = 'en') AS is_target, {toks} AS toks FROM documents
), tt AS (
  SELECT * FROM t WHERE len(toks) >= 1
), g AS (
  SELECT doc_id, is_target, unnest(toks) AS g FROM tt
  UNION ALL
  SELECT doc_id, is_target,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM tt WHERE len(toks) >= 2
), db AS (
  SELECT doc_id, is_target, {h} % 256 AS b, count(*)::BIGINT AS c
  FROM g GROUP BY 1, 2, 3
), bs AS (
  SELECT b, sum(c)::BIGINT AS cr,
         sum(CASE WHEN is_target THEN c ELSE 0 END)::BIGINT AS ct
  FROM db GROUP BY b
), tot AS (
  SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM bs
), lr AS (
  SELECT b,
         floor((ln((ct + 1)::DOUBLE / (nt + 256)::DOUBLE)
                - ln((cr + 1)::DOUBLE / (nr + 256)::DOUBLE)) * 1e6 + 0.5)::BIGINT
             AS term_micro
  FROM bs, tot
)
SELECT doc_id, is_target, sum(c)::BIGINT AS n_grams,
       sum(c * term_micro)::BIGINT AS weight_micro
FROM db JOIN lr USING (b)
GROUP BY doc_id, is_target
ORDER BY weight_micro DESC, doc_id ASC
LIMIT 100
"""


DSIR_IMPORTANCE_DOCS_SQL = _dsir_oracle()

QUERIES["dsir_importance_docs"] = (dsir_importance_docs, DSIR_IMPORTANCE_DOCS_SQL)


# --------------------------------------------------------------------------
# Naive-Bayes classifier confusion matrix (round 6)
# --------------------------------------------------------------------------
def nb_lang_confusion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language confusion matrix of the one-pass multinomial Naive Bayes
    classifier (text.nb_classify) trained on the corpus's own lang labels
    — the 'fastText-like' quality/language-filter shape of CCNet and the
    GPT-3/LLaMA data pipelines, argmax included, fully oracle-replayed."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.nb_classify(docs, "doc_id", "lang", "text")
    return (
        pred.groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "pred")
    )


def _nb_confusion_oracle() -> str:
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH base AS (
  SELECT doc_id, lang, {toks} AS toks FROM documents
), b2 AS (
  SELECT * FROM base WHERE len(toks) >= 1
), dtc AS (
  SELECT doc_id, lang, t, count(*)::BIGINT AS c
  FROM (SELECT doc_id, lang, unnest(toks) AS t FROM b2)
  GROUP BY 1, 2, 3
), ct AS (
  SELECT lang AS cls, t, sum(c)::BIGINT AS nct FROM dtc GROUP BY 1, 2
), clst AS (
  SELECT cls, sum(nct)::BIGINT AS nc FROM ct GROUP BY cls
), vocab AS (
  SELECT DISTINCT t FROM ct
), v AS (
  SELECT count(*)::BIGINT AS v FROM vocab
), model AS (
  SELECT g.cls, g.t,
         floor(ln((coalesce(ct.nct, 0) + 1)::DOUBLE
                  / (clst.nc + v.v)::DOUBLE) * 1e6 + 0.5)::BIGINT AS lp_micro
  FROM (SELECT c.cls, vo.t FROM (SELECT DISTINCT cls FROM clst) c, vocab vo) g
  LEFT JOIN ct ON ct.cls = g.cls AND ct.t = g.t
  JOIN clst ON clst.cls = g.cls, v
), nd AS (
  SELECT count(*)::BIGINT AS n_docs FROM b2
), prior AS (
  SELECT lang AS cls,
         floor(ln(count(*)::DOUBLE / (SELECT n_docs FROM nd)::DOUBLE)
               * 1e6 + 0.5)::BIGINT AS prior_micro
  FROM b2 GROUP BY 1
), sc AS (
  SELECT d.doc_id, d.lang, m.cls, sum(d.c * m.lp_micro)::BIGINT AS dot_micro
  FROM dtc d JOIN model m ON m.t = d.t GROUP BY 1, 2, 3
), sc2 AS (
  SELECT sc.doc_id, sc.lang, sc.cls, sc.dot_micro + p.prior_micro AS score_micro
  FROM sc JOIN prior p ON p.cls = sc.cls
), ranked AS (
  SELECT doc_id, lang, cls,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, cls ASC) AS rk
  FROM sc2
)
SELECT lang, cls AS pred, count(*)::BIGINT AS n_docs
FROM ranked WHERE rk = 1 GROUP BY 1, 2 ORDER BY lang, pred
"""


NB_LANG_CONFUSION_DOCS_SQL = _nb_confusion_oracle()

QUERIES["nb_lang_confusion_docs"] = (nb_lang_confusion_docs, NB_LANG_CONFUSION_DOCS_SQL)


# --------------------------------------------------------------------------
# Wilson lower-bound domain quality ranking (round 6)
# --------------------------------------------------------------------------
def wilson_quality_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sources ranked by the Wilson score lower bound of their
    quality-gate pass rate (stats.wilson_lower_bound, z=1.96, gate =
    n_chars >= 200): the size-honest per-domain quality cut — a tiny
    all-pass source must not outrank a large nearly-all-pass one."""
    docs = load_table(spark, sf_dir, "documents")
    return stats.wilson_lower_bound(
        docs, "source", F.col("n_chars") >= 200, z=1.96
    ).orderBy(F.col("wilson_lb_micro").desc(), F.col("source").asc())


WILSON_QUALITY_SOURCES_SQL = """
WITH agg AS (
  SELECT source, count(*)::BIGINT AS n_rows,
         sum((n_chars >= 200)::INT)::BIGINT AS n_pass
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_rows, n_pass,
         n_pass::DOUBLE / n_rows::DOUBLE AS p,
         n_rows::DOUBLE AS n
  FROM agg
)
SELECT source, n_rows, n_pass,
       floor(((p + 3.8416 / (2 * n)
               - 1.96 * sqrt(p * (1 - p) / n + 3.8416 / (4 * n * n)))
              / (1 + 3.8416 / n)) * 1e6 + 0.5)::BIGINT AS wilson_lb_micro
FROM w
ORDER BY wilson_lb_micro DESC, source ASC
"""

QUERIES["wilson_quality_sources"] = (wilson_quality_sources, WILSON_QUALITY_SOURCES_SQL)


# --------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sample (round 6)
# --------------------------------------------------------------------------
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample of 50 docs without replacement
    (sampling.weighted_sample): exponential keys ln(u)/w with the
    portable-hash uniform, micro-rounded before the top-k cut so the
    selected set is engine-exact; the cut itself is a
    TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_sample(docs, "doc_id", F.col("n_chars"), k=50)


def _weighted_sample_oracle() -> str:
    h = _SQL_HASH60.format(c="doc_id::VARCHAR")
    return f"""
SELECT doc_id, n_chars AS weight,
       floor(ln(({h} + 1)::DOUBLE / 1152921504606846976.0)
             / n_chars * 1e6 + 0.5)::BIGINT AS key_micro
FROM documents
WHERE n_chars > 0
ORDER BY key_micro DESC, doc_id ASC
LIMIT 50
"""


WEIGHTED_SAMPLE_DOCS_SQL = _weighted_sample_oracle()

QUERIES["weighted_sample_docs"] = (weighted_sample_docs, WEIGHTED_SAMPLE_DOCS_SQL)


# --------------------------------------------------------------------------
# UniMax budget-capped mixture allocation (round 6)
# --------------------------------------------------------------------------
def unimax_mixture_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-budget allocation under the UniMax scheme
    (sampling.unimax_allocation, epochs=1, budget = 95% of total corpus
    chars): as-even-as-possible across sources, small sources capped at
    one full pass, surplus waterfilled into the larger ones. The budget
    derives from one bounded scalar agg (driver metadata) with exact
    integer algebra — (total*19)//20 on both sides — so the oracle
    replays the whole pivot computation."""
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars").cast("long").alias("t")).collect()[0]["t"]
    budget = (int(total) * 19) // 20
    return sampling.unimax_allocation(
        docs, "source", "n_chars", budget=budget, epochs=1
    )


UNIMAX_MIXTURE_SOURCES_SQL = """
WITH b AS (
  SELECT (sum(n_chars)::BIGINT * 19) // 20 AS budget FROM documents
), sizes AS (
  SELECT source, sum(n_chars)::BIGINT AS avail FROM documents GROUP BY source
), ranked AS (
  SELECT source, avail, avail AS cap,
         row_number() OVER (ORDER BY avail ASC, source ASC) AS j,
         count(*) OVER () AS k,
         coalesce(sum(avail) OVER (ORDER BY avail ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS prefix
  FROM sizes
), flagged AS (
  SELECT r.*, (r.cap * (r.k - r.j + 1) <= b.budget - r.prefix) AS capped
  FROM ranked r, b
), tot AS (
  SELECT sum(CASE WHEN capped THEN cap ELSE 0 END)::BIGINT AS capped_sum,
         sum(CASE WHEN capped THEN 0 ELSE 1 END)::BIGINT AS n_uncapped
  FROM flagged
)
SELECT f.source, f.avail, f.cap,
       CASE WHEN f.capped THEN f.cap
            ELSE ((b.budget - t.capped_sum) // t.n_uncapped)::BIGINT
       END AS alloc,
       f.capped
FROM flagged f, tot t, b
ORDER BY f.source
"""

QUERIES["unimax_mixture_sources"] = (unimax_mixture_sources, UNIMAX_MIXTURE_SOURCES_SQL)


# --------------------------------------------------------------------------
# HLL sketch set-operation estimate (round 6)
# --------------------------------------------------------------------------
def hll_intersection_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier cohort intersection: |users who clicked ∩ users with a
    high-value event| estimated by inclusion-exclusion over HLL++
    (est_a + est_b − est_union) — the distinct-set algebra a 100 TB
    engine runs when exact distinct joins are unaffordable.

    Same gated contract as ndv_hll_events: the estimate is
    engine-specific, so the row emits the EXACT cohort sizes plus a
    boolean asserting the estimate landed within 5·rsd of exact —
    relative to the UNION, because that is how inclusion-exclusion
    error actually scales (union errors do not cancel; when the true
    intersection is small relative to the union the relative error on
    the intersection blows up, which is why theta sketches replace HLL
    for heavy set algebra — documented limitation, checked bound)."""
    ev = load_table(spark, sf_dir, "events")
    # One-pass shape (round 7, closing the r6 review's watch item): ONE
    # user-keyed aggregation builds the (user_id, in_a, in_b) distinct
    # table; the three exact cohort counts are then plain conditional
    # sums — no 3-way countDistinct Expand. The HLL sketches run over the
    # same distinct grain: HLL registers are duplicate-insensitive, so
    # the estimates are bit-identical to sketching the raw event stream.
    users = ev.groupBy("user_id").agg(
        F.max(F.col("event_type") == "click").alias("a"),
        F.max(F.col("value") >= 3.0).alias("b"),
    )
    ua = F.when(F.col("a"), F.col("user_id"))
    ub = F.when(F.col("b"), F.col("user_id"))
    uu = F.when(F.col("a") | F.col("b"), F.col("user_id"))
    est_inter = (
        F.approx_count_distinct(ua, rsd=0.01)
        + F.approx_count_distinct(ub, rsd=0.01)
        - F.approx_count_distinct(uu, rsd=0.01)
    )
    exact_a = F.sum(F.col("a").cast("long"))
    exact_b = F.sum(F.col("b").cast("long"))
    exact_u = F.sum((F.col("a") | F.col("b")).cast("long"))
    exact_inter = exact_a + exact_b - exact_u
    return users.agg(
        exact_a.cast("long").alias("exact_clickers"),
        exact_b.cast("long").alias("exact_high_value"),
        exact_u.cast("long").alias("exact_union"),
        exact_inter.cast("long").alias("exact_intersection"),
        (
            F.abs(est_inter.cast("double") - exact_inter.cast("double"))
            <= 0.05 * exact_u.cast("double")
        ).alias("sketch_within_bound"),
    )


HLL_INTERSECTION_EVENTS_SQL = """
SELECT count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)::BIGINT
           AS exact_clickers,
       count(DISTINCT CASE WHEN value >= 3.0 THEN user_id END)::BIGINT
           AS exact_high_value,
       count(DISTINCT CASE WHEN event_type = 'click' OR value >= 3.0
                           THEN user_id END)::BIGINT AS exact_union,
       (count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
        + count(DISTINCT CASE WHEN value >= 3.0 THEN user_id END)
        - count(DISTINCT CASE WHEN event_type = 'click' OR value >= 3.0
                              THEN user_id END))::BIGINT AS exact_intersection,
       true AS sketch_within_bound
FROM events
"""

QUERIES["hll_intersection_events"] = (
    hll_intersection_events,
    HLL_INTERSECTION_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# EWMA per user (round 6)
# --------------------------------------------------------------------------
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 users by recency-weighted (EWMA, α=0.25) event value
    (temporal.ewma_by_key): integer-micro terms summed order-free, cut
    fully tie-broken (ewma desc, user asc)."""
    from . import temporal

    ev = load_table(spark, sf_dir, "events")
    return (
        temporal.ewma_by_key(ev, "user_id", "ts", "value", alpha=0.25)
        .orderBy(F.col("ewma_micro").desc(), F.col("user_id").asc())
        .limit(50)
    )


EWMA_USER_VALUES_SQL = """
WITH t AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), terms AS (
  SELECT user_id,
         floor(0.25 * power(0.75, (n - rn)::DOUBLE) * value * 1e6 + 0.5)::BIGINT
             AS term_micro
  FROM t
)
SELECT user_id, count(*)::BIGINT AS n_events,
       sum(term_micro)::BIGINT AS ewma_micro
FROM terms GROUP BY user_id
ORDER BY ewma_micro DESC, user_id ASC
LIMIT 50
"""

QUERIES["ewma_user_values"] = (ewma_user_values, EWMA_USER_VALUES_SQL)


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov drift per source (round 6)
# --------------------------------------------------------------------------
def ks_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic of each source's document-length
    distribution vs the whole corpus (stats.ks_by_group): the rank-based
    companion to psi_drift_docs — shape shifts inside one PSI bin are
    invisible to PSI's fixed power-of-two bins but move the KS sup.
    Integer cross-multiplied ECDF comparison, one final micro-rounded
    division."""
    docs = load_table(spark, sf_dir, "documents")
    return stats.ks_by_group(docs, "source", "n_chars").orderBy("source")


# Per-source and whole-corpus ECDFs of n_chars on one value grid (cum_g,
# cum_all), shared by both KS oracles.
_SQL_KS_ECDF = """gv AS (
  SELECT source AS grp, n_chars AS v, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
), vals AS (
  SELECT v, sum(c)::BIGINT AS c_all FROM gv GROUP BY v
), groups AS (
  SELECT grp, sum(c)::BIGINT AS n_g FROM gv GROUP BY grp
), na AS (
  SELECT sum(c_all)::BIGINT AS n_all FROM vals
), grid AS (
  SELECT g.grp, g.n_g, va.v, coalesce(gv.c, 0)::BIGINT AS c, va.c_all
  FROM groups g CROSS JOIN vals va
  LEFT JOIN gv ON gv.grp = g.grp AND gv.v = va.v
), cum AS (
  SELECT grp, n_g,
         sum(c) OVER (PARTITION BY grp ORDER BY v ASC) AS cum_g,
         sum(c_all) OVER (PARTITION BY grp ORDER BY v ASC) AS cum_all
  FROM grid
)"""
KS_DRIFT_DOCS_SQL = f"""
WITH {_SQL_KS_ECDF}
SELECT grp AS source, n_g AS n_rows,
       floor(max(abs(cum_g * na.n_all - cum_all * n_g))
             / (n_g * na.n_all)::DOUBLE * 1e6 + 0.5)::BIGINT AS ks_micro
FROM cum, na
GROUP BY grp, n_g, na.n_all
ORDER BY source
"""

QUERIES["ks_drift_docs"] = (ks_drift_docs, KS_DRIFT_DOCS_SQL)


# --------------------------------------------------------------------------
# Chi-square independence test (round 6)
# --------------------------------------------------------------------------
def chi2_lang_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of language vs source over
    the documents table (stats.chi_square_independence): the corpus-
    balance question — is language mix independent of crawl source? —
    answered from the dense 5x20 contingency grid with integer-micro
    cell terms summed order-free."""
    docs = load_table(spark, sf_dir, "documents")
    return stats.chi_square_independence(docs, "lang", "source")


CHI2_LANG_SOURCE_DOCS_SQL = """
WITH ab AS (
  SELECT lang AS a, source AS b, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
), ra AS (
  SELECT a, sum(c)::BIGINT AS ra FROM ab GROUP BY a
), cb AS (
  SELECT b, sum(c)::BIGINT AS cb FROM ab GROUP BY b
), n AS (
  SELECT sum(c)::BIGINT AS n FROM ab
), grid AS (
  SELECT ra.a, cb.b, ra.ra, cb.cb, coalesce(ab.c, 0)::BIGINT AS c, n.n
  FROM ra CROSS JOIN cb
  LEFT JOIN ab ON ab.a = ra.a AND ab.b = cb.b, n
), terms AS (
  SELECT a, b, n,
         floor((c - ra::DOUBLE * cb::DOUBLE / n::DOUBLE)
               * (c - ra::DOUBLE * cb::DOUBLE / n::DOUBLE)
               / (ra::DOUBLE * cb::DOUBLE / n::DOUBLE) * 1e6 + 0.5)::BIGINT
             AS term
  FROM grid
)
SELECT max(n)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_cells,
       ((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1))::BIGINT AS dof,
       sum(term)::BIGINT AS chi2_micro
FROM terms
"""

QUERIES["chi2_lang_source_docs"] = (chi2_lang_source_docs, CHI2_LANG_SOURCE_DOCS_SQL)


# --------------------------------------------------------------------------
# KMV (bottom-k / theta-style) sketch set algebra (round 7)
# --------------------------------------------------------------------------
_KMV_K = 64
_KMV_CLICK_MICRO = 650_000_000  # per-user click value >= 650.0, in micros
_KMV_N_PURCH = 14


def theta_intersection_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort set algebra on a KMV (bottom-k) sketch — the portable
    theta-sketch tier the hll_intersection_events docstring points at:
    HLL inclusion-exclusion degrades when the true intersection is small
    relative to the union (union errors do not cancel), while a KMV
    sketch estimates the intersection DIRECTLY from the shared sample
    below the union threshold (Beyer et al., SIGMOD'07).

    Cohorts (per-user aggregates, one pass over events):
      A = users whose total click value >= 650.0 (integer-micro sum,
          order-free for engine-exact parity),
      B = users with >= 14 purchase events.

    Dataflow (100 TB shape): ONE user-keyed aggregation builds the
    (user_id, flag_a, flag_b) table — this also fixes the r6 watch item
    on hll_intersection_events' 3-way countDistinct expand; everything
    downstream runs on that distinct table. Bottom-k sketches are
    TakeOrderedAndProject (k smallest hashes per set, never a full
    sort); the estimate arithmetic is one fixed parenthesization over
    exact integers so DuckDB replays the ESTIMATES bit-for-bit —
    sketch values here are hash-checked, not just bounded. The exact
    columns exist as the checked contract; at 100 TB only the sketch
    side runs.

    est_union = (k-1) / (theta / 2^60); est_inter = common/k * est_union
    where common = |bottomk(A) ∩ bottomk(B) ∩ {h <= theta}|. When the
    union fits the sketch (nk < k) both estimates are exact by
    construction. within_bound asserts |est - exact| <= 5/sqrt(k-1) of
    the exact union on the intersection estimate."""
    from ..functions import md5_hash60
    from . import sketch

    ev = load_table(spark, sf_dir, "events")
    k = _KMV_K
    users = cut(
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.round(F.col("value") * 1e6).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("click_micro"),
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1))).alias(
                "n_purch"
            ),
        )
        .select(
            (F.col("click_micro") >= _KMV_CLICK_MICRO).alias("a"),
            (F.col("n_purch") >= _KMV_N_PURCH).alias("b"),
            md5_hash60(F.col("user_id").cast("string")).alias("h"),
        ),
        eager=False,  # feeds 4 consumers; one user-agg pass
    )
    ka = sketch.kmv_bottom_k(users.filter(F.col("a")), "h", k)
    kb = sketch.kmv_bottom_k(users.filter(F.col("b")), "h", k)
    ku = sketch.kmv_bottom_k(users.filter(F.col("a") | F.col("b")), "h", k)
    u_stats = sketch.kmv_union_stats(ku, k)
    common = (
        ka.join(kb, "h")
        .crossJoin(u_stats.select("theta"))
        .filter(F.col("h") <= F.col("theta"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    exact = users.agg(
        F.sum(F.col("a").cast("long")).alias("exact_a"),
        F.sum(F.col("b").cast("long")).alias("exact_b"),
        F.sum((F.col("a") | F.col("b")).cast("long")).alias("exact_union"),
        F.sum((F.col("a") & F.col("b")).cast("long")).alias("exact_intersection"),
    )
    two60 = 1152921504606846976.0  # 2^60, exact in double
    est_inter = (
        F.when(F.col("nk") < k, F.col("common").cast("double"))
        .otherwise(
            F.floor(
                (
                    (F.lit(float(k - 1)) * F.lit(two60))
                    / F.col("theta").cast("double")
                )
                * F.col("common").cast("double")
                / F.lit(float(k))
            ).cast("double")
        )
        .cast("long")
    )
    bound = F.lit(5.0 / (k - 1) ** 0.5) * F.col("exact_union").cast("double")
    return (
        exact.crossJoin(u_stats)
        .crossJoin(common)
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersection",
            F.col("union_est").alias("kmv_union_est"),
            est_inter.alias("kmv_intersection_est"),
            (
                F.abs(
                    est_inter.cast("double")
                    - F.col("exact_intersection").cast("double")
                )
                <= bound
            ).alias("sketch_within_bound"),
        )
    )


THETA_INTERSECTION_EVENTS_SQL = f"""
WITH u AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'click'
                  THEN (round(value * 1e6))::BIGINT ELSE 0 END) AS click_micro,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purch
  FROM events GROUP BY user_id
), flags AS (
  SELECT click_micro >= {_KMV_CLICK_MICRO} AS a,
         n_purch >= {_KMV_N_PURCH} AS b,
         {_SQL_HASH60.format(c='user_id::VARCHAR')} AS h
  FROM u
), ka AS (SELECT h FROM flags WHERE a ORDER BY h LIMIT {_KMV_K}),
   kb AS (SELECT h FROM flags WHERE b ORDER BY h LIMIT {_KMV_K}),
   ku AS (SELECT h FROM flags WHERE a OR b ORDER BY h LIMIT {_KMV_K}),
   us AS (SELECT max(h) AS theta, count(*) AS nk FROM ku),
   cm AS (SELECT count(*) AS common
          FROM ka JOIN kb USING (h), us WHERE ka.h <= us.theta),
   ex AS (SELECT sum(a::INT)::BIGINT AS exact_a,
                 sum(b::INT)::BIGINT AS exact_b,
                 sum((a OR b)::INT)::BIGINT AS exact_union,
                 sum((a AND b)::INT)::BIGINT AS exact_intersection
          FROM flags)
SELECT ex.exact_a, ex.exact_b, ex.exact_union, ex.exact_intersection,
       (CASE WHEN us.nk < {_KMV_K} THEN us.nk::DOUBLE
             ELSE floor(({_KMV_K - 1}.0 * 1152921504606846976.0)
                        / us.theta::DOUBLE)
        END)::BIGINT AS kmv_union_est,
       (CASE WHEN us.nk < {_KMV_K} THEN cm.common::DOUBLE
             ELSE floor((({_KMV_K - 1}.0 * 1152921504606846976.0)
                         / us.theta::DOUBLE)
                        * cm.common::DOUBLE / {_KMV_K}.0)
        END)::BIGINT AS kmv_intersection_est,
       (abs((CASE WHEN us.nk < {_KMV_K} THEN cm.common::DOUBLE
                  ELSE floor((({_KMV_K - 1}.0 * 1152921504606846976.0)
                              / us.theta::DOUBLE)
                             * cm.common::DOUBLE / {_KMV_K}.0)
             END)::BIGINT::DOUBLE - ex.exact_intersection::DOUBLE)
        <= {5.0 / (_KMV_K - 1) ** 0.5} * ex.exact_union::DOUBLE)
           AS sketch_within_bound
FROM ex, us, cm
"""

QUERIES["theta_intersection_events"] = (
    theta_intersection_events,
    THETA_INTERSECTION_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# KS decision tier: critical-value drift flags (round 7)
# --------------------------------------------------------------------------
_KS_C_005 = 1.3581015157406195  # c(alpha=0.05) = sqrt(-ln(0.025)/2)


def ks_critical_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECISION layer over ks_drift_docs: compare each source's KS
    statistic against the two-sample critical value
    c(0.05)·sqrt((n+m)/(n·m)) and flag sources whose length distribution
    drifts significantly from the corpus. (The classical formula assumes
    independent samples; group-vs-corpus overlaps, which makes the flag
    CONSERVATIVE — the monitoring convention, documented here.) All float
    steps (one division of exact integers, one IEEE-correctly-rounded
    sqrt, one multiply) are bit-deterministic, so DuckDB replays the flag
    and the micro-rounded critical value exactly — the alert itself is
    oracle-checked, not just the statistic."""
    docs = load_table(spark, sf_dir, "documents")
    ks = stats.ks_by_group(docs, "source", "n_chars")
    tot = docs.agg(F.count(F.lit(1)).alias("n_all"))
    dcrit = F.lit(_KS_C_005) * F.sqrt(
        (F.col("n_rows") + F.col("n_all")).cast("double")
        / (F.col("n_rows") * F.col("n_all")).cast("double")
    )
    return (
        ks.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_rows",
            "ks_micro",
            F.floor(dcrit * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
                "d_crit_micro"
            ),
            (F.col("ks_micro").cast("double") / F.lit(1e6) > dcrit).alias(
                "drifted"
            ),
        )
        .orderBy("source")
    )


KS_CRITICAL_DRIFT_DOCS_SQL = f"""
WITH {_SQL_KS_ECDF}, ks AS (
  SELECT grp AS source, n_g AS n_rows,
         floor(max(abs(cum_g * na.n_all - cum_all * n_g))
               / (n_g * na.n_all)::DOUBLE * 1e6 + 0.5)::BIGINT AS ks_micro,
         na.n_all AS n_all
  FROM cum, na
  GROUP BY grp, n_g, na.n_all
)
SELECT source, n_rows, ks_micro,
       floor({_KS_C_005} * sqrt((n_rows + n_all)::DOUBLE
                                / (n_rows * n_all)::DOUBLE)
             * 1e6 + 0.5)::BIGINT AS d_crit_micro,
       (ks_micro::DOUBLE / 1e6
        > {_KS_C_005} * sqrt((n_rows + n_all)::DOUBLE
                             / (n_rows * n_all)::DOUBLE)) AS drifted
FROM ks
ORDER BY source
"""

QUERIES["ks_critical_drift_docs"] = (
    ks_critical_drift_docs,
    KS_CRITICAL_DRIFT_DOCS_SQL,
)


# --------------------------------------------------------------------------
# PMI collocations (round 7)
# --------------------------------------------------------------------------
_PMI_MIN_COUNT = 5
_PMI_TOPK = 100


def pmi_bigrams_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations: token bigrams ranked by pointwise mutual
    information, the classic collocation-extraction statistic (Church &
    Hanks, 1990) an LLM-corpus pipeline uses to mine multiword units for
    tokenizer and phrase vocabularies.

    PMI = log(p(ab) / (p(a)p(b))) is ranked here by the LOG-FREE ratio
    n_ab·N / (n_a·n_b) (log is monotone; libm log is NOT bit-identical
    across engines, integer arithmetic is): pmi_micro =
    (n_ab·N·1e6) div (n_a·n_b), pure BIGINT, so the oracle matches
    bit-for-bit. Bigrams under {min_count} occurrences are dropped (the
    standard sparse-PMI guard). 64-bit headroom: n_ab·N·1e6 needs
    n_ab·N < 9.2e12 — fine through corpus sizes where exact counting is
    the right tier; past that, subsample counts or lift to decimal.

    Scale shape: two explode+count aggs (map-side combined) keyed by
    bigram/token, two joins of the FILTERED bigram table (min_count
    prunes the long tail before any join) against the unigram counts,
    one scalar N crossJoin, top-k by (pmi desc, bigram asc)."""
    from ..functions import tokens, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    # tokenized corpus feeds THREE consumers (unigram counts, bigram
    # counts, total-token scalar); materialize once instead of
    # re-tokenizing per consumer (same pattern as dedup.jaccard_pairs)
    toks = cut(docs.select(tokens(F.col("text")).alias("toks")), eager=False)
    uni = cut(
        toks.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_t")),
        eager=False,  # joined twice (left/right token)
    )
    big = (
        toks.select(F.explode(word_shingles(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_COUNT)
    )
    n_total = toks.select(F.sum(F.size("toks")).alias("n_tokens"))
    parts = F.split(F.col("bigram"), " ", 2)
    joined = (
        big.select("bigram", "n_ab", parts.getItem(0).alias("ta"), parts.getItem(1).alias("tb"))
        .join(uni.select(F.col("t").alias("ta"), F.col("n_t").alias("n_a")), "ta")
        .join(uni.select(F.col("t").alias("tb"), F.col("n_t").alias("n_b")), "tb")
        .crossJoin(F.broadcast(n_total))
    )
    return (
        joined.select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * n_tokens * 1000000) div (n_a * n_b)").alias(
                "pmi_micro"
            ),
        )
        .orderBy(F.col("pmi_micro").desc(), F.col("bigram").asc())
        .limit(_PMI_TOPK)
    )


PMI_BIGRAMS_CORPUS_SQL = f"""
WITH toks AS (
  SELECT {_SQL_TOKENS.format(c='text')} AS toks FROM documents
), uni AS (
  SELECT t, count(*)::BIGINT AS n_t
  FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY t
), big AS (
  SELECT bigram, count(*)::BIGINT AS n_ab
  FROM (SELECT unnest(list_transform(
           generate_series(1, greatest(len(toks) - 1, 0)),
           i -> array_to_string(list_slice(toks, i, i + 1), ' ')
         )) AS bigram
        FROM toks)
  GROUP BY bigram
  HAVING count(*) >= {_PMI_MIN_COUNT}
), nt AS (
  SELECT sum(len(toks))::BIGINT AS n_tokens FROM toks
)
SELECT b.bigram, b.n_ab, ua.n_t AS n_a, ub.n_t AS n_b,
       ((b.n_ab * nt.n_tokens * 1000000) // (ua.n_t * ub.n_t))::BIGINT
           AS pmi_micro
FROM big b
JOIN uni ua ON ua.t = string_split(b.bigram, ' ')[1]
JOIN uni ub ON ub.t = string_split(b.bigram, ' ')[2]
CROSS JOIN nt
ORDER BY pmi_micro DESC, bigram ASC
LIMIT {_PMI_TOPK}
"""

QUERIES["pmi_bigrams_corpus"] = (pmi_bigrams_corpus, PMI_BIGRAMS_CORPUS_SQL)


# --------------------------------------------------------------------------
# Robust scaling / boxplot-fence outliers (round 7)
# --------------------------------------------------------------------------
def robust_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ROBUST location/scale (median + IQR — the
    median/IQR scaler of sklearn's RobustScaler, immune to the outliers
    that poison mean/stddev z-scores) plus the Tukey boxplot-fence
    outlier count (|v| beyond q1−1.5·IQR / q3+1.5·IQR).

    Complements anomaly_zscore_events (moment-based) and
    winsorize_events (clipping): this is the diagnosis tier — how heavy
    are the tails per group, on estimators the tails cannot move.

    Parity: exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both rank = p·(n−1)); fences rounded to 6 dp on both
    engines before the comparison so a borderline value cannot flip on
    last-bit float noise. Scale shape: one grouped percentile agg to a
    |groups|-row table, broadcast back for one counting pass — two scans,
    no sort of the full data (percentile's agg buffer is a value-count
    map)."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.percentile(
                "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("q"),
        )
        .select(
            "event_type",
            "n_rows",
            F.element_at("q", 1).alias("q1"),
            F.element_at("q", 2).alias("med"),
            F.element_at("q", 3).alias("q3"),
        )
    )
    lo = F.round(F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1")), 6)
    hi = F.round(F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1")), 6)
    fences = s.select("event_type", "n_rows", "q1", "med", "q3",
                      lo.alias("lo"), hi.alias("hi"))
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "n_rows", "q1", "med", "q3")
        .agg(
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
                .cast("long")
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            "n_rows",
            F.round("med", 4).alias("median_value"),
            F.round("q1", 4).alias("q1_value"),
            F.round("q3", 4).alias("q3_value"),
            F.round(F.col("q3") - F.col("q1"), 4).alias("iqr_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


ROBUST_SCALE_EVENTS_SQL = """
WITH s AS (
  SELECT event_type,
         count(*)::BIGINT AS n_rows,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5)  AS med,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT s.event_type, s.n_rows,
       round(s.med, 4) AS median_value,
       round(s.q1, 4) AS q1_value,
       round(s.q3, 4) AS q3_value,
       round(s.q3 - s.q1, 4) AS iqr_value,
       sum(CASE WHEN e.value < round(s.q1 - 1.5 * (s.q3 - s.q1), 6)
                  OR e.value > round(s.q3 + 1.5 * (s.q3 - s.q1), 6)
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM events e JOIN s ON e.event_type = s.event_type
GROUP BY s.event_type, s.n_rows, s.q1, s.med, s.q3
ORDER BY s.event_type
"""

QUERIES["robust_scale_events"] = (robust_scale_events, ROBUST_SCALE_EVENTS_SQL)


# --------------------------------------------------------------------------
# Classifier QC: exact AUC + calibration (round 7)
# --------------------------------------------------------------------------
#: keep-label replay (the quality_filter_docs keep rule)
_KEEP_SQL = f"""
  SELECT doc_id,
         {_SQL_QUALITY_KEEP} AS keep
  FROM (
    SELECT doc_id,
           {_SQL_QUALITY_STATS}
    FROM (SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS toks
          FROM documents)
  )
"""


def _scored_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = inference.classifier_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )
    labels = text.quality_flags(docs, "doc_id", "text").select("doc_id", "keep")
    return scored.join(labels, "doc_id")


def auc_quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the column-tier quality classifier against the
    C4/Gopher keep gate (inference.binary_auc_exact): does the cheap
    logistic length prior actually DISCRIMINATE the documents the full
    rule gate keeps? Integer Mann-Whitney midrank arithmetic — the AUC
    value itself is oracle-replayed, not approximated."""
    return inference.binary_auc_exact(
        _scored_labeled(spark, sf_dir), "score_micro", "keep"
    )


AUC_QUALITY_CLASSIFIER_DOCS_SQL = f"""
WITH lab AS ({_KEEP_SQL}),
sc AS (SELECT doc_id, {_SCORE_SQL} AS score_micro FROM documents),
j AS (SELECT sc.score_micro AS s, lab.keep::INT AS y
      FROM sc JOIN lab ON lab.doc_id = sc.doc_id),
grid AS (
  SELECT s, sum(y)::BIGINT AS c_pos, count(*)::BIGINT AS c
  FROM j GROUP BY s
), ranked AS (
  SELECT c_pos, c,
         2 * coalesce(sum(c) OVER (ORDER BY s ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + c + 1 AS midrank2
  FROM grid
), agg AS (
  SELECT sum(c_pos)::BIGINT AS n_pos,
         (sum(c) - sum(c_pos))::BIGINT AS n_neg,
         sum(c_pos * midrank2)::BIGINT AS r2
  FROM ranked
)
SELECT n_pos, n_neg,
       (CASE WHEN n_pos = 0 OR n_neg = 0 THEN 500000
             ELSE (1000000 * (r2 - n_pos * (n_pos + 1)))
                  // (2 * n_pos * n_neg) END)::BIGINT AS auc_micro
FROM agg
"""

QUERIES["auc_quality_classifier_docs"] = (
    auc_quality_classifier_docs,
    AUC_QUALITY_CLASSIFIER_DOCS_SQL,
)


def calibration_bins_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table of the quality classifier vs the keep
    gate (inference.calibration_bins, 10 equal-width score bins):
    per-bin size, mean predicted score, empirical keep rate — the
    calibration companion to the AUC row (threshold choices act on
    calibrated scores)."""
    return inference.calibration_bins(
        _scored_labeled(spark, sf_dir), "score_micro", "keep", n_bins=10
    )


CALIBRATION_BINS_DOCS_SQL = f"""
WITH lab AS ({_KEEP_SQL}),
sc AS (SELECT doc_id, {_SCORE_SQL} AS score_micro FROM documents),
j AS (SELECT sc.score_micro AS s, lab.keep::INT AS y
      FROM sc JOIN lab ON lab.doc_id = sc.doc_id)
SELECT least(s // 100000, 9)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs,
       (sum(s) // count(*))::BIGINT AS mean_score_micro,
       ((1000000 * sum(y)) // count(*))::BIGINT AS frac_pos_micro
FROM j
GROUP BY 1
ORDER BY bin
"""

QUERIES["calibration_bins_docs"] = (
    calibration_bins_docs,
    CALIBRATION_BINS_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Count-Min sketch point frequencies (round 7)
# --------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 1024
_CMS_PROBES = ["data", "hash", "join", "window", "zzz_absent_token"]


def cms_token_freq_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for a fixed probe set over the
    corpus token stream, next to exact counts (sketch.cms_table /
    cms_estimate): the "how often does THIS token occur" companion to
    Misra-Gries' "which tokens are heavy". The md5 hash family makes the
    whole sketch integer-replayable in SQL, so the ESTIMATES are
    hash-checked; the exact columns are the gated contract (CMS never
    underestimates — asserted as a column), dropped at 100 TB."""
    from . import sketch

    docs = load_table(spark, sf_dir, "documents")
    sk = sketch.cms_table(docs, "text", depth=_CMS_D, width=_CMS_W)
    return sketch.cms_estimate(
        sk, docs, "text", _CMS_PROBES, depth=_CMS_D, width=_CMS_W
    )


def _cms_oracle() -> str:
    h = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
    stream = " UNION ALL ".join(
        f"SELECT {i} AS row, ({h.format(x=repr(str(i)) + ' || t')} % {_CMS_W})"
        " AS col FROM tok"
        for i in range(_CMS_D)
    )
    probe_vals = ", ".join(f"({p!r})" for p in _CMS_PROBES)
    cells = " UNION ALL ".join(
        f"SELECT token, {i} AS row,"
        f" ({h.format(x=repr(str(i)) + ' || token')} % {_CMS_W}) AS col"
        " FROM probes"
        for i in range(_CMS_D)
    )
    return f"""
WITH tok AS (
  SELECT unnest({_SQL_TOKENS.format(c='text')}) AS t FROM documents
), stream AS (
  {stream}
), sk AS (
  SELECT row, col, count(*)::BIGINT AS cnt FROM stream GROUP BY 1, 2
), probes(token) AS (
  VALUES {probe_vals}
), cells AS (
  {cells}
), est AS (
  SELECT cells.token, min(coalesce(sk.cnt, 0))::BIGINT AS cms_est
  FROM cells LEFT JOIN sk ON sk.row = cells.row AND sk.col = cells.col
  GROUP BY cells.token
), exact AS (
  SELECT t AS token, count(*)::BIGINT AS exact_cnt
  FROM tok WHERE t IN (SELECT token FROM probes)
  GROUP BY t
)
SELECT p.token,
       coalesce(exact.exact_cnt, 0)::BIGINT AS exact_cnt,
       coalesce(est.cms_est, 0)::BIGINT AS cms_est,
       (coalesce(est.cms_est, 0) - coalesce(exact.exact_cnt, 0))::BIGINT
           AS overestimate,
       coalesce(est.cms_est, 0) >= coalesce(exact.exact_cnt, 0)
           AS never_underestimates
FROM probes p
LEFT JOIN est ON est.token = p.token
LEFT JOIN exact ON exact.token = p.token
ORDER BY p.token
"""


CMS_TOKEN_FREQ_CORPUS_SQL = _cms_oracle()

QUERIES["cms_token_freq_corpus"] = (
    cms_token_freq_corpus,
    CMS_TOKEN_FREQ_CORPUS_SQL,
)


# --------------------------------------------------------------------------
# Behavioral analytics: conversion funnel + retention cohorts (round 7)
# --------------------------------------------------------------------------
_FUNNEL_STEPS = ["view", "click", "purchase"]


def funnel_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel over the event stream
    (temporal.funnel_steps — greedy funnel anchored at each user's first
    'view', a deliberate single-anchor restriction of ClickHouse
    windowFunnel, which slides the anchor across every 'view'): greedy
    chained min-matching from that first 'view', bounded by a
    7-day completion DEADLINE — the time-windowed variant of
    funnel_conversion_events (advanced.py), which counts unbounded
    ordered reachability. The chain is three user-keyed aggs/joins —
    shuffle partitioning reused, deterministic, hence fully
    oracle-replayed, with per-stage conversion rates in integer micros."""
    from . import temporal

    ev = load_table(spark, sf_dir, "events")
    return temporal.funnel_steps(
        ev, "user_id", "event_type", "ts", _FUNNEL_STEPS, window="7 days"
    )


# The view -> click -> purchase stream and each user's first view with its
# 7-day deadline, the anchor of both greedy funnel oracles.
_SQL_FUNNEL_ANCHOR = """ev AS (
  SELECT user_id AS u, event_type AS et, ts AS t FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
s0 AS (SELECT u, min(t) AS t0 FROM ev WHERE et = 'view' GROUP BY u),
r0 AS (SELECT u, t0, t0 + INTERVAL 7 DAY AS deadline FROM s0)"""
FUNNEL_EVENTS_SQL = f"""
WITH {_SQL_FUNNEL_ANCHOR},
s1 AS (
  SELECT e.u, min(e.t) AS t1 FROM ev e JOIN r0 ON e.u = r0.u
  WHERE e.et = 'click' AND e.t > r0.t0 AND e.t <= r0.deadline GROUP BY e.u
),
s2 AS (
  SELECT e.u, min(e.t) AS t2
  FROM ev e JOIN r0 ON e.u = r0.u JOIN s1 ON s1.u = e.u
  WHERE e.et = 'purchase' AND e.t > s1.t1 AND e.t <= r0.deadline GROUP BY e.u
),
c AS (SELECT (SELECT count(*) FROM s0)::BIGINT AS c0,
             (SELECT count(*) FROM s1)::BIGINT AS c1,
             (SELECT count(*) FROM s2)::BIGINT AS c2)
SELECT 0::BIGINT AS step_idx, 'view' AS step_name, c0 AS n_users,
       (CASE WHEN c0 = 0 THEN 0 ELSE 1000000 END)::BIGINT
           AS conv_from_first_micro
FROM c
UNION ALL
SELECT 1::BIGINT, 'click', c1,
       (CASE WHEN c0 = 0 THEN 0 ELSE (1000000 * c1) // c0 END)::BIGINT
FROM c
UNION ALL
SELECT 2::BIGINT, 'purchase', c2,
       (CASE WHEN c0 = 0 THEN 0 ELSE (1000000 * c2) // c0 END)::BIGINT
FROM c
ORDER BY step_idx
"""

QUERIES["funnel_windowed_events"] = (funnel_windowed_events, FUNNEL_EVENTS_SQL)


def funnel_windowfunnel_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ClickHouse ``windowFunnel('strict_increase')`` funnel
    (temporal.window_funnel_exact, r8; strictly-increasing chains — the
    default mode would also chain equal-timestamp events, see the
    operator docstring) side by side with the greedy single-anchor
    restriction
    (temporal.funnel_steps): the anchor slides across EVERY 'view', so a
    user converts iff ANY view starts a view→click→purchase chain inside
    the 7-day window. n_users_exact ≥ n_users_greedy by construction
    (every greedy chain is an exact chain); anchor_gain surfaces how many
    users the single-anchor shortcut loses per stage — the disclosure row
    for the semantics restriction documented on funnel_steps. Both
    funnels replay fully in SQL (chained per-anchor min-aggregations)."""
    from . import temporal

    ev = load_table(spark, sf_dir, "events")
    exact = temporal.window_funnel_exact(
        ev, "user_id", "event_type", "ts", _FUNNEL_STEPS, window="7 days"
    ).select(
        "step_idx", "step_name", F.col("n_users").alias("n_users_exact")
    )
    greedy = temporal.funnel_steps(
        ev, "user_id", "event_type", "ts", _FUNNEL_STEPS, window="7 days"
    ).select("step_idx", F.col("n_users").alias("n_users_greedy"))
    return (
        exact.join(greedy, "step_idx")
        .select(
            "step_idx",
            "step_name",
            "n_users_exact",
            "n_users_greedy",
            (F.col("n_users_exact") - F.col("n_users_greedy"))
            .cast("long")
            .alias("anchor_gain"),
        )
        .orderBy("step_idx")
    )


FUNNEL_WINDOWFUNNEL_EXACT_SQL = """
WITH ev AS (
  SELECT user_id AS u, event_type AS et, ts AS t FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
a0 AS (SELECT DISTINCT u, t AS t0 FROM ev WHERE et = 'view'),
r0 AS (SELECT u, t0, t0 + INTERVAL 7 DAY AS deadline FROM a0),
r1 AS (
  SELECT e.u, r0.t0, r0.deadline, min(e.t) AS t1
  FROM ev e JOIN r0 ON e.u = r0.u
  WHERE e.et = 'click' AND e.t > r0.t0 AND e.t <= r0.deadline
  GROUP BY 1, 2, 3
),
r2 AS (
  SELECT e.u, r1.t0, min(e.t) AS t2
  FROM ev e JOIN r1 ON e.u = r1.u
  WHERE e.et = 'purchase' AND e.t > r1.t1 AND e.t <= r1.deadline
  GROUP BY 1, 2
),
ce AS (SELECT (SELECT count(DISTINCT u) FROM a0)::BIGINT AS e0,
              (SELECT count(DISTINCT u) FROM r1)::BIGINT AS e1,
              (SELECT count(DISTINCT u) FROM r2)::BIGINT AS e2),
g0 AS (SELECT u, min(t) AS t0 FROM ev WHERE et = 'view' GROUP BY u),
gr0 AS (SELECT u, t0, t0 + INTERVAL 7 DAY AS deadline FROM g0),
g1 AS (
  SELECT e.u, min(e.t) AS t1 FROM ev e JOIN gr0 ON e.u = gr0.u
  WHERE e.et = 'click' AND e.t > gr0.t0 AND e.t <= gr0.deadline GROUP BY e.u
),
g2 AS (
  SELECT e.u, min(e.t) AS t2
  FROM ev e JOIN gr0 ON e.u = gr0.u JOIN g1 ON g1.u = e.u
  WHERE e.et = 'purchase' AND e.t > g1.t1 AND e.t <= gr0.deadline GROUP BY e.u
),
cg AS (SELECT (SELECT count(*) FROM g0)::BIGINT AS c0,
              (SELECT count(*) FROM g1)::BIGINT AS c1,
              (SELECT count(*) FROM g2)::BIGINT AS c2)
SELECT 0::BIGINT AS step_idx, 'view' AS step_name,
       e0 AS n_users_exact, c0 AS n_users_greedy, (e0 - c0)::BIGINT AS anchor_gain
FROM ce, cg
UNION ALL
SELECT 1::BIGINT, 'click', e1, c1, (e1 - c1)::BIGINT FROM ce, cg
UNION ALL
SELECT 2::BIGINT, 'purchase', e2, c2, (e2 - c2)::BIGINT FROM ce, cg
ORDER BY step_idx
"""

QUERIES["funnel_windowfunnel_exact_events"] = (
    funnel_windowfunnel_exact_events,
    FUNNEL_WINDOWFUNNEL_EXACT_SQL,
)




def join_size_sample_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled join-size pre-flight (stats.join_size_sampled, correlated
    key sampling, 1/8 gate) next to the exact inner product — the
    at-scale tier join_cardinality's docstring promises. The md5 key gate
    makes the ESTIMATE itself deterministic, so the oracle replays it
    bit-for-bit; the relative error is disclosed in the row (the
    estimator is unbiased over gates, not per-gate — the contract states
    what this gate saw, it does not assert a bound)."""
    ords, cust = _orders_customer_on_custkey(spark, sf_dir)
    est = stats.join_size_sampled(ords, cust, ["custkey"], mod=8)
    exact = stats.join_cardinality(ords, cust, ["custkey"]).select(
        F.col("est_join_rows").alias("exact_join_rows")
    )
    return est.crossJoin(exact).select(
        "est_join_rows_sampled",
        "n_sampled_keys",
        "exact_join_rows",
        F.expr(
            "CASE WHEN exact_join_rows = 0 THEN 0 ELSE"
            " (1000000 * abs(est_join_rows_sampled - exact_join_rows))"
            " div exact_join_rows END"
        )
        .cast("long")
        .alias("rel_err_micro"),
    )


JOIN_SIZE_SAMPLE_ORDERS_CUSTOMER_SQL = """
WITH sa AS (
  SELECT o_custkey AS k, count(*)::BIGINT AS na FROM orders
  WHERE ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT % 8 = 0
  GROUP BY 1
), sb AS (
  SELECT c_custkey AS k, count(*)::BIGINT AS nb FROM customer
  WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 8 = 0
  GROUP BY 1
), sj AS (
  SELECT coalesce(8 * sum(na * nb), 0)::BIGINT AS est_join_rows_sampled,
         count(*)::BIGINT AS n_sampled_keys
  FROM sa JOIN sb USING (k)
), ca AS (SELECT o_custkey AS k, count(*)::BIGINT AS na FROM orders GROUP BY 1),
   cb AS (SELECT c_custkey AS k, count(*)::BIGINT AS nb FROM customer GROUP BY 1),
   ex AS (SELECT sum(na * nb)::BIGINT AS exact_join_rows FROM ca JOIN cb USING (k))
SELECT est_join_rows_sampled, n_sampled_keys, exact_join_rows,
       (CASE WHEN exact_join_rows = 0 THEN 0 ELSE
        (1000000 * abs(est_join_rows_sampled - exact_join_rows))
        // exact_join_rows END)::BIGINT AS rel_err_micro
FROM sj, ex
"""

QUERIES["join_size_sample_orders_customer"] = (
    join_size_sample_orders_customer,
    JOIN_SIZE_SAMPLE_ORDERS_CUSTOMER_SQL,
)


def classifier_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded evaluation of the column-tier quality classifier
    against the C4/Gopher keep gate (inference.classification_report,
    threshold 0.5): confusion counts + precision/recall/F1 + Cohen's
    kappa in exact integer micros — what the deployed threshold DOES to
    the corpus, next to the threshold-free AUC row. Kappa's
    chance-corrected agreement is the honest number under the gate's
    skewed keep rate (raw accuracy would look fine by majority class)."""
    return inference.classification_report(
        _scored_labeled(spark, sf_dir), "score_micro", "keep", threshold_micro=500_000
    )


CLASSIFIER_REPORT_DOCS_SQL = f"""
WITH lab AS ({_KEEP_SQL}),
sc AS (SELECT doc_id, {_SCORE_SQL} AS score_micro FROM documents),
j AS (SELECT (sc.score_micro >= 500000)::BIGINT AS p, lab.keep::BIGINT AS y
      FROM sc JOIN lab ON lab.doc_id = sc.doc_id),
c AS (
  SELECT sum(p * y)::BIGINT AS tp,
         sum(p * (1 - y))::BIGINT AS fp,
         sum((1 - p) * y)::BIGINT AS fn,
         sum((1 - p) * (1 - y))::BIGINT AS tn
  FROM j
)
SELECT tp, fp, fn, tn,
       (CASE WHEN tp + fp = 0 THEN 0
             ELSE (1000000 * tp) // (tp + fp) END)::BIGINT AS precision_micro,
       (CASE WHEN tp + fn = 0 THEN 0
             ELSE (1000000 * tp) // (tp + fn) END)::BIGINT AS recall_micro,
       (CASE WHEN 2 * tp + fp + fn = 0 THEN 0
             ELSE (2000000 * tp) // (2 * tp + fp + fn) END)::BIGINT AS f1_micro,
       (CASE WHEN (tp + fp + fn + tn) * (tp + fp + fn + tn)
                  - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) = 0
             THEN 0 ELSE
             (1000000 * ((tp + fp + fn + tn) * (tp + tn)
                         - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))))
             // ((tp + fp + fn + tn) * (tp + fp + fn + tn)
                 - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))) END
       )::BIGINT AS kappa_micro
FROM c
"""

QUERIES["classifier_report_docs"] = (
    classifier_report_docs,
    CLASSIFIER_REPORT_DOCS_SQL,
)


def pareto_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of the corpus under (minimize n_chars, maximize
    classifier quality score) — stats.pareto_frontier_2d over the
    column-tier scores: the best quality attainable at each document
    length, the multi-objective data-selection readout. The Spark side
    is the collapsed-grid running-max skyline; the oracle is the
    textbook quadratic NOT EXISTS dominance definition on the same
    grid — two different algorithms that must agree."""
    docs = load_table(spark, sf_dir, "documents")
    scored = inference.classifier_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )
    j = docs.select("doc_id", "n_chars").join(scored, "doc_id")
    return stats.pareto_frontier_2d(j, "n_chars", "score_micro")


PARETO_QUALITY_DOCS_SQL = f"""
WITH sc AS (SELECT doc_id, {_SCORE_SQL} AS score_micro FROM documents),
j AS (SELECT d.n_chars, sc.score_micro
      FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
grid AS (SELECT n_chars, max(score_micro)::BIGINT AS best_score_micro
         FROM j GROUP BY 1)
SELECT n_chars, best_score_micro
FROM grid g
WHERE NOT EXISTS (
  SELECT 1 FROM grid q
  WHERE q.n_chars < g.n_chars AND q.best_score_micro >= g.best_score_micro
)
ORDER BY n_chars
"""

QUERIES["pareto_quality_docs"] = (pareto_quality_docs, PARETO_QUALITY_DOCS_SQL)


def bucketed_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join demo (layout.write_bucketed + layout.bucketed_join):
    orders and customer are persisted bucketed-and-sorted by custkey (the
    join shuffle paid once, at write time), then sort-merge-joined with
    ZERO Exchange on the join path — only pipeline-local per-bucket
    Sorts, no data movement (plan-asserted in
    tests/test_plans.py — the oracle checks the join's ALGEBRA here:
    revenue by market segment over the bucketed copies). The repartition
    before each write lands every bucket in exactly one file, so the
    on-disk sort order is usable by the SMJ."""
    from . import stores

    from . import layout

    ords, cust = _orders_customer_on_custkey(spark, sf_dir)
    path = stores.scratch_dir("bucketed_demo_")
    layout.write_bucketed(
        ords.repartition(8, "custkey"), "bkt_orders", "custkey", 8, path
    )
    layout.write_bucketed(
        cust.repartition(8, "custkey"), "bkt_customer", "custkey", 8, path
    )
    j = layout.bucketed_join(spark, "bkt_orders", "bkt_customer", "custkey")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,8)")).cast("double"), 2
            ).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


BUCKETED_JOIN_ORDERS_CUSTOMER_SQL = """
SELECT c.c_mktsegment,
       count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice::DECIMAL(38,8))::DOUBLE, 2) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY c_mktsegment
"""

QUERIES["bucketed_join_orders_customer"] = (
    bucketed_join_orders_customer,
    BUCKETED_JOIN_ORDERS_CUSTOMER_SQL,
)


def key_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pre-flight on events.user_id (skew.key_skew_profile): the
    one-row decide-to-salt readout — max fanout vs average, top-1/top-10
    row shares — run before committing a 100 TB shuffle to an unsalted
    key. Deterministic micros, fully oracle-replayed."""
    from . import skew

    ev = load_table(spark, sf_dir, "events")
    return skew.key_skew_profile(ev, "user_id")


KEY_SKEW_PROFILE_EVENTS_SQL = """
WITH c AS (SELECT user_id AS k, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
tot AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
               max(cnt)::BIGINT AS max_fanout
        FROM c),
t10 AS (SELECT sum(cnt)::BIGINT AS s10, max(cnt)::BIGINT AS s1
        FROM (SELECT cnt FROM c ORDER BY cnt DESC, k ASC LIMIT 10))
SELECT n_rows, n_keys, max_fanout,
       ((1000000 * s1) // n_rows)::BIGINT AS top1_share_micro,
       ((1000000 * s10) // n_rows)::BIGINT AS top10_share_micro,
       ((1000000 * n_rows) // n_keys)::BIGINT AS avg_fanout_micro
FROM tot, t10
"""

QUERIES["key_skew_profile_events"] = (
    key_skew_profile_events,
    KEY_SKEW_PROFILE_EVENTS_SQL,
)


def skew_autogate_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-gated skew salting (skew.autogated_join, r8): the skew
    pre-flight is wired as the DECISION INPUT — profile the join key,
    salt iff the hottest key holds ≥10% of the rows, plain join
    otherwise. The fixture joins events to a type-level dim on
    event_type (|types| ≈ 5, so the top key holds ~20% of a 100 TB
    shuffle — the hot-category case salting exists for): the profile
    trips the gate and the SALTED branch runs (plan-asserted in
    tests/test_plans.py; the same helper on near-uniform user_id takes
    the plain branch, pytest-pinned). Salting is semantically invisible,
    so the oracle is the PLAIN join — and the gate decision itself is a
    value-checked column, re-derived by the oracle from the same
    threshold arithmetic."""
    from . import skew

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "type_code", F.substring(F.md5(F.col("event_type")), 1, 4)
        )
    )
    joined, salted = skew.autogated_join(
        ev, dim, on="event_type", probe_salt_from="event_id", buckets=8
    )
    return (
        joined.groupBy("type_code")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") * F.lit(100) + F.lit(0.5))
            .cast("long")
            .alias("total_cents"),
        )
        .withColumn("salted", F.lit(bool(salted)))
        .orderBy("type_code")
    )


SKEW_AUTOGATE_JOIN_EVENTS_SQL = """
WITH c AS (SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
gate AS (
  SELECT ((1000000 * max(cnt)) // sum(cnt)) >= 100000 AS salted FROM c
),
dim AS (
  SELECT DISTINCT event_type, substr(md5(event_type), 1, 4) AS type_code
  FROM events
)
SELECT d.type_code,
       count(*)::BIGINT AS n_events,
       floor(sum(e.value) * 100 + 0.5)::BIGINT AS total_cents,
       (SELECT salted FROM gate) AS salted
FROM events e
JOIN dim d ON d.event_type = e.event_type
GROUP BY d.type_code
ORDER BY d.type_code
"""

QUERIES["skew_autogate_join_events"] = (
    skew_autogate_join_events,
    SKEW_AUTOGATE_JOIN_EVENTS_SQL,
)


def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: near-dup clusters (the same
    blocked-Jaccard + connected-components pipeline as
    dedup_clusters_docs) resolved by KEEPING THE BEST-SCORING member
    instead of the min-id one — the production dedup policy (min-id is
    arbitrary; the classifier score is why you ran a quality model). One
    struct-max aggregation per cluster (max on (score, -id) gives
    score-desc / id-asc without a window); singleton clusters are
    filtered out as uninteresting. Oracle: the recursive-CTE closure +
    a row_number window — different algorithms on both stages."""
    from . import dedup

    docs = load_table(spark, sf_dir, "documents")
    # r11: pairs probe the committed shingle-base snapshot (see
    # dedup.shingle_base_store) — same output, corpus-scale shingle
    # derivation paid once by shingle_base_build_docs
    pairs = dedup.jaccard_pairs_stored(spark, sf_dir, threshold=0.3)
    clusters = dedup.connected_components(pairs)
    scored = inference.classifier_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )
    j = clusters.withColumnRenamed("id", "doc_id").join(scored, "doc_id")
    return (
        j.groupBy(F.col("comp").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(
                F.struct(
                    F.col("score_micro"), (-F.col("doc_id")).alias("_negid")
                )
            ).alias("_best"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "component",
            "n_members",
            (-F.col("_best._negid")).cast("long").alias("keep_doc_id"),
            F.col("_best.score_micro").cast("long").alias("keep_score_micro"),
        )
        .orderBy("component")
    )


def _keep_best_oracle() -> str:
    tail = "SELECT id AS doc_id, min(r) AS component\nFROM reach GROUP BY id"
    assert tail in DEDUP_CLUSTERS_DOCS_SQL  # guards against CTE text drift
    closure = DEDUP_CLUSTERS_DOCS_SQL.replace(
        tail, f", comp AS ({tail.replace(chr(10), ' ')})"
    ).rstrip()
    return f"""
{closure},
sc AS (SELECT doc_id, {_SCORE_SQL} AS score_micro FROM documents),
j AS (SELECT c.component, c.doc_id, sc.score_micro
      FROM comp c JOIN sc USING (doc_id)),
ranked AS (
  SELECT component, doc_id, score_micro,
         count(*) OVER (PARTITION BY component) AS n_members,
         row_number() OVER (PARTITION BY component
                            ORDER BY score_micro DESC, doc_id ASC) AS rn
  FROM j
)
SELECT component, n_members::BIGINT AS n_members,
       doc_id::BIGINT AS keep_doc_id,
       score_micro::BIGINT AS keep_score_micro
FROM ranked WHERE rn = 1 AND n_members >= 2
ORDER BY component
"""


DEDUP_KEEP_BEST_DOCS_SQL = _keep_best_oracle()

QUERIES["dedup_keep_best_docs"] = (dedup_keep_best_docs, DEDUP_KEEP_BEST_DOCS_SQL)


def dedup_clusters_twostar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same near-dup clusters as dedup_clusters_docs, resolved by the
    O(log² n) large-star/small-star contraction
    (dedup.connected_components_twostar) instead of O(diameter) min-label
    propagation — and checked against the IDENTICAL recursive-CTE oracle:
    three independent algorithms (two Spark, one SQL) must land on the
    same fixpoint."""
    from . import dedup

    # r11: pairs probe the committed shingle-base snapshot (see
    # dedup.shingle_base_store)
    pairs = dedup.jaccard_pairs_stored(spark, sf_dir, threshold=0.3)
    return (
        dedup.connected_components_twostar(pairs)
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
        .orderBy("doc_id")
    )


def _twostar_oracle() -> str:
    return DEDUP_CLUSTERS_DOCS_SQL


QUERIES["dedup_clusters_twostar_docs"] = (
    dedup_clusters_twostar_docs,
    _twostar_oracle(),
)


# --------------------------------------------------------------------------
# Corpus provenance: cross-source overlap matrix (round 7)
# --------------------------------------------------------------------------
def source_overlap_matrix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between corpus SOURCES via shared
    winnowing fingerprints — the provenance readout that catches mirror
    sites / cross-source scrape duplication before mixing weights are
    set (two sources sharing half their fingerprints are one source).
    Any shared substring of length ≥ k+w−1 surfaces as a shared
    fingerprint (the winnowing guarantee), so this is substring-level
    overlap, not whole-doc equality.

    Scale shape: fingerprints collapse to DISTINCT (hash, source) pairs
    before the self-join — the join's fan-out per hash is bounded by
    |sources|², never by corpus size — and the matrix is |sources|²/2
    rows of metadata. r10: probes the COMMITTED fingerprint store
    (text.winnow_fingerprint_store, built once per corpus) — source rode
    along at build time, and the store's winnow_hash bucketing makes both
    the distinct collapse and the self-join exchange-free on the stored
    side. The oracle replays the winnowing expression (registry.py
    WINNOW_FINGERPRINT_DOCS_SQL's body) and the pair join."""
    from . import text

    fps = text.winnow_fingerprint_probe(spark, sf_dir, k=5, w=4)
    fs = fps.select("winnow_hash", "source").distinct()
    a, b = fs.alias("a"), fs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.winnow_hash") == F.col("b.winnow_hash"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 5)
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_MATRIX_DOCS_SQL = f"""
WITH {_sql_winnow_fp()}, fs AS (
  SELECT DISTINCT fp.winnow_hash, d.source
  FROM fp JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*)::BIGINT AS n_shared_fps
FROM fs a JOIN fs b
  ON a.winnow_hash = b.winnow_hash AND a.source < b.source
GROUP BY 1, 2
HAVING count(*) >= 5
ORDER BY source_a, source_b
"""

QUERIES["source_overlap_matrix_docs"] = (
    source_overlap_matrix_docs,
    SOURCE_OVERLAP_MATRIX_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Right-to-be-forgotten deletion over the versioned table (round 7)
# --------------------------------------------------------------------------
def _rtbf_feed_counts(feed: DataFrame) -> DataFrame:
    """One row: the change feed's delete count and its count of anything else."""
    def n(cond):
        return F.coalesce(F.sum(F.when(cond, 1)), F.lit(0)).cast("long")

    return feed.agg(
        n(F.col("change_type") == "delete").alias("n_delete_feed"),
        n(F.col("change_type") != "delete").alias("_n_other_feed"),
    )


# The 1-in-20 md5 erase set and the version row counts it implies.
_SQL_RTBF_COUNTS = f"""WITH g AS (
  SELECT doc_id,
         {_SQL_HASH60.format(c='doc_id::VARCHAR')} % 20 = 0 AS erased
  FROM documents
), c AS (
  SELECT count(*)::BIGINT AS rows_v0,
         sum(CASE WHEN NOT erased THEN 1 ELSE 0 END)::BIGINT AS rows_v1,
         sum(CASE WHEN erased THEN 1 ELSE 0 END)::BIGINT AS n_deleted
  FROM g
)"""


def rtbf_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted (GDPR/right-to-be-forgotten) deletion as a versioned-table
    commit: an erase-request set (deterministic md5 gate ≈5% of doc ids)
    is removed by a copy-on-write commit, and the row PROVES the deletion
    three independent ways — the version row counts, the change-data-feed
    between the two versions (delete rows only, count equal to the erase
    set), and an anti-join showing zero erased ids remain readable. At
    100 TB the same shape runs per-partition off the stats manifest
    (only files whose min/max overlap the erase keys rewrite); here the
    observable algebra is what the oracle replays."""
    from . import stores

    from ..functions import md5_hash60
    from . import tableformat

    docs = load_table(spark, sf_dir, "documents")
    root = stores.scratch_dir("rtbf_")
    erase_gate = md5_hash60(F.col("doc_id").cast("string")) % 20 == 0
    v0 = tableformat.commit_version(docs, root)
    v1 = tableformat.commit_version(docs.filter(~erase_gate), root)
    # r14 (guide §1.2): five driver actions (two counts, a grouped
    # collect, a filter count) folded into ONE lazy single-row plan of
    # crossJoined scalar aggregates — the commits above stay eager (they
    # are the scenario; scratch dirs live until process exit, so the lazy
    # read-back is safe). Same row, same schema, same values.
    feed = tableformat.table_changes(spark, root, v0, v1, ["doc_id"])
    cnt = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias(name)
    )
    return (
        cnt(tableformat.read_version(spark, root, v0), "rows_v0")
        .crossJoin(cnt(tableformat.read_version(spark, root, v1), "rows_v1"))
        .crossJoin(_rtbf_feed_counts(feed))
        .crossJoin(
            cnt(
                tableformat.read_version(spark, root, v1).filter(erase_gate),
                "_remaining",
            )
        )
        .select(
            "rows_v0",
            "rows_v1",
            (F.col("rows_v0") - F.col("rows_v1")).cast("long").alias("n_deleted"),
            "n_delete_feed",
            (
                (F.col("_n_other_feed") == 0)
                & (F.col("n_delete_feed") == F.col("rows_v0") - F.col("rows_v1"))
            ).alias("feed_matches"),
            (F.col("_remaining") == 0).alias("none_remaining"),
        )
    )


RTBF_DELETE_DOCS_SQL = f"""
{_SQL_RTBF_COUNTS}
SELECT rows_v0, rows_v1, n_deleted,
       n_deleted AS n_delete_feed,
       true AS feed_matches,
       true AS none_remaining
FROM c
"""

QUERIES["rtbf_delete_docs"] = (rtbf_delete_docs, RTBF_DELETE_DOCS_SQL)


def rtbf_delete_dv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTBF deletion via a DELETION VECTOR (the Delta DV design) — the
    100 TB-friendly sibling of rtbf_delete_docs: instead of copy-on-write
    rewriting every stats-overlapping file, the commit writes ONLY the
    erase-key mask (O(|erase set|) — a one-row request commits in
    milliseconds against any table size) and readers apply it as a
    broadcast anti-join (tableformat.commit_deletion_vector /
    read_version). The row PROVES the same deletion contract as the
    copy-on-write path — version row counts, delete-only change feed of
    the right size, zero erased ids readable — PLUS the tier-equivalence
    guarantee: the masked read is row-for-row equal to the rewritten
    read (exceptAll in both directions), so a reader cannot tell which
    deletion tier produced the version. mask_rows surfaces that the
    commit wrote exactly |erase set| rows and nothing else."""
    from . import stores

    from ..functions import md5_hash60
    from . import tableformat

    docs = load_table(spark, sf_dir, "documents")
    root = stores.scratch_dir("rtbf_dv_")
    erase_gate = md5_hash60(F.col("doc_id").cast("string")) % 20 == 0
    erase_keys = docs.filter(erase_gate).select("doc_id")
    v0 = tableformat.commit_version(docs, root)
    v1 = tableformat.commit_deletion_vector(erase_keys, root, "doc_id")
    masked = tableformat.read_version(spark, root, v1)
    # r14 (optimization guide §1.2/§2.6): the audit used to issue SEVEN
    # separate driver actions (three counts, a grouped collect, a filter
    # count, two exceptAll counts) — each a full job with its own
    # scheduling round-trip, 34 driver-visible jobs per call. The commits
    # above stay eager (they ARE the scenario); every check below folds
    # into ONE lazy single-row plan via crossJoined scalar aggregates, so
    # the caller's single action computes all subtrees concurrently.
    # Values are unchanged — including dv_equals_cow, where Python's
    # short-circuit `and` merely skipped the second exceptAll when the
    # first was non-zero; the fold always evaluates both, same boolean.
    cow = docs.filter(~erase_gate)
    cnt = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias(name)
    )
    feed = tableformat.table_changes(spark, root, v0, v1, ["doc_id"])
    return (
        cnt(tableformat.read_version(spark, root, v0), "rows_v0")
        .crossJoin(cnt(masked, "rows_v1"))
        .crossJoin(cnt(spark.read.parquet(root + "/v1"), "mask_rows"))
        .crossJoin(_rtbf_feed_counts(feed))
        .crossJoin(cnt(masked.filter(erase_gate), "_remaining"))
        .crossJoin(cnt(masked.exceptAll(cow), "_dv_minus_cow"))
        .crossJoin(cnt(cow.exceptAll(masked), "_cow_minus_dv"))
        .select(
            "rows_v0",
            "rows_v1",
            (F.col("rows_v0") - F.col("rows_v1")).cast("long").alias("n_deleted"),
            "mask_rows",
            "n_delete_feed",
            (
                (F.col("_n_other_feed") == 0)
                & (F.col("n_delete_feed") == F.col("rows_v0") - F.col("rows_v1"))
            ).alias("feed_matches"),
            (F.col("_remaining") == 0).alias("none_remaining"),
            ((F.col("_dv_minus_cow") == 0) & (F.col("_cow_minus_dv") == 0)).alias(
                "dv_equals_cow"
            ),
        )
    )


RTBF_DELETE_DV_DOCS_SQL = f"""
{_SQL_RTBF_COUNTS}
SELECT rows_v0, rows_v1, n_deleted,
       n_deleted AS mask_rows,
       n_deleted AS n_delete_feed,
       true AS feed_matches,
       true AS none_remaining,
       true AS dv_equals_cow
FROM c
"""

QUERIES["rtbf_delete_dv_docs"] = (rtbf_delete_dv_docs, RTBF_DELETE_DV_DOCS_SQL)


def event_volume_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily-volume OLS slope — the source-health trend
    monitor (a feed whose volume slope turns negative is dying; one whose
    slope explodes is probably spam). Exact integer least-squares on the
    (type, day) count grid:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    emitted as slope_micro (events/day/day × 1e6, truncation-div — both
    engines truncate toward zero). The corpus collapses to |types|×|days|
    metadata in ONE partial-agg'd count; the regression sums are a second
    |grid|-sized agg. Epoch-day integers keep both engines binning
    identically (the retention-cohort idiom)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    daily = ev.groupBy(F.col("event_type"), day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("d").cast("long").alias("_sx"),
        F.sum("y").cast("long").alias("_sy"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("_sxy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("_sxx"),
    )
    return per.select(
        "event_type",
        "n_days",
        F.expr(
            "CASE WHEN n_days * _sxx - _sx * _sx = 0 THEN 0"
            " ELSE (1000000 * (n_days * _sxy - _sx * _sy))"
            " div (n_days * _sxx - _sx * _sx) END"
        )
        .cast("long")
        .alias("slope_micro"),
    ).orderBy("event_type")


EVENT_VOLUME_TREND_EVENTS_SQL = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE) AS d,
         count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2
), per AS (
  SELECT event_type,
         count(*)::BIGINT AS n_days,
         sum(d)::BIGINT AS sx,
         sum(y)::BIGINT AS sy,
         sum(d * y)::BIGINT AS sxy,
         sum(d * d)::BIGINT AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type, n_days,
       (CASE WHEN n_days * sxx - sx * sx = 0 THEN 0
             ELSE (1000000 * (n_days * sxy - sx * sy))
                  // (n_days * sxx - sx * sx) END)::BIGINT AS slope_micro
FROM per
ORDER BY event_type
"""

QUERIES["event_volume_trend_events"] = (
    event_volume_trend_events,
    EVENT_VOLUME_TREND_EVENTS_SQL,
)


def dpp_prune_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning demo — the RUNTIME member of the pruning
    family (bloom = row-level, stats manifest = file-level, Z-order =
    layout, DPP = partition-level decided at execution time): events are
    written partitioned by event_type, a materialized dimension maps
    types to categories, and the fact scan is pruned by a runtime
    subquery on the dimension's 'conversion' filter — a predicate the
    optimizer CANNOT fold statically because it lives on a non-join
    column of a separate scan. test_plans asserts the fact scan carries
    a ``dynamicpruning#`` PartitionFilter; the oracle checks the join
    algebra. At 100 TB this is the difference between scanning 2 of 500
    partitions and scanning them all."""
    from . import stores

    ev = load_table(spark, sf_dir, "events")
    base = stores.scratch_dir("dpp_")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(base + "/fact")
    (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(
                F.col("event_type").isin("purchase", "signup"),
                F.lit("conversion"),
            ).otherwise(F.lit("engagement")),
        )
        .write.mode("overwrite")
        .parquet(base + "/dim")
    )
    fact = spark.read.parquet(base + "/fact")
    dim = spark.read.parquet(base + "/dim").filter(
        F.col("category") == "conversion"
    )
    return (
        fact.join(dim.hint("broadcast"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,8)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


DPP_PRUNE_JOIN_EVENTS_SQL = """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(38,8))::DOUBLE, 2) AS total_value
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY 1
ORDER BY event_type
"""

QUERIES["dpp_prune_join_events"] = (
    dpp_prune_join_events,
    DPP_PRUNE_JOIN_EVENTS_SQL,
)


def schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution over the versioned table: v1 adds a
    derived column to orders, and the contract row proves the semantics
    three ways — time travel to v0 still serves the OLD schema (the new
    column must not exist there), v1 serves the new one, and the
    change-data-feed between the versions diffs over the COMMON columns
    only, reporting zero spurious updates (an additive evolution must
    not make unchanged rows look changed). This is the Iceberg/Delta
    contract that lets a 100 TB table grow columns without rewriting
    history — snapshots are immutable, readers pick their version."""
    from . import stores

    from . import tableformat

    ords = load_table(spark, sf_dir, "orders")
    root = stores.scratch_dir("schevo_")
    v0 = tableformat.commit_version(ords, root)
    evolved = ords.withColumn(
        "is_urgent", F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    v1 = tableformat.commit_version(evolved, root)
    t0 = tableformat.read_version(spark, root, v0)
    t1 = tableformat.read_version(spark, root, v1)
    feed = tableformat.table_changes(spark, root, v0, v1, ["o_orderkey"])
    # r14 (guide §1.2): four driver count() actions folded into ONE lazy
    # single-row plan (crossJoined scalar aggregates — the caller's single
    # action runs all four subtrees in one job). The schema containment
    # checks are driver-side metadata (no job) and ride along as literals.
    # Same row, same schema, same values.
    return (
        t0.agg(F.count(F.lit(1)).cast("long").alias("rows_v0"))
        .crossJoin(t1.agg(F.count(F.lit(1)).cast("long").alias("rows_v1")))
        .crossJoin(
            feed.agg(
                F.count(F.lit(1)).cast("long").alias("n_spurious_changes")
            )
        )
        .crossJoin(
            t1.filter(F.col("is_urgent")).agg(
                F.count(F.lit(1)).cast("long").alias("n_urgent")
            )
        )
        .select(
            "rows_v0",
            "rows_v1",
            F.lit("is_urgent" not in t0.columns).alias("v0_schema_unchanged"),
            F.lit("is_urgent" in t1.columns).alias("v1_has_column"),
            "n_spurious_changes",
            "n_urgent",
        )
    )


SCHEMA_EVOLUTION_ORDERS_SQL = """
SELECT count(*)::BIGINT AS rows_v0,
       count(*)::BIGINT AS rows_v1,
       true AS v0_schema_unchanged,
       true AS v1_has_column,
       0::BIGINT AS n_spurious_changes,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS n_urgent
FROM orders
"""

QUERIES["schema_evolution_orders"] = (
    schema_evolution_orders,
    SCHEMA_EVOLUTION_ORDERS_SQL,
)


# --------------------------------------------------------------------------
# Frequent-itemset mining: association rules (round 7)
# --------------------------------------------------------------------------
_ASSOC_MIN_ITEM = 2
_ASSOC_MIN_PAIR = 2
_ASSOC_TOPK = 20


def _basket_sets(li: DataFrame) -> DataFrame:
    """One row per order: ``bid`` and its sorted part set ``ss`` (the
    keyed agg dedups (bid, item) in the same exchange)."""
    return (
        li.select(F.col("l_orderkey").alias("bid"), F.col("l_partkey").alias("item"))
        .groupBy("bid")
        .agg(F.sort_array(F.collect_set("item")).alias("ss"))
    )


def _basket_counts(baskets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The one-row basket total ``n_baskets`` and per-item ``n_item``."""
    nb = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    supp = (
        baskets.select(F.explode("ss").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    return nb, supp


def _frequent_sets(baskets: DataFrame, items: DataFrame) -> DataFrame:
    """Each basket's sorted set ``fs`` of the ``items`` it holds (explode →
    broadcast-join → regroup rides the bid partitioning: no new exchange)."""
    return (
        baskets.select("bid", F.explode("ss").alias("item"))
        .join(F.broadcast(items), "item")
        .groupBy("bid")
        .agg(F.sort_array(F.collect_set("item")).alias("fs"))
    )


def _pair_counts(fs: DataFrame, a: str, b: str) -> DataFrame:
    """Baskets per item pair (``a`` < ``b``, ``n_ab``), expanded JVM-side
    from the sorted per-basket sets after the shuffle."""
    return (
        fs.filter(F.size("fs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(fs, (x, i) ->"
                    " transform(slice(fs, i + 2, size(fs)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias(a), F.col("p.b").alias(b))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )


def assoc_rules_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over order baskets (the Apriori pair
    stage, Agrawal & Srikant VLDB'94): support / confidence / lift for
    co-purchased part pairs, in exact integer micros. The basket-analysis
    family — distinct from every aggregation/join shape already in the
    registry — and the Apriori property does the scale work: items below
    min-support are pruned BEFORE the pair join, so candidate volume is
    (frequent items per basket)², not (all items)². Baskets are bounded
    (≤ basket size² pair fan-out per order; cap the basket at corpus
    scale — documented, the standard practice). Top-20 by lift through
    TakeOrderedAndProject with a full deterministic tie-break, so the
    cut is stable and oracle-replayable."""
    li = load_table(spark, sf_dir, "lineitem")
    # r14: one keyed agg collapses the old DISTINCT + per-basket self-join
    # (the adamic_adar wedge-fold pattern): collect_set dedups (bid, item)
    # in the same exchange, and the a<b pair fan-out is generated JVM-side
    # from the sorted per-basket set AFTER the shuffle — zero joins touch
    # basket-scale rows. Eager cut: three consumers (nb, supp, pairs)
    # would otherwise each replay the basket agg (per-branch pruning
    # defeats ReuseExchange — the covariance_embeddings r14 lesson).
    baskets = cut(_basket_sets(li))
    # scalar-subquery crossJoin (not .count()): the basket total rides the
    # same job instead of costing an extra driver round-trip
    nb, supp = _basket_counts(baskets)
    freq = supp.filter(F.col("n_item") >= _ASSOC_MIN_ITEM)
    # Apriori prune BEFORE pair expansion: drop infrequent items from each
    # basket set (explode → broadcast-join → regroup stays on the bid
    # partitioning, so no new exchange), then expand a<b pairs from the
    # sorted frequent set — Σ C(f,2) fan-out, same volume the self-join
    # paid, generated post-shuffle.
    fs = _frequent_sets(baskets, freq.select("item"))
    pairs = (
        _pair_counts(fs, "item_a", "item_b")
        .filter(F.col("n_ab") >= _ASSOC_MIN_PAIR)
    )
    scored = (
        pairs.join(
            F.broadcast(freq.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(freq.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.expr("(1000000 * n_ab) div n_baskets").cast("long").alias(
                "support_micro"
            ),
            F.expr("(1000000 * n_ab) div n_a").cast("long").alias(
                "confidence_micro"
            ),
            # int64 headroom: 1e6·n_ab·n_baskets overflows 2^63 once
            # n_baskets > ~3.0e6 (n_ab <= n_baskets), i.e. well inside the
            # 100 TB range — so the lift numerator runs in DECIMAL(38,0)
            # (HUGEINT on the DuckDB side), exact integer floor-division
            # on both engines. support/confidence stay BIGINT: their
            # numerators are bounded by 1e6·n_baskets < 2^63 up to ~9e12
            # baskets.
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_baskets)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )
    return scored.orderBy(
        F.col("lift_micro").desc(),
        F.col("n_ab").desc(),
        F.col("item_a").asc(),
        F.col("item_b").asc(),
    ).limit(_ASSOC_TOPK)


ASSOC_RULES_LINEITEM_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem
), nb AS (SELECT count(DISTINCT bid)::BIGINT AS n_baskets FROM baskets),
supp AS (
  SELECT item, count(*)::BIGINT AS n_item FROM baskets GROUP BY 1
), freq AS (SELECT * FROM supp WHERE n_item >= {_ASSOC_MIN_ITEM}),
fb AS (SELECT b.bid, b.item FROM baskets b JOIN freq USING (item)),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
  FROM fb a JOIN fb b ON a.bid = b.bid AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= {_ASSOC_MIN_PAIR}
)
SELECT item_a, item_b, n_ab,
       ((1000000 * n_ab) // n_baskets)::BIGINT AS support_micro,
       ((1000000 * n_ab) // fa.n_item)::BIGINT AS confidence_micro,
       ((1000000::HUGEINT * n_ab * n_baskets)
        // (fa.n_item::HUGEINT * fb2.n_item))::BIGINT AS lift_micro
FROM pairs
JOIN freq fa ON fa.item = pairs.item_a
JOIN freq fb2 ON fb2.item = pairs.item_b
CROSS JOIN nb
ORDER BY lift_micro DESC, n_ab DESC, item_a ASC, item_b ASC
LIMIT {_ASSOC_TOPK}
"""

QUERIES["assoc_rules_lineitem"] = (assoc_rules_lineitem, ASSOC_RULES_LINEITEM_SQL)


def event_paths_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths (consecutive event-type
    trigrams per user, clickstream path mining) — the sequence companion
    to the first-order event_transitions matrix: two lead() windows over
    ONE per-user ordering, a path count agg, TakeOrderedAndProject with
    a full deterministic tie-break ((ts, event_id) ordering inside the
    window, (count, steps) on the cut) so the top-k is stable and
    oracle-replayable."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    paths = (
        ev.select(
            F.col("event_type").alias("step1"),
            F.lead("event_type", 1).over(w).alias("step2"),
            F.lead("event_type", 2).over(w).alias("step3"),
        )
        .filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )
    return paths.orderBy(
        F.col("n_paths").desc(),
        F.col("step1").asc(),
        F.col("step2").asc(),
        F.col("step3").asc(),
    ).limit(20)


EVENT_PATHS_TOPK_EVENTS_SQL = """
WITH seq AS (
  SELECT event_type AS step1,
         lead(event_type, 1) OVER w AS step2,
         lead(event_type, 2) OVER w AS step3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT step1, step2, step3, count(*)::BIGINT AS n_paths
FROM seq
WHERE step2 IS NOT NULL AND step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC
LIMIT 20
"""

QUERIES["event_paths_topk_events"] = (
    event_paths_topk_events,
    EVENT_PATHS_TOPK_EVENTS_SQL,
)


def neyman_allocation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-slot QC-review budget across
    event-type strata (sampling.neyman_allocation): n_h ∝ N_h·S_h, the
    minimum-variance spend of fixed human-review capacity — the third
    allocation family next to UniMax (budget caps) and temperature
    (power reweighting). Integer moments → IEEE-exact std → integer
    largest-remainder apportionment: Σ alloc == 1000 exactly, every
    value oracle-replayed."""
    ev = load_table(spark, sf_dir, "events")
    return sampling.neyman_allocation(ev, "event_type", "value", budget=1000)


NEYMAN_ALLOCATION_EVENTS_SQL = """
WITH vm AS (
  SELECT event_type AS stratum,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm
  FROM events
), per AS (
  SELECT stratum, count(*)::BIGINT AS n_rows, sum(vm)::BIGINT AS s1,
         sum(vm::DECIMAL(38,0) * vm)::DECIMAL(38,0) AS s2
  FROM vm GROUP BY 1
), wgt AS (
  SELECT stratum, n_rows,
         CASE WHEN n_rows < 2 THEN 0.0 ELSE
           sqrt((CAST(s2 AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / CAST(n_rows AS DOUBLE))
                / (CAST(n_rows AS DOUBLE) - 1.0)) END AS std
  FROM per
), w2 AS (
  SELECT stratum, n_rows,
         CAST(floor(std + 0.5) AS BIGINT) AS std_micro,
         CAST(floor(n_rows * std + 0.5) AS BIGINT) AS w
  FROM wgt
), q0 AS (
  SELECT stratum, n_rows, std_micro,
         CASE WHEN sum(w) OVER () = 0 THEN n_rows ELSE w END AS w2
  FROM w2
), q AS (SELECT *, sum(w2) OVER () AS wsum FROM q0),
q2 AS (
  SELECT stratum, n_rows, std_micro,
         CASE WHEN wsum = 0 THEN 0 ELSE (1000 * w2) // wsum END AS base,
         CASE WHEN wsum = 0 THEN 0 ELSE (1000 * w2) % wsum END AS rem
  FROM q
), q3 AS (
  SELECT *, 1000 - sum(base) OVER () AS give,
         row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
  FROM q2
)
SELECT stratum, n_rows, std_micro,
       (base + CASE WHEN rk <= give THEN 1 ELSE 0 END)::BIGINT AS alloc
FROM q3
ORDER BY stratum
"""

QUERIES["neyman_allocation_events"] = (
    neyman_allocation_events,
    NEYMAN_ALLOCATION_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# Differentially-private aggregate release (r8): discrete-Laplace noisy
# counts with a literal inverse-CDF table, so the MECHANISM replays
# bit-identically in both engines.
# --------------------------------------------------------------------------
_DP_EPSILON = 1.0
_DP_SEED = "dpnoise-r8:"
_DP_K = 20  # noise support clamp: P(|k| > 20) < 3e-9 at eps=1


def _dp_thresholds() -> list[tuple[int, int]]:
    """Cumulative inverse-CDF thresholds for the two-sided geometric
    (discrete Laplace) distribution at eps=1, sensitivity 1 — the
    standard DP mechanism for integer counts (Ghosh-Roughgarden-
    Sundararajan's geometric mechanism). P(k) ∝ exp(-eps·|k|); the CDF is
    evaluated ONCE here in driver Python and embedded as INTEGER
    thresholds over a 40-bit uniform, so both engines map the same hash
    to the same noise with pure integer comparisons — no ln/exp in
    either engine's hot path (libm last-ulp drift would break the value
    gate)."""
    import math

    a = math.exp(-_DP_EPSILON)
    p0 = (1 - a) / (1 + a)
    ks = list(range(-_DP_K, _DP_K + 1))
    cum = 0.0
    out = []
    for k in ks:
        cum += p0 * (a ** abs(k))
        out.append((k, min(int(cum * (1 << 40)), (1 << 40) - 1)))
    out[-1] = (ks[-1], 1 << 40)  # clamp: the last bucket absorbs the tail
    return out


def _dp_noise_case(r_expr: str) -> str:
    """CASE chain mapping a uniform 40-bit integer to discrete-Laplace
    noise via the literal threshold table (same text feeds Spark and the
    DuckDB oracle)."""
    branches = " ".join(
        f"WHEN {r_expr} < {t} THEN {k}" for k, t in _dp_thresholds()
    )
    return f"(CASE {branches} ELSE {_DP_K} END)"


def dp_noisy_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-language document counts: the geometric
    mechanism (discrete Laplace, eps=1, sensitivity 1 — disjoint groups,
    so parallel composition keeps the total budget at eps=1) with
    DETERMINISTIC noise replay: the uniform driving each group's noise is
    a seeded md5 hash of the group key, so audits (and the oracle) can
    re-derive the exact release. Production note, stated honestly: a real
    release draws FRESH randomness per publication — the seeded draw here
    is the audit/replay mode, and the distribution is exactly the
    mechanism's either way. true_n is emitted as the audit surface; the
    release view is (lang, noisy_n, epsilon_micro). Noise mapping is a
    literal integer inverse-CDF table (see _dp_thresholds), so no
    ln/exp runs in either engine."""
    docs = load_table(spark, sf_dir, "documents")
    grouped = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    spark_r = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_DP_SEED), F.col("lang"))), 1, 15),
            16,
            10,
        ).cast("long")
        % F.lit(1 << 40)
    )
    spark_noise = F.lit(None).cast("int")
    for k, t in reversed(_dp_thresholds()):
        spark_noise = F.when(spark_r < F.lit(t), F.lit(k)).otherwise(spark_noise)
    spark_noise = F.coalesce(spark_noise, F.lit(_DP_K))
    return (
        grouped.select(
            "lang",
            "true_n",
            spark_noise.cast("long").alias("noise"),
            (F.col("true_n") + spark_noise).cast("long").alias("noisy_n"),
            F.lit(int(_DP_EPSILON * 1_000_000)).cast("long").alias("epsilon_micro"),
        )
        .orderBy("lang")
    )


DP_NOISY_COUNTS_DOCS_SQL = f"""
WITH g AS (
  SELECT lang, count(*)::BIGINT AS true_n FROM documents GROUP BY lang
), n AS (
  SELECT lang, true_n,
         {_dp_noise_case(f"({_SQL_HASH60.format(c=chr(39) + _DP_SEED + chr(39) + ' || lang')} % {1 << 40})")}::BIGINT
           AS noise
  FROM g
)
SELECT lang, true_n, noise, (true_n + noise)::BIGINT AS noisy_n,
       {int(_DP_EPSILON * 1_000_000)}::BIGINT AS epsilon_micro
FROM n
ORDER BY lang
"""

QUERIES["dp_noisy_counts_docs"] = (dp_noisy_counts_docs, DP_NOISY_COUNTS_DOCS_SQL)


def diversity_index_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity indices — the corpus-mixing QC that
    catches a 'web' source silently collapsing to one language (a
    diversity drop precedes a mixture drift PSI only sees later). All
    math is exact integer ratios, deliberately avoiding Shannon entropy's
    ln() (libm last-ulp drift across engines):

    - simpson_micro: 1e6·(1 − Σ nᵢ(nᵢ−1)/(N(N−1))) — the unbiased
      Gini-Simpson estimator (probability two draws WITHOUT replacement
      differ in language); 0 = monoculture, →1e6 = uniform.
    - effective_langs_micro: 1e6·N²/Σnᵢ² — the Hill number of order 2
      (inverse Simpson concentration), the 'effective number of equally
      common languages'.
    - top_lang_share_micro and n_langs as the raw readouts.

    One (source, lang) count agg (the only corpus-sized stage), then
    per-source sums over the ≤|sources|×|langs| grid."""
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per = cell.groupBy("source").agg(
        F.sum("n").cast("long").alias("N"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max("n").cast("long").alias("top_n"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("sum_nn1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_n2"),
    )
    return per.select(
        "source",
        "n_langs",
        F.expr("(1000000 * top_n) div N").cast("long").alias(
            "top_lang_share_micro"
        ),
        # int64 headroom: 1e6·Σnᵢ(nᵢ−1) and 1e6·N² overflow 2^63 once a
        # source holds ≳3.0e6 rows — well inside 100 TB — so both
        # numerators run in DECIMAL(38,0) (HUGEINT on the DuckDB side),
        # exact integer floor-division on both engines (the
        # assoc_rules_lineitem discipline).
        F.expr(
            "CASE WHEN N <= 1 THEN 0"
            " ELSE 1000000 - (CAST(1000000 AS DECIMAL(38,0)) * sum_nn1)"
            " div (CAST(N AS DECIMAL(38,0)) * (N - 1)) END"
        )
        .cast("long")
        .alias("simpson_micro"),
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * N * N) div"
            " CAST(sum_n2 AS DECIMAL(38,0))"
        )
        .cast("long")
        .alias("effective_langs_micro"),
    ).orderBy("source")


DIVERSITY_INDEX_SOURCES_SQL = """
WITH cell AS (
  SELECT source, lang, count(*)::BIGINT AS n FROM documents GROUP BY 1, 2
), per AS (
  SELECT source, sum(n)::BIGINT AS N, count(*)::BIGINT AS n_langs,
         max(n)::BIGINT AS top_n,
         sum(n * (n - 1))::BIGINT AS sum_nn1,
         sum(n * n)::BIGINT AS sum_n2
  FROM cell GROUP BY 1
)
SELECT source, n_langs,
       ((1000000 * top_n) // N)::BIGINT AS top_lang_share_micro,
       (CASE WHEN N <= 1 THEN 0
             ELSE 1000000 - (1000000::HUGEINT * sum_nn1)
                  // (N::HUGEINT * (N - 1)) END)::BIGINT AS simpson_micro,
       ((1000000::HUGEINT * N * N) // sum_n2::HUGEINT)::BIGINT
           AS effective_langs_micro
FROM per
ORDER BY source
"""

QUERIES["diversity_index_sources"] = (
    diversity_index_sources,
    DIVERSITY_INDEX_SOURCES_SQL,
)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-ID ASSIGNMENT (the row-level sibling of the
    session_window aggregate): per user, a new session starts when the
    gap to the previous event exceeds 30 minutes; sessions get per-user
    ordinal ids via a running sum of boundary flags. This is the
    sessionization every clickstream pipeline runs BEFORE session-level
    features — session_window only yields the aggregate windows, not the
    event→session mapping downstream joins need.

    One user-keyed window (ordered by ts, event_id — full tie-break, so
    both engines assign identical ordinals) does boundary detection AND
    numbering; the session rollup reuses the same shuffle key. Output is
    the per-session summary (user_id, session_idx, n_events, first/last
    event ids, duration_s) — corpus-scale row output kept to |sessions|.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    # ALL time math in integer MICROSECONDS (unix_micros / epoch_us):
    # second-truncated casts shift gap comparisons and durations by one
    # around sub-second boundaries, and the two engines truncate
    # differently — µs integers compare and subtract identically.
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    tus = F.unix_micros(F.col("ts"))
    gap_us = tus - F.lag(tus).over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        tus.alias("tus"),
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_new"),
    ).withColumn(
        "session_idx",
        F.sum("is_new")
        .over(
            W.partitionBy("user_id")
            .orderBy(F.col("tus").asc(), F.col("event_id").asc())
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("long"),
    )
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("event_id").cast("long").alias("first_event_id"),
            F.max("event_id").cast("long").alias("last_event_id"),
            ((F.max("tus") - F.min("tus")) / F.lit(1_000_000))
            .cast("long")
            .alias("duration_s"),
        )
        .orderBy("user_id", "session_idx")
    )


SESSIONIZE_EVENTS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), numbered AS (
  SELECT user_id, event_id, tus,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       count(*)::BIGINT AS n_events,
       min(event_id)::BIGINT AS first_event_id,
       max(event_id)::BIGINT AS last_event_id,
       ((max(tus) - min(tus)) // 1000000)::BIGINT AS duration_s
FROM numbered
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""

QUERIES["sessionize_events"] = (sessionize_events, SESSIONIZE_EVENTS_SQL)




# --------------------------------------------------------------------------
# Benford first-digit data-QC (r8)
# --------------------------------------------------------------------------
def _benford_micro() -> list[tuple[int, int]]:
    """Benford expected first-digit shares log10(1 + 1/d), as integer
    micros computed once in driver Python and embedded as literals in
    both engines (no log10 in either hot path)."""
    import math

    return [(d, int(round(math.log10(1 + 1 / d) * 1_000_000))) for d in range(1, 10)]


def benford_digits_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals — the fraud/synthetic-
    data QC (genuine multiplicative amounts follow log10(1+1/d); uniform
    or fabricated generators don't, and THIS fixture's totals are
    uniform-ish — the deviations are the point, surfaced per digit).
    Digit extraction is engine-proof: totals go through the repo's exact
    cents idiom (floor(x·100 + 0.5) as BIGINT), and the first digit is
    substr of the INTEGER's string form — float formatting never touches
    either engine. Expected shares are literal micros (_benford_micro).
    Output: one row per digit with observed/expected shares and the
    absolute deviation, all exact integer micros."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digits = (
        orders.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = digits.agg(F.sum("n").cast("long").alias("n_total"))
    exp_rows = spark.createDataFrame(
        _benford_micro(), "digit int, benford_micro long"
    )
    return (
        digits.crossJoin(total)
        .join(F.broadcast(exp_rows), "digit")
        .select(
            "digit",
            "n",
            F.expr("(1000000 * n) div n_total").cast("long").alias("share_micro"),
            "benford_micro",
            F.abs(
                F.expr("(1000000 * n) div n_total") - F.col("benford_micro")
            )
            .cast("long")
            .alias("dev_micro"),
        )
        .orderBy("digit")
    )


_BENFORD_SQL_ROWS = ", ".join(f"({d}, {m})" for d, m in _benford_micro())

BENFORD_DIGITS_ORDERS_SQL = f"""
WITH cents AS (
  SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS c FROM orders
), digits AS (
  SELECT substr(c::VARCHAR, 1, 1)::INT AS digit, count(*)::BIGINT AS n
  FROM cents WHERE c > 0 GROUP BY 1
), total AS (SELECT sum(n)::BIGINT AS N FROM digits),
expected(digit, benford_micro) AS (VALUES {_BENFORD_SQL_ROWS})
SELECT d.digit, d.n,
       ((1000000 * d.n) // t.N)::BIGINT AS share_micro,
       e.benford_micro::BIGINT AS benford_micro,
       abs((1000000 * d.n) // t.N - e.benford_micro)::BIGINT AS dev_micro
FROM digits d CROSS JOIN total t JOIN expected e ON e.digit = d.digit
ORDER BY d.digit
"""

QUERIES["benford_digits_orders"] = (benford_digits_orders, BENFORD_DIGITS_ORDERS_SQL)


def tokenizer_fertility_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility QC per language: chars-per-token and
    tokens-per-doc in exact integer micros. Fertility drift per language
    is the cheap early warning that a tokenizer (or an upstream
    normalizer) is fragmenting one language's text — the per-lang cost
    multiplier that decides context-window budgets. One narrow projection
    + one |langs|-key agg; the token count is the same whitespace
    tokenizer the corpus stats use (token_count_docs), so the two QC
    surfaces can be compared directly. int64 headroom (r9 self-review
    fix): a 100 TB corpus holds ~1e14 chars, so 1e6·chars_total overflows
    2^63 once one language exceeds ~9.2e12 chars — both micro numerators
    run in DECIMAL(38,0)/HUGEINT, the assoc_rules_lineitem discipline."""
    from ..functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("toks"),
        F.length("text").cast("long").alias("chars"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("tokens_total"),
        F.sum("chars").cast("long").alias("chars_total"),
    )
    return per.select(
        "lang",
        "n_docs",
        "tokens_total",
        "chars_total",
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * chars_total)"
            " div CAST(tokens_total AS DECIMAL(38,0))"
        )
        .cast("long")
        .alias("chars_per_token_micro"),
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * tokens_total)"
            " div CAST(n_docs AS DECIMAL(38,0))"
        )
        .cast("long")
        .alias("tokens_per_doc_micro"),
    ).orderBy("lang")


TOKENIZER_FERTILITY_LANGS_SQL = f"""
WITH per AS (
  SELECT lang,
         len({_SQL_TOKENS.format(c='text')})::BIGINT AS toks,
         length(text)::BIGINT AS chars
  FROM documents
)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(toks)::BIGINT AS tokens_total,
       sum(chars)::BIGINT AS chars_total,
       ((1000000::HUGEINT * sum(chars)) // sum(toks)::HUGEINT)::BIGINT
           AS chars_per_token_micro,
       ((1000000::HUGEINT * sum(toks)) // count(*)::HUGEINT)::BIGINT
           AS tokens_per_doc_micro
FROM per
GROUP BY lang
ORDER BY lang
"""

QUERIES["tokenizer_fertility_langs"] = (
    tokenizer_fertility_langs,
    TOKENIZER_FERTILITY_LANGS_SQL,
)


def range_partition_plan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition PLANNING with a balance proof: exact linear-
    interpolation octile boundaries over o_totalprice (Spark `percentile`
    ≡ DuckDB `quantile_cont`, the parity percentile_lineitem pins), then
    every row bucketed by comparing against the in-query boundary array
    — the write-side planning step behind repartitionByRange / Iceberg
    sort orders, with the resulting per-bucket row counts and shares as
    the value-checked CONTRACT (a planner whose buckets come out skewed
    is worse than no planner). At 100 TB the boundary step runs on a
    sample via approx_percentile — this exact form is the correctness
    anchor, same tiering as percentile_lineitem."""
    orders = load_table(spark, sf_dir, "orders")
    probs = [i / 8 for i in range(1, 8)]
    bounds = orders.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(p) for p in probs])
        ).alias("bs")
    )
    bucket = sum(
        (F.col("o_totalprice") > F.element_at("bs", i + 1)).cast("int")
        for i in range(len(probs))
    )
    total = orders.count()
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            "bucket",
            "n_rows",
            F.expr(f"(1000000 * n_rows) div {total}L")
            .cast("long")
            .alias("share_micro"),
        )
        .orderBy("bucket")
    )


RANGE_PARTITION_PLAN_ORDERS_SQL = """
WITH bs AS (
  SELECT quantile_cont(o_totalprice,
                       [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
  FROM orders
), bucketed AS (
  SELECT ((o.o_totalprice > bs.b[1])::INT + (o.o_totalprice > bs.b[2])::INT
        + (o.o_totalprice > bs.b[3])::INT + (o.o_totalprice > bs.b[4])::INT
        + (o.o_totalprice > bs.b[5])::INT + (o.o_totalprice > bs.b[6])::INT
        + (o.o_totalprice > bs.b[7])::INT) AS bucket
  FROM orders o CROSS JOIN bs
), total AS (SELECT count(*)::BIGINT AS N FROM orders)
SELECT bucket, count(*)::BIGINT AS n_rows,
       ((1000000 * count(*)) // t.N)::BIGINT AS share_micro
FROM bucketed CROSS JOIN total t
GROUP BY bucket, t.N
ORDER BY bucket
"""

QUERIES["range_partition_plan_orders"] = (
    range_partition_plan_orders,
    RANGE_PARTITION_PLAN_ORDERS_SQL,
)


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrievers (r8)
# --------------------------------------------------------------------------
_RRF_K = 60  # the standard RRF damping constant (Cormack et al., SIGIR'09)


def rrf_fusion_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-Rank Fusion of two retrievers over the same query
    ({hash, join, window}): BM25 top-10 and a coordinate-match ranker
    (distinct query terms matched, then total occurrences — the classic
    boolean-ish baseline). RRF (Cormack, Clarke & Buettcher, SIGIR'09) is
    THE standard way to merge rankers with incomparable scores — hybrid
    search (BM25 + dense) ships on exactly this:

        rrf(d) = Σ_r 1 / (k + rank_r(d)),  k = 60

    computed here as exact integer micros (1e6 div (k + rank)), so the
    fused ranking is value-checked end to end — both input RANKINGS and
    the fusion replay in SQL (ranks are integers; BM25's float scores
    only ever feed rank assignment, which the BM25 oracle already pins).
    Scale shape: each ranker's top-k is corpus-scale work already proven
    (bm25_topk scan-prunes; the coordinate ranker is one term-filtered
    agg + TakeOrderedAndProject); the fusion itself touches ≤ 2k rows.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    bm = text.bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )
    ra = bm.select(
        "id",
        F.row_number()
        .over(W.orderBy(F.col("score_micro").desc(), F.col("id").asc()))
        .cast("long")
        .alias("rank_a"),
    )
    from ..functions import tokens as _toks

    hits = (
        docs.select(
            F.col("doc_id").alias("id"), F.explode(_toks(F.col("text"))).alias("t")
        )
        .filter(F.col("t").isin(list(_BM25_TERMS)))
        .groupBy("id")
        .agg(
            F.countDistinct("t").cast("long").alias("matches"),
            F.count(F.lit(1)).cast("long").alias("occs"),
        )
    )
    rb10 = hits.orderBy(
        F.col("matches").desc(), F.col("occs").desc(), F.col("id").asc()
    ).limit(_BM25_K)
    rb = rb10.select(
        "id",
        F.row_number()
        .over(
            W.orderBy(
                F.col("matches").desc(), F.col("occs").desc(), F.col("id").asc()
            )
        )
        .cast("long")
        .alias("rank_b"),
    )
    fused = (
        ra.join(rb, "id", "full_outer")
        .select(
            "id",
            "rank_a",
            "rank_b",
            (
                F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + rank_a)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + rank_b)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), F.col("id").asc())
        .limit(_BM25_K)
    )
    return fused.withColumnRenamed("id", "doc_id")


RRF_FUSION_TOPK_DOCS_SQL = f"""
WITH bm AS ({_bm25_oracle()}),
ra AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank_a
  FROM bm
),
hits AS (
  SELECT doc_id AS id,
         count(DISTINCT t)::BIGINT AS matches, count(*)::BIGINT AS occs
  FROM (SELECT doc_id, unnest({_SQL_TOKENS.format(c='text')}) AS t
        FROM documents)
  WHERE t IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY 1
),
rb AS (
  SELECT id, row_number()
           OVER (ORDER BY matches DESC, occs DESC, id ASC) AS rank_b
  FROM (SELECT * FROM hits
        ORDER BY matches DESC, occs DESC, id ASC LIMIT {_BM25_K})
),
fused AS (
  SELECT coalesce(ra.id, rb.id) AS doc_id, ra.rank_a, rb.rank_b,
         (coalesce(1000000 // ({_RRF_K} + ra.rank_a), 0)
          + coalesce(1000000 // ({_RRF_K} + rb.rank_b), 0))::BIGINT
             AS rrf_micro
  FROM ra FULL OUTER JOIN rb ON ra.id = rb.id
)
SELECT doc_id, rank_a, rank_b, rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT {_BM25_K}
"""

QUERIES["rrf_fusion_topk_docs"] = (rrf_fusion_topk_docs, RRF_FUSION_TOPK_DOCS_SQL)


def item_cf_similarity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity over the order→supplier
    bipartite graph: cosine similarity of two suppliers' order sets,
    sim²(a,b) = co(a,b)² / (n_a·n_b), emitted as exact integer micros —
    squaring keeps the metric rational (no sqrt in either engine) and
    preserves the ranking (x² is monotone on x ≥ 0). This is the
    co-occurrence item-CF every recommender starts from (Linden et al.,
    IEEE IC'03, Amazon item-to-item) re-expressed as aggs: pair
    generation collects each order's distinct supplier set in one keyed
    aggregation (collect_set dedups — no separate DISTINCT pass) and
    expands the sa<sb pairs JVM-side with nested array transforms over
    the sorted set — the same Σ C(d,2) wedge fan-out the former co-order
    self-join paid, generated post-shuffle with zero joins — capped to
    the top-20k strongest pairs (the same constant-bounded edge budget
    as triangle_count_suppliers — a 100 TB co-occurrence projection is
    near-complete and MUST be budgeted), then one broadcast join against
    the per-supplier order counts. Top-50 pairs by similarity with full
    tie-break."""
    # r14 note: checkpointing li and/or the counts agg was measured and
    # REJECTED (isolates 2.29 -> 2.67/2.72 s): the duplicated count
    # subtrees are cheap pruned concurrent scans, and materialization
    # costs more than it saves here.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    counts = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    co = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) ->"
                    " transform(slice(ss, i + 2, size(ss)),"
                    " y -> struct(x AS sa, y AS sb))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .orderBy(F.col("co").desc(), F.col("sa").asc(), F.col("sb").asc())
        .limit(20000)
    )
    return (
        co.join(
            F.broadcast(
                counts.select(
                    F.col("l_suppkey").alias("sa"), F.col("n_orders").alias("n_a")
                )
            ),
            "sa",
        )
        .join(
            F.broadcast(
                counts.select(
                    F.col("l_suppkey").alias("sb"), F.col("n_orders").alias("n_b")
                )
            ),
            "sb",
        )
        .select(
            "sa",
            "sb",
            "co",
            # int64 headroom: 1e6·co² overflows 2^63 once co ≳3.0e6 —
            # DECIMAL(38,0)/HUGEINT, the assoc_rules_lineitem discipline
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * co * co)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            )
            .cast("long")
            .alias("cosine2_micro"),
        )
        .orderBy(
            F.col("cosine2_micro").desc(),
            F.col("co").desc(),
            F.col("sa").asc(),
            F.col("sb").asc(),
        )
        .limit(50)
    )


ITEM_CF_SIMILARITY_SUPPLIERS_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
counts AS (SELECT l_suppkey, count(*)::BIGINT AS n_orders FROM li GROUP BY 1),
co AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*)::BIGINT AS co
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  ORDER BY co DESC, sa ASC, sb ASC
  LIMIT 20000
)
SELECT co.sa, co.sb, co.co,
       ((1000000::HUGEINT * co.co * co.co)
        // (ca.n_orders::HUGEINT * cb.n_orders))::BIGINT AS cosine2_micro
FROM co
JOIN counts ca ON ca.l_suppkey = co.sa
JOIN counts cb ON cb.l_suppkey = co.sb
ORDER BY cosine2_micro DESC, co.co DESC, co.sa ASC, co.sb ASC
LIMIT 50
"""

QUERIES["item_cf_similarity_suppliers"] = (
    item_cf_similarity_suppliers,
    ITEM_CF_SIMILARITY_SUPPLIERS_SQL,
)


def attribution_last_touch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — the marketing-analytics staple: every
    'purchase' is attributed to the user's most recent PRECEDING
    non-purchase event within 7 days (the touchpoint), via the SAME
    union-merge as-of machinery the asof_join operator uses (one
    user-keyed window, no inequality join). Output: per touchpoint type,
    attributed purchase count and share in exact micros; unattributed
    purchases (no touch within the window) surface as the
    'unattributed' row — silently dropping them is the classic
    attribution-report bug."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    tus = F.unix_micros(F.col("ts"))
    tagged = ev.select(
        "user_id",
        tus.alias("tus"),
        F.col("event_type").alias("et"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_p"),
        F.col("event_id").alias("eid"),
    )
    # order: time asc, touches BEFORE purchases at equal timestamps
    # (inclusive <=), event_id as the final total tie-break
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("tus").asc(), F.col("is_p").asc(), F.col("eid").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_touch = F.last(
        F.when(F.col("is_p") == 0, F.col("et")), ignorenulls=True
    ).over(w)
    last_touch_t = F.last(
        F.when(F.col("is_p") == 0, F.col("tus")), ignorenulls=True
    ).over(w)
    purchases = (
        tagged.select(
            "user_id",
            "tus",
            "is_p",
            last_touch.alias("touch"),
            last_touch_t.alias("touch_t"),
        )
        .filter(F.col("is_p") == 1)
        .select(
            F.when(
                F.col("touch").isNotNull()
                & (F.col("tus") - F.col("touch_t") <= 7 * 86400 * 1_000_000),
                F.col("touch"),
            )
            .otherwise(F.lit("unattributed"))
            .alias("touchpoint")
        )
    )
    per = purchases.groupBy("touchpoint").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases")
    )
    total = per.agg(F.sum("n_purchases").cast("long").alias("n_total"))
    return (
        per.crossJoin(total)
        .select(
            "touchpoint",
            "n_purchases",
            F.expr("(1000000 * n_purchases) div n_total")
            .cast("long")
            .alias("share_micro"),
        )
        .orderBy("touchpoint")
    )


ATTRIBUTION_LAST_TOUCH_EVENTS_SQL = """
WITH tagged AS (
  SELECT user_id, epoch_us(ts) AS tus, event_type AS et,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         event_id AS eid
  FROM events
), carried AS (
  SELECT user_id, tus, is_p,
         last_value(CASE WHEN is_p = 0 THEN et END IGNORE NULLS)
           OVER w AS touch,
         last_value(CASE WHEN is_p = 0 THEN tus END IGNORE NULLS)
           OVER w AS touch_t
  FROM tagged
  WINDOW w AS (PARTITION BY user_id
               ORDER BY tus ASC, is_p ASC, eid ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), purchases AS (
  SELECT CASE WHEN touch IS NOT NULL
                   AND tus - touch_t <= 604800000000::BIGINT
              THEN touch ELSE 'unattributed' END AS touchpoint
  FROM carried WHERE is_p = 1
), per AS (
  SELECT touchpoint, count(*)::BIGINT AS n_purchases FROM purchases GROUP BY 1
), total AS (SELECT sum(n_purchases)::BIGINT AS n_total FROM per)
SELECT p.touchpoint, p.n_purchases,
       ((1000000 * p.n_purchases) // t.n_total)::BIGINT AS share_micro
FROM per p CROSS JOIN total t
ORDER BY p.touchpoint
"""

QUERIES["attribution_last_touch_events"] = (
    attribution_last_touch_events,
    ATTRIBUTION_LAST_TOUCH_EVENTS_SQL,
)


def k_anonymity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length decile bucket) — the privacy pre-release check beside the DP
    release tier: a document is k-anonymous iff at least k−1 others share
    its quasi-identifier combination; equivalence classes below k are
    re-identification risks and must be generalized or suppressed before
    release (Sweeney 2002). One QI-tuple count agg (the only corpus-sized
    stage), then the summary: class counts, violating classes/rows at
    k = 5, the minimum class size, and the share of rows at risk in
    exact micros."""
    docs = load_table(spark, sf_dir, "documents")
    k = 5
    qi = docs.select(
        "lang", "source", F.expr("n_chars div 200").alias("len_bucket")
    )
    classes = qi.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("n").cast("long").alias("min_class_size"),
        F.sum((F.col("n") < k).cast("long")).cast("long").alias(
            "violating_classes"
        ),
        F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_at_risk"),
    ).select(
        "n_classes",
        "n_rows",
        "min_class_size",
        "violating_classes",
        "rows_at_risk",
        F.expr("(1000000 * rows_at_risk) div n_rows")
        .cast("long")
        .alias("risk_share_micro"),
        (F.col("min_class_size") >= k).alias("k5_anonymous"),
    )


K_ANONYMITY_DOCS_SQL = """
WITH classes AS (
  SELECT lang, source, n_chars // 200 AS len_bucket, count(*)::BIGINT AS n
  FROM documents GROUP BY 1, 2, 3
)
SELECT count(*)::BIGINT AS n_classes,
       sum(n)::BIGINT AS n_rows,
       min(n)::BIGINT AS min_class_size,
       sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS violating_classes,
       sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
       ((1000000 * sum(CASE WHEN n < 5 THEN n ELSE 0 END)) // sum(n))::BIGINT
           AS risk_share_micro,
       (min(n) >= 5) AS k5_anonymous
FROM classes
"""

QUERIES["k_anonymity_docs"] = (k_anonymity_docs, K_ANONYMITY_DOCS_SQL)


def watermark_lateness_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay planning input: the out-of-orderness profile of the
    event stream. Lateness of an event = (running max event-time over the
    ARRIVAL order so far) − (its own event-time), computed per user
    (arrival order = event_id within the user's sequence; per-key
    profiles bound the global watermark need when the stream partitions
    by that key — and a GLOBAL running max would be a single-partition
    window over the corpus). Output: one row with the late-event count/
    share and exact lateness percentiles in seconds (p50/p95/max over
    integer µs, percentile ≡ quantile_cont parity) — p95 is the number
    you feed withWatermark(); picking it blind is how streams silently
    drop their tail. Scale tier (r9 self-review): the exact global
    percentile buffers the lateness column in ONE aggregation group — at
    100 TB swap in approx_percentile (or profile a hash sample); this
    exact form is the correctness anchor, same tiering as
    percentile_lineitem / range_partition_plan_orders."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    tus = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = ev.select(
        (F.max(tus).over(w) - tus).alias("late_us")
    )
    return late.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("long")).cast("long").alias("n_late"),
        F.expr(
            "(1000000 * sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END))"
            " div count(1)"
        )
        .cast("long")
        .alias("late_share_micro"),
        F.round(F.percentile("late_us", F.lit(0.5)) / 1e6, 4).alias("p50_late_s"),
        F.round(F.percentile("late_us", F.lit(0.95)) / 1e6, 4).alias(
            "p95_late_s"
        ),
        F.round(F.max("late_us") / 1e6, 4).alias("max_late_s"),
    )


WATERMARK_LATENESS_PROFILE_EVENTS_SQL = """
WITH late AS (
  SELECT max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id ASC
                                 ROWS UNBOUNDED PRECEDING)
         - epoch_us(ts) AS late_us
  FROM events
)
SELECT count(*)::BIGINT AS n_events,
       sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
       ((1000000 * sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END))
        // count(*))::BIGINT AS late_share_micro,
       round(quantile_cont(late_us, 0.5) / 1e6, 4) AS p50_late_s,
       round(quantile_cont(late_us, 0.95) / 1e6, 4) AS p95_late_s,
       round(max(late_us) / 1e6, 4) AS max_late_s
FROM late
"""

QUERIES["watermark_lateness_profile_events"] = (
    watermark_lateness_profile_events,
    WATERMARK_LATENESS_PROFILE_EVENTS_SQL,
)


def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over each event type's daily volume —
    the level-shift monitor (a feed that silently halves after a deploy
    shows a CUSUM peak at the deploy day long before an eyeball does).
    The statistic is kept EXACTLY integer by scaling out the mean:
    S_i = n·prefix_i − i·total (≡ n·Σ_{j≤i}(c_j − mean)); the change
    point is argmax |S_i| with a deterministic (day asc) tie-break.
    int64 headroom: n·prefix ≤ days·rows < 2^63 up to ~10^14 row-days.
    One (type, day) count agg, then |days|-row windows per type —
    metadata-scale after the count."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    daily = ev.groupBy(F.col("event_type"), day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy(F.col("d").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "d",
        (
            F.count(F.lit(1)).over(tot) * F.sum("c").over(w)
            - F.row_number().over(
                W.partitionBy("event_type").orderBy(F.col("d").asc())
            ).cast("long")
            * F.sum("c").over(tot)
        ).alias("s_scaled"),
    )
    from pyspark.sql import Window as W2

    pick = W2.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.col("d").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("d").alias("change_day"),
            F.abs(F.col("s_scaled")).cast("long").alias("cusum_peak_scaled"),
        )
        .orderBy("event_type")
    )


CUSUM_CHANGEPOINT_EVENTS_SQL = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, d,
         (count(*) OVER (PARTITION BY event_type)
            * sum(c) OVER (PARTITION BY event_type ORDER BY d ASC
                           ROWS UNBOUNDED PRECEDING)
          - row_number() OVER (PARTITION BY event_type ORDER BY d ASC)
            * sum(c) OVER (PARTITION BY event_type)) AS s_scaled
  FROM daily
), picked AS (
  SELECT event_type, d, s_scaled,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(s_scaled) DESC, d ASC) AS rn
  FROM scored
)
SELECT event_type, d AS change_day,
       abs(s_scaled)::BIGINT AS cusum_peak_scaled
FROM picked WHERE rn = 1
ORDER BY event_type
"""

QUERIES["cusum_changepoint_events"] = (
    cusum_changepoint_events,
    CUSUM_CHANGEPOINT_EVENTS_SQL,
)


def semantic_drift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-drift QC per label: cosine between the label's centroid
    over EVEN vec_ids and over ODD vec_ids (two deterministic halves —
    the batch-over-batch drift probe for an embedding pipeline: an
    encoder change or upstream content shift moves a class centroid long
    before a classifier's accuracy shows it; identical halves sit at
    cosine ≈ 1). Per-dim means are 6 dp-rounded (the kmeans/centroid
    precedent that keeps both engines iterating on identical doubles);
    the cosine itself uses the fold/sqrt machinery proven bit-identical
    to DuckDB's list_cosine_similarity in every knn oracle. Scale shape:
    one (label, half, dim) mean agg — KB-scale partials — then the
    cosine on 2×|labels| metadata rows."""
    from ..functions.vector_functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).cast("int").alias("half"),
            F.posexplode("embedding").alias("dim", "val"),
        )
        .groupBy("label", "half", "dim")
        .agg(F.round(F.avg("val"), 6).alias("c"))
        .groupBy("label", "half")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("c")))
            ).alias("ordered")
        )
        .select(
            "label",
            "half",
            F.transform(F.col("ordered"), lambda e: e["c"]).alias("cv"),
        )
    )
    c0 = cents.filter(F.col("half") == 0).select(
        "label", F.col("cv").alias("cv0")
    )
    c1 = cents.filter(F.col("half") == 1).select(
        "label", F.col("cv").alias("cv1")
    )
    return (
        c0.join(c1, "label")
        .select(
            "label",
            F.round(
                cosine_similarity(F.col("cv0"), F.col("cv1")), 6
            ).alias("drift_cosine"),
        )
        .orderBy("label")
    )


SEMANTIC_DRIFT_LABELS_SQL = """
WITH cents AS (
  SELECT label, (vec_id % 2)::INT AS half, i - 1 AS dim,
         round(avg(embedding[i]::DOUBLE), 6) AS c
  FROM embeddings, generate_series(1, 64) s(i)
  GROUP BY 1, 2, 3
), arrs AS (
  SELECT label, half, list(c ORDER BY dim) AS cv
  FROM cents GROUP BY 1, 2
)
SELECT a.label,
       round(list_cosine_similarity(a.cv, b.cv), 6) AS drift_cosine
FROM arrs a JOIN arrs b ON a.label = b.label AND a.half = 0 AND b.half = 1
ORDER BY a.label
"""

QUERIES["semantic_drift_labels"] = (semantic_drift_labels, SEMANTIC_DRIFT_LABELS_SQL)


def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-holdout evaluation of the Markov next-event model (the
    transition matrix event_transitions_events builds): transitions whose
    TARGET lands on an even epoch-day train the model, odd-day targets
    evaluate it — a deterministic time-sliced split, the eval discipline
    every sequence model needs before anyone trusts its lift. Per source
    state: the argmax prediction (count desc, type asc tie-break), eval
    support, hits, and accuracy in exact micros. One user-keyed lag
    window builds transitions; everything after runs on the |types|²
    grid. The whole train→predict→score loop replays in SQL."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    trans = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("nxt"),
        (day % 2 == 0).alias("is_train"),
    ).filter(F.col("prev").isNotNull())
    train = trans.filter("is_train").groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    pick = W.partitionBy("prev").orderBy(F.col("n").desc(), F.col("nxt").asc())
    model = (
        train.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    ev_eval = trans.filter(~F.col("is_train")).groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        ev_eval.join(model, "prev")
        .groupBy("prev", "predicted")
        .agg(
            F.sum("n").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("nxt") == F.col("predicted"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "prev",
            "predicted",
            "n_eval",
            "n_correct",
            F.expr("(1000000 * n_correct) div n_eval").cast("long").alias(
                "accuracy_micro"
            ),
        )
        .orderBy("prev")
    )


MARKOV_NEXT_EVENT_ACCURACY_SQL = """
WITH trans AS (
  SELECT lag(event_type) OVER w AS prev, event_type AS nxt,
         (datediff('day', DATE '1970-01-01', ts::DATE) % 2 = 0) AS is_train
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), t2 AS (SELECT * FROM trans WHERE prev IS NOT NULL),
train AS (
  SELECT prev, nxt, count(*)::BIGINT AS n FROM t2 WHERE is_train GROUP BY 1, 2
), model AS (
  SELECT prev, nxt AS predicted FROM (
    SELECT prev, nxt, row_number() OVER (PARTITION BY prev
                                         ORDER BY n DESC, nxt ASC) AS rn
    FROM train
  ) WHERE rn = 1
), ev AS (
  SELECT prev, nxt, count(*)::BIGINT AS n
  FROM t2 WHERE NOT is_train GROUP BY 1, 2
)
SELECT e.prev, m.predicted,
       sum(e.n)::BIGINT AS n_eval,
       sum(CASE WHEN e.nxt = m.predicted THEN e.n ELSE 0 END)::BIGINT
           AS n_correct,
       ((1000000 * sum(CASE WHEN e.nxt = m.predicted THEN e.n ELSE 0 END))
        // sum(e.n))::BIGINT AS accuracy_micro
FROM ev e JOIN model m USING (prev)
GROUP BY e.prev, m.predicted
ORDER BY e.prev
"""

QUERIES["markov_next_event_accuracy"] = (
    markov_next_event_accuracy,
    MARKOV_NEXT_EVENT_ACCURACY_SQL,
)


def ht_sampled_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation over a deterministic hash sample — the
    unbiased-estimator discipline for sampled aggregates (join_size_
    sample estimates a JOIN; this is the single-table total every
    sampled dashboard needs): a 1/8 md5-gate sample of orders, each
    sampled row weighted by the inverse inclusion probability (×8), the
    estimated total-price CENTS against the exact total, with the signed
    relative error in micros surfaced — an estimator whose error you
    don't publish is a guess. Exact integer cents (the repo's float-sum
    idiom) keep both engines' sums order-free. int64 headroom (r9
    self-review fix): the rel-err numerator 1e6·(ht−true) overflows 2^63
    once the absolute estimation error exceeds ~9.2e12 cents — plausible
    for a corpus-scale total — so it runs in DECIMAL(38,0)/HUGEINT."""
    orders = load_table(spark, sf_dir, "orders")
    from ..functions import md5_hash60

    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    gate = md5_hash60(F.col("o_orderkey").cast("string")) % 8 == 0
    both = orders.select(
        cents.alias("c"), gate.alias("in_sample")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("c").cast("long").alias("true_cents"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
        (F.sum(F.when(F.col("in_sample"), F.col("c")).otherwise(0)) * 8)
        .cast("long")
        .alias("ht_cents"),
    )
    return both.select(
        "n_rows",
        "n_sampled",
        "true_cents",
        "ht_cents",
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * (ht_cents - true_cents))"
            " div CAST(true_cents AS DECIMAL(38,0))"
        )
        .cast("long")
        .alias("rel_err_micro"),
    )


HT_SAMPLED_TOTAL_ORDERS_SQL = f"""
WITH t AS (
  SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS c,
         {_SQL_HASH60.format(c='o_orderkey::VARCHAR')} % 8 = 0 AS in_sample
  FROM orders
)
SELECT count(*)::BIGINT AS n_rows,
       sum(CASE WHEN in_sample THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
       sum(c)::BIGINT AS true_cents,
       (sum(CASE WHEN in_sample THEN c ELSE 0 END) * 8)::BIGINT AS ht_cents,
       ((1000000::HUGEINT * ((sum(CASE WHEN in_sample THEN c ELSE 0 END) * 8)
                    - sum(c))) // sum(c)::HUGEINT)::BIGINT AS rel_err_micro
FROM t
"""

QUERIES["ht_sampled_total_orders"] = (
    ht_sampled_total_orders,
    HT_SAMPLED_TOTAL_ORDERS_SQL,
)


def twap_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the time-series
    aggregate where a value holds UNTIL the next observation, so a
    reading that stood for 6 hours weighs 360× one that stood for a
    minute; the plain AVG every naive dashboard computes instead is
    sampling-rate-biased). Each event's weight is its µs-duration to the
    user's next event (lead over one user-keyed window; the last
    observation carries no interval and drops — stated, not hidden).
    The weighted sum runs in DECIMAL(38,6) — exact and order-free, so
    partial/final shuffle aggregation matches the serial oracle
    bit-for-bit (the gapfill_locf discipline). Users with < 2 events
    have no intervals and are absent by construction."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    tus = F.unix_micros(F.col("ts"))
    rows = ev.select(
        "user_id",
        F.col("value"),
        (F.lead(tus).over(w) - tus).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        rows.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("dur_us").cast("long").alias("total_us"),
            F.sum(
                (F.col("value") * F.col("dur_us")).cast("decimal(38,6)")
            ).alias("_wsum"),
        )
        .select(
            "user_id",
            "n_intervals",
            "total_us",
            F.round(
                (F.col("_wsum") / F.col("total_us")).cast("double"), 6
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


TWAP_USER_VALUES_SQL = """
WITH rows_ AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dur_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id,
       count(*)::BIGINT AS n_intervals,
       sum(dur_us)::BIGINT AS total_us,
       round((sum((value * dur_us)::DECIMAL(38,6)) / sum(dur_us))::DOUBLE, 6)
           AS twap
FROM rows_
WHERE dur_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""

QUERIES["twap_user_values"] = (twap_user_values, TWAP_USER_VALUES_SQL)


def funnel_time_to_convert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles for the view→click→purchase funnel:
    among users whose greedy chain completes inside the 7-day window,
    the p50/p90/max seconds from the anchor view to the purchase — the
    latency half of the funnel story (conversion RATE says how many;
    this says how long the window actually needs, feeding directly back
    into the windowFunnel deadline choice). Reuses funnel_steps'
    chained min-agg machinery; percentiles are exact with the proven
    percentile ≡ quantile_cont parity, over |converting users| rows.
    Scale tier (r9 self-review): |converting users| can reach ~1e9 on a
    100 TB event stream and the exact percentile buffers them in one
    aggregation group — swap in approx_percentile there; this exact form
    is the correctness anchor (percentile_lineitem tiering)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("et"),
        F.col("ts").alias("t"),
    ).filter(F.col("event_type").isin(list(_FUNNEL_STEPS)))
    reached = (
        ev.filter(F.col("et") == _FUNNEL_STEPS[0])
        .groupBy("u")
        .agg(F.min("t").alias("t0"))
        .withColumn("deadline", F.col("t0") + F.expr("INTERVAL 7 days"))
    )
    prev = "t0"
    for i, step in enumerate(_FUNNEL_STEPS[1:], start=1):
        nxt = (
            ev.filter(F.col("et") == step)
            .join(
                reached.select("u", F.col(prev).alias("_prev"), "t0", "deadline"),
                "u",
            )
            .filter((F.col("t") > F.col("_prev")) & (F.col("t") <= F.col("deadline")))
            .groupBy("u", "t0", "deadline")
            .agg(F.min("t").alias(f"t{i}"))
        )
        reached = nxt
        prev = f"t{i}"
    last = f"t{len(_FUNNEL_STEPS) - 1}"
    durs = reached.select(
        ((F.unix_micros(F.col(last)) - F.unix_micros(F.col("t0"))) / 1e6).alias(
            "secs"
        )
    )
    return durs.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.percentile("secs", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("secs", F.lit(0.9)), 4).alias("p90_s"),
        F.round(F.max("secs"), 4).alias("max_s"),
    )


FUNNEL_TIME_TO_CONVERT_SQL = f"""
WITH {_SQL_FUNNEL_ANCHOR},
s1 AS (
  SELECT e.u, r0.t0, r0.deadline, min(e.t) AS t1
  FROM ev e JOIN r0 ON e.u = r0.u
  WHERE e.et = 'click' AND e.t > r0.t0 AND e.t <= r0.deadline GROUP BY 1, 2, 3
),
s2 AS (
  SELECT e.u, s1.t0, min(e.t) AS t2
  FROM ev e JOIN s1 ON e.u = s1.u
  WHERE e.et = 'purchase' AND e.t > s1.t1 AND e.t <= s1.deadline GROUP BY 1, 2
),
durs AS (
  SELECT (epoch_us(t2) - epoch_us(t0)) / 1e6 AS secs FROM s2
)
SELECT count(*)::BIGINT AS n_converted,
       round(quantile_cont(secs, 0.5), 4) AS p50_s,
       round(quantile_cont(secs, 0.9), 4) AS p90_s,
       round(max(secs), 4) AS max_s
FROM durs
"""

QUERIES["funnel_time_to_convert_events"] = (
    funnel_time_to_convert_events,
    FUNNEL_TIME_TO_CONVERT_SQL,
)


def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness profile — the data-profiling pass every
    catalog/contract tool runs before anything else: per column, row
    count, null count, null share (micros) and exact distinct count, in
    ONE scan (all aggregates in a single agg; the per-column distincts
    expand to Spark's multi-distinct plan, the shape
    multi_distinct_events already pins). Values never round-trip through
    strings, so no cross-engine float formatting is involved — the
    profile is counts only, typed columns stay typed."""
    orders = load_table(spark, sf_dir, "orders")
    cols = orders.columns
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"_null_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"_nd_{c}"))
    one = orders.agg(*aggs)
    stack = ", ".join(f"'{c}', _null_{c}, _nd_{c}" for c in cols)
    return (
        one.select(
            "_n",
            F.expr(
                f"stack({len(cols)}, {stack}) AS (column_name, n_null, n_distinct)"
            ),
        )
        .select(
            "column_name",
            F.col("_n").alias("n_rows"),
            "n_null",
            "n_distinct",
            F.expr("(1000000 * n_null) div _n").cast("long").alias(
                "null_share_micro"
            ),
        )
        .orderBy("column_name")
    )


def _column_profile_oracle() -> str:
    import duckdb  # noqa: F401 — columns fixed by TESTDATA.md schema

    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    parts = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, count(*)::BIGINT AS n_rows, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null, "
        f"count(DISTINCT {c})::BIGINT AS n_distinct FROM orders"
        for c in cols
    )
    return f"""
WITH per AS ({parts})
SELECT column_name, n_rows, n_null, n_distinct,
       ((1000000 * n_null) // n_rows)::BIGINT AS null_share_micro
FROM per ORDER BY column_name
"""


COLUMN_PROFILE_ORDERS_SQL = _column_profile_oracle()

QUERIES["column_profile_orders"] = (column_profile_orders, COLUMN_PROFILE_ORDERS_SQL)


def session_cooccurrence_lift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence LIFT within behavioral sessions — a
    composition that uses sessionization as a building block: sessions
    from the same 30-minute-gap assignment as sessionize_events, distinct
    (session, type) incidence, pair counts, and
    lift = P(a,b) / (P(a)·P(b)) = n_ab·n_sessions / (n_a·n_b) in exact
    integer micros (DECIMAL(38,0) numerator — the int64-headroom
    discipline). Types that co-sessionize above independence reveal
    coupled behaviors the per-event transition matrix can't see (it only
    looks one step ahead). One user-keyed window + ONE session-keyed
    collect_set agg (dedups — no separate DISTINCT pass), eagerly cut at
    the session-set frame (session-count-scale) so its three consumers —
    the n_sessions scalar (now a broadcast crossJoin, not a driver
    count() that re-ran the whole sessionization), the per-type session
    counts, and the type-pair expansion (JVM nested transforms over the
    sorted set, replacing the per-session self-join) — share one
    materialization."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    tus = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = tus - F.lag(tus).over(w)
    sess_sets = cut(
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
            .otherwise(0)
            .alias("is_new"),
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(
                W.partitionBy("user_id")
                .orderBy(F.col("ts").asc(), F.col("event_id").asc())
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.sort_array(F.collect_set("event_type")).alias("tt"))
    )
    ns = sess_sets.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    singles = (
        sess_sets.select(F.explode("tt").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    )
    pairs = (
        sess_sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(tt, (x, i) ->"
                    " transform(slice(tt, i + 2, size(tt)),"
                    " y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_sessions)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            )
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy("type_a", "type_b")
    )


SESSION_COOCCURRENCE_LIFT_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sess AS (
  SELECT DISTINCT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS sid,
         event_type
  FROM flagged
), ns AS (SELECT count(*)::BIGINT AS n_sessions
          FROM (SELECT DISTINCT user_id, sid FROM sess)),
singles AS (
  SELECT event_type, count(*)::BIGINT AS n_t FROM sess GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*)::BIGINT AS n_ab
  FROM sess a JOIN sess b
    ON a.user_id = b.user_id AND a.sid = b.sid
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ((1000000::HUGEINT * p.n_ab * ns.n_sessions)
        // (sa.n_t::HUGEINT * sb.n_t))::BIGINT AS lift_micro
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN ns
ORDER BY p.type_a, p.type_b
"""

QUERIES["session_cooccurrence_lift_events"] = (
    session_cooccurrence_lift_events,
    SESSION_COOCCURRENCE_LIFT_SQL,
)


def rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic behavioral-scoring pass, built scale-safe: per customer,
    days-since-last-order (vs the corpus max date, so the reference point
    is deterministic), order count, and exact total cents; each dimension
    scored 1-5 against its exact QUINTILE BOUNDARIES (percentile ≡
    quantile_cont parity) by comparison — NOT ntile, whose global window
    would single-partition-sort every customer at 100 TB (the
    range_partition_plan_orders pattern instead: boundary agg + bucket by
    comparison). Recency scores INVERT (recent = high). Output: one row
    per occupied segment with its customer count — the activation
    dashboard's input table."""
    orders = load_table(spark, sf_dir, "orders")
    # scalar-subquery crossJoin (not collect()): the corpus-max reference
    # date rides the same job instead of an extra driver round-trip
    ref = orders.agg(F.max("o_orderdate").alias("ref"))
    # r15 (duplicate-scan audit tail): the quintile-boundary agg and
    # the scoring pass each replayed the per-customer agg (+ its ref
    # scan) — 4 orders scans in one plan. One eager cut of the
    # |customers|-row 4-column reduction runs the groupBy once.
    # No A/B timing was recorded.
    per = cut(
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff(F.col("ref"), F.col("last_order"))
            .cast("long")
            .alias("rec_days"),
            "freq",
            "cents",
        )
    )
    probs = [0.2, 0.4, 0.6, 0.8]
    bounds = per.agg(
        F.percentile("rec_days", F.array(*[F.lit(p) for p in probs])).alias("rb"),
        F.percentile("freq", F.array(*[F.lit(p) for p in probs])).alias("fb"),
        F.percentile("cents", F.array(*[F.lit(p) for p in probs])).alias("mb"),
    )

    def score(col, barr):
        return sum(
            (F.col(col) > F.element_at(barr, i + 1)).cast("int") for i in range(4)
        ) + F.lit(1)

    scored = per.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        (F.lit(6) - score("rec_days", F.col("rb"))).alias("r_score"),  # invert
        score("freq", F.col("fb")).alias("f_score"),
        score("cents", F.col("mb")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .select(
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
            .cast("int")
            .alias("segment"),
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
        )
        .orderBy("segment")
    )


RFM_SEGMENTS_CUSTOMERS_SQL = """
WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
per AS (
  SELECT o_custkey,
         datediff('day', max(o_orderdate), (SELECT r FROM ref))::BIGINT
             AS rec_days,
         count(*)::BIGINT AS freq,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY o_custkey
), b AS (
  SELECT quantile_cont(rec_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
         quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
         quantile_cont(cents, [0.2, 0.4, 0.6, 0.8]) AS mb
  FROM per
), scored AS (
  SELECT o_custkey,
         6 - (((rec_days > b.rb[1])::INT + (rec_days > b.rb[2])::INT
             + (rec_days > b.rb[3])::INT + (rec_days > b.rb[4])::INT) + 1)
             AS r_score,
         ((freq > b.fb[1])::INT + (freq > b.fb[2])::INT
        + (freq > b.fb[3])::INT + (freq > b.fb[4])::INT) + 1 AS f_score,
         ((cents > b.mb[1])::INT + (cents > b.mb[2])::INT
        + (cents > b.mb[3])::INT + (cents > b.mb[4])::INT) + 1 AS m_score
  FROM per CROSS JOIN b
)
SELECT (r_score * 100 + f_score * 10 + m_score)::INT AS segment,
       r_score::INT AS r_score, f_score::INT AS f_score,
       m_score::INT AS m_score,
       count(*)::BIGINT AS n_customers
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY segment
"""

QUERIES["rfm_segments_customers"] = (
    rfm_segments_customers,
    RFM_SEGMENTS_CUSTOMERS_SQL,
)
