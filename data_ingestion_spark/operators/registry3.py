"""Round-9 operator registry: compaction planning, privacy
(l-diversity), day-of-week seasonality
baselines, the multi-probe SimHash recall extension, and the stored
IVF-PQ probe. (EWMA, Cohen's kappa, and calibration bins already exist
in registry2/inference, and Pearson chi-square over (lang × source) in
stats/chi2_lang_source_docs — the duplicate-registration gate plus a
concept grep enforce the no-overlap rule this file was checked
against.)

Same contract as registry.py/registry2.py: ``QUERIES[name] =
(spark_fn, oracle_sql)`` where the oracle replays the full computation
in DuckDB. Engine-parity rules throughout: integer µs time math, exact
cents/micros via floor(x·100 + 0.5) / 1e6-div, DECIMAL(38,0)/HUGEINT
once a 1e6-scaled product can exceed 2^63, no ln/exp in value paths,
total tie-breaks on every ranking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cut, load_table
from .registry import (
    DEDUP_SIMHASH_DOCS_SQL,
    KMEANS_CENTROIDS_EMBEDDINGS_SQL,
    _SQL_BLOCKED_PAIRS,
    _SQL_HASH60,
    _SQL_SHINGLE_BLOCKS,
    _SQL_TOKENS,
    _sql_adc_topk,
    _sql_ivf_lists,
    _sql_jaccard,
    _sql_pq_training_ctes,
    _sql_winnow_fp,
    _trade_pairs,
)
from .registry2 import (
    _basket_counts,
    _basket_sets,
    _frequent_sets,
    _pair_counts,
    _pq_ivf_oracle,
)

QUERIES: dict = {}


# --------------------------------------------------------------------------
# Small-file compaction planning (OPTIMIZE bin packing)
# --------------------------------------------------------------------------
_COMPACT_TARGET = 60_000  # target "file" size in chars (fixture-scaled)


def compaction_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNING — the scheduling step behind Delta
    OPTIMIZE / Iceberg rewrite_data_files: synthetic "files" (one per
    (source, doc_id % 16) group, sized by total chars) are packed in
    file-id order into ~target-size output bins via the distributed
    standard: running prefix sum per source, bin = prefix-before ÷
    target. True first-fit-decreasing is inherently sequential; the
    prefix-sum pack is the shape that scales (one source-keyed window,
    no driver loop) and over-fills a bin by at most one file — the same
    trade every production compactor makes. Output: per (source, bin)
    the file count, byte total, and fill ratio vs target in micros —
    value-checked proof the planner balances (a skewed plan is worse
    than none)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    files = docs.groupBy(
        "source", (F.col("doc_id") % 16).alias("file_id")
    ).agg(F.sum("n_chars").cast("long").alias("bytes"))
    w = (
        W.partitionBy("source")
        .orderBy(F.col("file_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    planned = files.select(
        "source",
        "file_id",
        "bytes",
        ((F.sum("bytes").over(w) - F.col("bytes")) / F.lit(_COMPACT_TARGET))
        .cast("long")
        .alias("bin"),
    )
    return (
        planned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("bin_bytes"),
        )
        .select(
            "source",
            "bin",
            "n_files",
            "bin_bytes",
            F.expr(f"(1000000 * bin_bytes) div {_COMPACT_TARGET}L")
            .cast("long")
            .alias("fill_micro"),
        )
        .orderBy("source", "bin")
    )


COMPACTION_PLAN_DOCS_SQL = f"""
WITH files AS (
  SELECT source, doc_id % 16 AS file_id, sum(n_chars)::BIGINT AS bytes
  FROM documents GROUP BY 1, 2
), planned AS (
  SELECT source, file_id, bytes,
         ((sum(bytes) OVER (PARTITION BY source ORDER BY file_id ASC
                            ROWS UNBOUNDED PRECEDING) - bytes)
          // {_COMPACT_TARGET})::BIGINT AS bin
  FROM files
)
SELECT source, bin, count(*)::BIGINT AS n_files,
       sum(bytes)::BIGINT AS bin_bytes,
       ((1000000 * sum(bytes)) // {_COMPACT_TARGET})::BIGINT AS fill_micro
FROM planned
GROUP BY source, bin
ORDER BY source, bin
"""

QUERIES["compaction_plan_docs"] = (compaction_plan_docs, COMPACTION_PLAN_DOCS_SQL)


# --------------------------------------------------------------------------
# l-diversity (privacy audit, companion to k_anonymity_docs)
# --------------------------------------------------------------------------
def l_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE'06) — the privacy
    property k-anonymity misses: a class can hold 50 rows (k-anonymous)
    that all share ONE sensitive value, so membership still discloses
    it. Quasi-identifiers here are (lang, source); the sensitive
    attribute is the length decile bucket (the k_anonymity_docs QI
    deliberately split: its third QI column is this operator's sensitive
    column, so the two audits compose into the release checklist).
    Output: per QI class the row count, distinct-sensitive count l, and
    whether it meets l ≥ 3 — plus deterministic ordering for the oracle.
    One (QI, sensitive) agg then one QI agg; both corpus-scale stages
    are plain count-distinct shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang", "source", F.expr("n_chars div 200").alias("sens")
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("sens").cast("long").alias("l_distinct"),
        )
        .select(
            "lang",
            "source",
            "n_rows",
            "l_distinct",
            (F.col("l_distinct") >= 3).alias("l3_diverse"),
        )
        .orderBy("lang", "source")
    )


L_DIVERSITY_DOCS_SQL = """
SELECT lang, source, count(*)::BIGINT AS n_rows,
       count(DISTINCT n_chars // 200)::BIGINT AS l_distinct,
       (count(DISTINCT n_chars // 200) >= 3) AS l3_diverse
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""

QUERIES["l_diversity_docs"] = (l_diversity_docs, L_DIVERSITY_DOCS_SQL)


# --------------------------------------------------------------------------
# Day-of-week seasonality baseline + residual anomalies
# --------------------------------------------------------------------------
def seasonality_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type — the baseline every
    volume monitor needs BEFORE flagging anomalies (Mondays are not
    incidents). Weekday is computed engine-proof as d % 7 over integer
    days-since-epoch (label 0 = Thursday, 1970-01-01) — never from the
    engines' dayofweek() builtins, whose numbering conventions differ.
    Per (event_type, weekday): observed days, total events, the exact
    mean in micros, and the worst single-day deviation from the weekday
    mean as the SCALED integer |c·n_days − total| (the cusum trick:
    scale the mean out instead of dividing, so the residual ranking is
    exact). One (type, day) count agg is the only corpus-scale stage;
    everything after runs on |types|·|days| metadata rows."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    daily = ev.groupBy(F.col("event_type"), day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).withColumn("dow", F.pmod(F.col("d"), F.lit(7)).cast("int"))
    grp = W.partitionBy("event_type", "dow")
    scored = daily.select(
        "event_type",
        "dow",
        "c",
        F.count(F.lit(1)).over(grp).cast("long").alias("n_days"),
        F.sum("c").over(grp).cast("long").alias("total_c"),
    )
    return (
        scored.groupBy("event_type", "dow")
        .agg(
            F.max("n_days").cast("long").alias("n_days"),
            F.max("total_c").cast("long").alias("total_c"),
            F.max(F.abs(F.col("c") * F.col("n_days") - F.col("total_c")))
            .cast("long")
            .alias("max_resid_scaled"),
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            "total_c",
            F.expr("(1000000 * total_c) div n_days").cast("long").alias(
                "mean_micro"
            ),
            "max_resid_scaled",
        )
        .orderBy("event_type", "dow")
    )


SEASONALITY_DOW_EVENTS_SQL = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, (d % 7)::INT AS dow, c,
         count(*) OVER (PARTITION BY event_type, d % 7)::BIGINT AS n_days,
         sum(c) OVER (PARTITION BY event_type, d % 7)::BIGINT AS total_c
  FROM daily
)
SELECT event_type, dow,
       max(n_days)::BIGINT AS n_days,
       max(total_c)::BIGINT AS total_c,
       ((1000000 * max(total_c)) // max(n_days))::BIGINT AS mean_micro,
       max(abs(c * n_days - total_c))::BIGINT AS max_resid_scaled
FROM scored
GROUP BY event_type, dow
ORDER BY event_type, dow
"""

QUERIES["seasonality_dow_events"] = (
    seasonality_dow_events,
    SEASONALITY_DOW_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# Multi-probe SimHash near-dup pairs (recall extension, theorem recall)
# --------------------------------------------------------------------------
def simhash_multiprobe_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SimHash near-dup pairs at hamming ≤ 7
    (dedup.simhash_multiprobe_pairs): dedup_simhash_pairs' pigeonhole
    banding guarantees hamming ≤ 3 with exact band matches; probing each
    band key's 15 single-bit variants at query time (Lv et al., VLDB'07
    multi-probe LSH) extends the GUARANTEE to ≤ 2·bands−1 = 7 — wider
    recall bought with probe volume instead of stored tables, the
    standard memory/latency trade of production LSH services. With the
    exact popcount verify the output EQUALS brute force at ≤ 7, so the
    oracle is the all-pairs form and recall stays a theorem, not a
    probability. r12: signatures come from the committed snapshot
    (dedup.simhash_base_store — the corpus-token-scale vote aggregation
    is paid once per corpus by simhash_base_build_docs); both the probe
    and build join sides scan the bucketed parquet."""
    from . import dedup

    sig = dedup.simhash_base_probe(spark, sf_dir)
    return dedup.simhash_multiprobe_pairs(
        sig, max_hamming=7, band_bits=15
    ).orderBy("id_a", "id_b")


def _simhash_multiprobe_oracle() -> str:
    return f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM ({DEDUP_SIMHASH_DOCS_SQL}) a
JOIN ({DEDUP_SIMHASH_DOCS_SQL}) b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
"""


QUERIES["simhash_multiprobe_pairs_docs"] = (
    simhash_multiprobe_pairs_docs,
    _simhash_multiprobe_oracle(),
)


# --------------------------------------------------------------------------
# IVF-PQ probe from a PERSISTED index (the verdict-3 pattern completed)
# --------------------------------------------------------------------------
def pq_ivf_index_store(
    spark: SparkSession,
    sf_dir: str,
    force: bool = False,
    n_lists: int = 4,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
) -> str:
    """Build-once/probe-everywhere IVF-PQ index store (r13, the r12
    verdict's task 5): ONE atomic transaction commits (a) the flat code
    table (list_id, vec_id, m, code) BUCKETED by list_id, (b) the PQ
    codebooks (m·k·d_sub rows), and (c) the coarse centroids. Until r13
    pq_ivf_stored_probe re-trained, re-encoded, and re-committed all
    three into per-call scratch on EVERY invocation — so each bench rep
    billed the whole build to the 'probe'. The index now lives at a
    ``stores.open_store`` root keyed on (n_lists, m, k, n_iter) —
    probe-time knobs (n_probe, topk) deliberately NOT in the key, one
    index serves them all (see stores.py). The registered build query
    passes force=True so the bench bills the corpus-scale
    train/encode/commit honestly; the probe pays stored reads only."""
    from . import similarity, stores, tableformat

    def _build(r):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = similarity.ivf_centroids_from_sample(emb, n_lists)
        assigned = similarity.ivf_assign(
            emb.select("vec_id", "embedding"), cents,
            vec_col="embedding", n_probe=1,
        ).select("vec_id", "list_id")
        books = similarity.pq_train(
            emb, "vec_id", "embedding", m=m, k=k, n_iter=n_iter
        )
        codes = similarity.pq_encode(emb, "vec_id", "embedding", books)
        code_struct = ", ".join(
            f"struct({s} AS m, code_{s} AS code)" for s in range(m)
        )
        flat = (
            codes.select(
                "vec_id", F.expr(f"explode(array({code_struct}))").alias("mc")
            )
            .select("vec_id", "mc.m", "mc.code")
            .join(assigned, "vec_id")
            .select("list_id", "vec_id", "m", "code")
        )
        books_df = spark.createDataFrame(
            [
                (s, c, d, float(books[s][c][d]))
                for s in range(m)
                for c in range(k)
                for d in range(len(books[0][0]))
            ],
            "m int, code int, dim int, cval double",
        )
        cents_df = spark.createDataFrame(
            [(i, [float(x) for x in cv]) for i, cv in enumerate(cents)],
            "list_id int, cv array<double>",
        )
        tableformat.commit_atomic(
            r,
            {
                "codes": ("bucketed", flat, "list_id", n_lists),
                "codebooks": ("plain", books_df),
                "centroids": ("plain", cents_df),
            },
        )

    return stores.open_store(
        spark, "pqivf", sf_dir, "embeddings", (n_lists, m, k, n_iter),
        _build, force=force,
    )


def pq_ivf_stored_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search served from COMMITTED index artifacts — the full
    production shape the r8 verdict asked for ("IVF k-means lists + PQ
    codebooks as a versioned table"). The probe touches ONLY stored
    snapshots (pq_ivf_index_store — built once per corpus, billed by
    pq_ivf_index_build_embeddings): codebooks/centroids load as
    metadata-scale reads, the probed list ids resolve driver-side and
    prune the code scan's buckets (SelectedBucketsCount < total,
    plan-asserted), and the ADC sum runs over probed lists' codes alone.
    At 100 TB: train/encode/bucket-shuffle are paid once per index
    build; every query after costs |probed lists| code rows and an
    n_q·m·k LUT broadcast. Values are exactly pq_ivf_topk_embeddings'
    semantics restricted to the 2 lowest-id queries, so the oracle is
    the same unrolled train→encode→LUT→probe SQL."""
    from . import similarity, tableformat

    emb = load_table(spark, sf_dir, "embeddings")
    n_probe, topk = 2, 5
    root = pq_ivf_index_store(spark, sf_dir)
    # ---- probe phase: stored snapshots only ----
    stored_books = tableformat.read_atomic(spark, root, "codebooks").collect()
    m = 1 + max(r["m"] for r in stored_books)
    k = 1 + max(r["code"] for r in stored_books)
    d_sub = 1 + max(r["dim"] for r in stored_books)
    books2 = [[[0.0] * d_sub for _ in range(k)] for _ in range(m)]
    for r in stored_books:
        books2[r["m"]][r["code"]][r["dim"]] = float(r["cval"])
    stored_cents = tableformat.read_atomic(spark, root, "centroids")
    cent_list = [
        [float(x) for x in r["cv"]]
        for r in stored_cents.orderBy("list_id").collect()
    ]
    # r14 eager cuts: queries feeds the probe assignment AND the ADC LUT
    # (each replay = a corpus TakeOrdered); probes feeds the driver
    # list-id collect AND the broadcast candidate join
    queries = cut(
        emb.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    probes = cut(similarity.ivf_assign(
        queries, cent_list, vec_col="embedding", n_probe=n_probe
    ).select("qid", "list_id"))
    probed = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    stored_codes = tableformat.read_atomic(spark, root, "codes").filter(
        F.col("list_id").isin(probed)
    )
    lut = similarity._pq_lut(queries, books2, "qid", "embedding")
    cand = stored_codes.join(F.broadcast(probes), ["list_id"]).select(
        "qid", "vec_id", "m", "code"
    )
    scored = (
        cand.join(F.broadcast(lut), ["qid", "m", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("adc_micro").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("qid", "vec_id", "adc_micro", "rk")
        .orderBy("qid", "rk")
    )


def _pq_ivf_stored_oracle() -> str:
    return _pq_ivf_oracle(n_q=2)


def pq_ivf_index_build_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD phase of the stored IVF-PQ index (pq_ivf_index_store):
    coarse-centroid sample, IVF assignment, 2-round PQ Lloyd training,
    encode, and the atomic 3-member commit run ONCE over the corpus.
    ``force=True`` so the bench bills the corpus-scale build here —
    pq_ivf_stored_probe then pays stored reads only (r13, the r12
    verdict's task 5: the probe used to silently pay this entire build
    per invocation).

    Returns a certification summary READ BACK FROM THE COMMITTED
    MEMBERS — per list over ``codes`` (row count, Σ vec_id, a packed
    (m, code) checksum), per subspace over ``codebooks`` (row count,
    micro-int codeword sum, a packed (code, dim) checksum), and per list
    over ``centroids`` (dim count and micro-int component sum) — so a
    hash-matching oracle (which replays seed→Lloyd→encode→assign in
    DuckDB) certifies the committed artifacts, not a transient
    recompute."""
    from . import tableformat

    root = pq_ivf_index_store(spark, sf_dir, force=True)
    codes = tableformat.read_atomic(spark, root, "codes")
    books = tableformat.read_atomic(spark, root, "codebooks")
    cents = tableformat.read_atomic(spark, root, "centroids")
    k = books.agg(F.max("code")).collect()[0][0] + 1
    d_sub = books.agg(F.max("dim")).collect()[0][0] + 1
    codes_cert = (
        codes.groupBy(F.col("list_id").cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("vec_id").cast("long").alias("chk1"),
            F.sum(F.col("m") * F.lit(k) + F.col("code"))
            .cast("long")
            .alias("chk2"),
        )
        .select(F.lit("codes").alias("member"), "grp", "n_rows", "chk1", "chk2")
    )
    books_cert = (
        books.groupBy(F.col("m").cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("cval") * F.lit(1e6) + F.lit(0.5)))
            .cast("long")
            .alias("chk1"),
            F.sum(F.col("code") * F.lit(d_sub) + F.col("dim"))
            .cast("long")
            .alias("chk2"),
        )
        .select(
            F.lit("codebooks").alias("member"), "grp", "n_rows", "chk1", "chk2"
        )
    )
    cents_cert = cents.select(
        F.lit("centroids").alias("member"),
        F.col("list_id").cast("long").alias("grp"),
        F.size("cv").cast("long").alias("n_rows"),
        F.expr(
            "aggregate(transform(cv, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)),"
            " 0L, (a, v) -> a + v)"
        ).alias("chk1"),
        F.lit(0).cast("long").alias("chk2"),
    )
    return (
        codes_cert.unionByName(books_cert)
        .unionByName(cents_cert)
        .orderBy("member", "grp")
    )


def _pq_ivf_index_build_oracle(
    m: int = 4, k: int = 8, d_sub: int = 16, n_lists: int = 4
) -> str:
    """Replays the IVF-PQ index build in DuckDB — the shared PQ training
    CTEs (seeds → 2 Lloyd rounds → b2/enc) plus the coarse
    centroid/assignment CTEs of _pq_ivf_oracle — and certifies the same
    per-member summaries pq_ivf_index_build_embeddings reads back from
    the committed snapshot."""
    return f"""
WITH {_sql_pq_training_ctes(m, k, d_sub)}, {_sql_ivf_lists(n_lists)}
SELECT * FROM (
  SELECT 'codes' AS member, a.list_id::BIGINT AS grp,
         count(*)::BIGINT AS n_rows,
         sum(e.vec_id)::BIGINT AS chk1,
         sum(e.m * {k} + e.code)::BIGINT AS chk2
  FROM enc e JOIN asg a USING (vec_id)
  GROUP BY a.list_id
  UNION ALL
  SELECT 'codebooks', m::BIGINT, count(*)::BIGINT,
         sum(floor(c * 1e6 + 0.5))::BIGINT,
         sum(code * {d_sub} + dim)::BIGINT
  FROM b2 GROUP BY m
  UNION ALL
  SELECT 'centroids', cid::BIGINT, len(cv)::BIGINT,
         list_sum(list_transform(cv::DOUBLE[],
                                 x -> floor(x * 1e6 + 0.5)))::BIGINT,
         0::BIGINT
  FROM cents
) ORDER BY member, grp
"""


QUERIES["pq_ivf_index_build_embeddings"] = (
    pq_ivf_index_build_embeddings,
    _pq_ivf_index_build_oracle(),
)
QUERIES["pq_ivf_stored_probe"] = (pq_ivf_stored_probe, _pq_ivf_stored_oracle())


# --------------------------------------------------------------------------
# t-closeness (ordered EMD) — completes the k-anon / l-div / t-close triad
# --------------------------------------------------------------------------
def t_closeness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., ICDE'07) — the release check the
    k-anonymity (registry2.k_anonymity_docs) and l-diversity
    (l_diversity_docs) audits still miss: a class can be k-anonymous AND
    l-diverse while its sensitive-value DISTRIBUTION (e.g. 90% of one
    bucket) still leaks. For the ordered sensitive attribute (the same
    n_chars-div-200 bucket l_diversity uses, QI = (lang, source)) the
    Earth Mover's Distance has the closed form
    EMD = sum_b |cum(P_b) - cum(Q_b)| / (B - 1), P = class distribution,
    Q = global. Exact integer form: the cumulative difference is scaled
    by n·N (|cum_c·N − cum_g·n|, DECIMAL(38,0)/HUGEINT — at 1e12 rows the
    product reaches ~1e24, past int64), and the final t is emitted in
    micros via one decimal div. Plan shape: one (QI, bucket) count agg +
    one bucket agg over the corpus; the class×bucket grid, cumsums and
    EMD all run on |QI classes|·|buckets| metadata rows (grid side
    broadcast)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select("lang", "source", F.expr("n_chars div 200").alias("s"))
    # r15 (duplicate-scan audit tail): cls, glob, tot, and the grid's
    # left join each replayed the corpus scan + agg — 4 documents scans
    # in one plan. The finest-grain (QI, bucket) count agg runs once
    # behind an eager cut; class/global/total aggregates derive from it
    # (Σ counts ≡ counts — value-identical). No A/B timing was recorded.
    cb = cut(per.groupBy("lang", "source", "s").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ))
    cls = cb.groupBy("lang", "source").agg(
        F.sum("c").cast("long").alias("n")
    )
    glob = cb.groupBy("s").agg(F.sum("c").cast("long").alias("g"))
    tot = cb.agg(
        F.sum("c").cast("long").alias("n_tot"),
        F.countDistinct("s").cast("long").alias("n_bkt"),
    )
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(cb, ["lang", "source", "s"], "left")
        .select(
            "lang",
            "source",
            "n",
            "s",
            "g",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    w = (
        W.partitionBy("lang", "source")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cums = grid.select(
        "lang",
        "source",
        "n",
        F.sum("c").over(w).cast("decimal(38,0)").alias("cum_c"),
        F.sum("g").over(w).cast("decimal(38,0)").alias("cum_g"),
    ).crossJoin(F.broadcast(tot))
    agg = cums.groupBy("lang", "source").agg(
        F.max("n").alias("n"),
        F.max("n_tot").alias("n_tot"),
        F.max("n_bkt").alias("n_bkt"),
        F.sum(
            F.abs(
                F.col("cum_c") * F.col("n_tot") - F.col("cum_g") * F.col("n")
            )
        ).alias("sd"),
    )
    return (
        agg.select(
            "lang",
            "source",
            F.col("n").alias("n_rows"),
            F.expr(
                "CAST((sd * 1000000) div (CAST(n AS DECIMAL(38,0)) * n_tot"
                " * greatest(n_bkt - 1, 1)) AS LONG)"
            ).alias("t_micro"),
        )
        .withColumn("tclose_02", F.col("t_micro") <= 200000)
        .orderBy("lang", "source")
    )


T_CLOSENESS_DOCS_SQL = """
WITH per AS (
  SELECT lang, source, n_chars // 200 AS s FROM documents
), cls AS (
  SELECT lang, source, count(*)::BIGINT AS n FROM per GROUP BY 1, 2
), gl AS (
  SELECT s, count(*)::BIGINT AS g FROM per GROUP BY 1
), tot AS (
  SELECT count(*)::BIGINT AS N, count(DISTINCT s)::BIGINT AS B FROM per
), grid AS (
  SELECT cls.lang, cls.source, cls.n, gl.s, gl.g,
         coalesce(cb.c, 0)::BIGINT AS c
  FROM cls CROSS JOIN gl
  LEFT JOIN (SELECT lang, source, s, count(*)::BIGINT AS c
             FROM per GROUP BY 1, 2, 3) cb
    ON cb.lang = cls.lang AND cb.source = cls.source AND cb.s = gl.s
), cums AS (
  SELECT lang, source, n,
         sum(c) OVER (PARTITION BY lang, source ORDER BY s
                      ROWS UNBOUNDED PRECEDING)::HUGEINT AS cum_c,
         sum(g) OVER (PARTITION BY lang, source ORDER BY s
                      ROWS UNBOUNDED PRECEDING)::HUGEINT AS cum_g
  FROM grid
), agg AS (
  SELECT lang, source, max(n) AS n,
         sum(abs(cum_c * (SELECT N FROM tot) - cum_g * n))::HUGEINT AS sd
  FROM cums GROUP BY 1, 2
)
SELECT lang, source, n::BIGINT AS n_rows,
       ((sd * 1000000) // (n::HUGEINT * (SELECT N FROM tot)
        * greatest((SELECT B FROM tot) - 1, 1)))::BIGINT AS t_micro,
       ((sd * 1000000) // (n::HUGEINT * (SELECT N FROM tot)
        * greatest((SELECT B FROM tot) - 1, 1)))::BIGINT <= 200000
         AS tclose_02
FROM agg
ORDER BY lang, source
"""

QUERIES["t_closeness_docs"] = (t_closeness_docs, T_CLOSENESS_DOCS_SQL)


# --------------------------------------------------------------------------
# Effective sample size of importance weights (DSIR companion diagnostic)
# --------------------------------------------------------------------------
def ess_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of importance weights per source (Kong 1992:
    ESS = (Σw)²/Σw²) — the diagnostic that tells you whether a weighted
    resample (registry2.dsir_importance_docs, weighted_sample_docs)
    actually carries n-worth of information or has collapsed onto a few
    heavy documents. Weights here are n_chars (length-proportional, the
    token-budget proposal every corpus sampler starts from). Emitted
    exactly: ess_rows = (Σw)² div Σw² and the retained fraction
    1e6·(Σw)² div (n·Σw²) in micros — squares run in DECIMAL(38,0)/
    HUGEINT (the 1e6-scaled square clears 2^63 once Σw > ~3e6; bound
    holds to Σw ≈ 1.8e16 per source, ~180× the chars a 100 TB corpus
    puts in one source). One map-side-combined agg per source; no joins,
    no windows."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_w"),
        F.sum(
            F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")
        ).alias("sum_w2"),
    )
    return agg.select(
        "source",
        "n_docs",
        "sum_w",
        F.expr(
            "CAST((CAST(sum_w AS DECIMAL(38,0)) * sum_w) div sum_w2 AS LONG)"
        ).alias("ess_rows"),
        F.expr(
            "CAST((CAST(sum_w AS DECIMAL(38,0)) * sum_w * 1000000)"
            " div (CAST(n_docs AS DECIMAL(38,0)) * sum_w2) AS LONG)"
        ).alias("ess_frac_micro"),
    ).orderBy("source")


ESS_IMPORTANCE_DOCS_SQL = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_w,
       ((sum(n_chars)::HUGEINT * sum(n_chars)::HUGEINT)
        // sum(n_chars::HUGEINT * n_chars))::BIGINT AS ess_rows,
       ((sum(n_chars)::HUGEINT * sum(n_chars)::HUGEINT * 1000000)
        // (count(*)::HUGEINT * sum(n_chars::HUGEINT * n_chars)))::BIGINT
         AS ess_frac_micro
FROM documents
GROUP BY source
ORDER BY source
"""

QUERIES["ess_importance_docs"] = (ess_importance_docs, ESS_IMPORTANCE_DOCS_SQL)


# --------------------------------------------------------------------------
# Dedup impact report — what dedup DID to corpus composition
# --------------------------------------------------------------------------
def dedup_impact_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition-shift report for exact dedup: per source, docs/chars
    before vs after first-writer-wins (min doc_id per content
    fingerprint), the dup rate, and the source's share of global chars
    before and after — the table a data lead reads before signing off a
    dedup run, because dedup changes the MIX (boilerplate-heavy sources
    shrink) and mixture weights were tuned on the old one. Winners are
    attributed to the winning row's source. Fingerprint-only shuffle
    (16-byte md5 substring), one agg per side, totals broadcast; the
    1e6-scaled char shares run in DECIMAL(38,0)/HUGEINT (1e6·chars
    clears 2^63 past ~9e12 chars — one 10 TB source)."""
    docs = load_table(spark, sf_dir, "documents")
    # r15 (duplicate-scan audit tail): the final plan held SIX documents
    # scans, each recomputing md5 over the full text (winners ×2, before,
    # after→winners ×2, totals via both). One eager cut of the narrow
    # (id, source, n_chars, fp) frame — text never materializes — runs
    # the hash pass once; every downstream agg reads the 16-byte
    # fingerprints. No A/B timing was recorded.
    fp = cut(docs.select(
        "doc_id", "source", "n_chars", F.md5(F.col("text")).alias("fp")
    ))
    winners = (
        fp.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(fp.select("doc_id", "source", "n_chars"), "doc_id")
    )
    before = fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    after = winners.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )
    tot = before.agg(
        F.sum("chars").cast("long").alias("tc")
    ).crossJoin(after.agg(F.sum("chars_kept").cast("long").alias("tk")))
    return (
        before.join(after, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias(
                "n_kept"
            ),
            "chars",
            F.coalesce(F.col("chars_kept"), F.lit(0)).cast("long").alias(
                "chars_kept"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_kept",
            "chars",
            "chars_kept",
            F.expr("(1000000 * (n_docs - n_kept)) div n_docs")
            .cast("long")
            .alias("dup_rate_micro"),
            F.expr(
                "CAST((CAST(chars AS DECIMAL(38,0)) * 1000000) div tc"
                " AS LONG)"
            ).alias("share_before_micro"),
            F.expr(
                "CAST((CAST(chars_kept AS DECIMAL(38,0)) * 1000000) div tk"
                " AS LONG)"
            ).alias("share_after_micro"),
        )
        .orderBy("source")
    )


DEDUP_IMPACT_REPORT_DOCS_SQL = """
WITH fp AS (
  SELECT doc_id, source, n_chars, md5(text) AS fp FROM documents
), winners AS (
  SELECT f.source, f.n_chars
  FROM (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp) w
  JOIN fp f ON f.doc_id = w.doc_id
), before AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
  FROM fp GROUP BY source
), after AS (
  SELECT source, count(*)::BIGINT AS n_kept,
         sum(n_chars)::BIGINT AS chars_kept
  FROM winners GROUP BY source
), tot AS (
  SELECT (SELECT sum(chars) FROM before)::BIGINT AS tc,
         (SELECT sum(chars_kept) FROM after)::BIGINT AS tk
)
SELECT b.source, b.n_docs, coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       b.chars, coalesce(a.chars_kept, 0)::BIGINT AS chars_kept,
       ((1000000 * (b.n_docs - coalesce(a.n_kept, 0))) // b.n_docs)::BIGINT
         AS dup_rate_micro,
       ((b.chars::HUGEINT * 1000000) // tot.tc)::BIGINT
         AS share_before_micro,
       ((coalesce(a.chars_kept, 0)::HUGEINT * 1000000) // tot.tk)::BIGINT
         AS share_after_micro
FROM before b LEFT JOIN after a USING (source) CROSS JOIN tot
ORDER BY b.source
"""

QUERIES["dedup_impact_report_docs"] = (
    dedup_impact_report_docs,
    DEDUP_IMPACT_REPORT_DOCS_SQL,
)


# --------------------------------------------------------------------------
# DoReMi-style one-round mixture reweighting (linearized MW update)
# --------------------------------------------------------------------------
def doremi_reweight_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One linearized round of DoReMi domain reweighting (Xie et al.,
    NeurIPS'23): domains whose proxy excess loss is positive get their
    mixture weight multiplied up, then weights renormalize. The reference
    algorithm's multiplier is exp(η·excess); here it is linearized to
    (1 + min(excess, 1)) so the whole update is EXACT integer algebra —
    excess loss is proxied by mean chars-per-doc above the global mean
    (in micros, capped at 1e6; a stand-in for the per-domain LM excess
    log-loss a real run feeds in, which arrives as exactly this shape:
    one scalar per domain). Emitted per source: the baseline doc-count
    share, the capped excess, and the renormalized post-update share,
    all in micros. Two corpus aggs (per-source + global) and a
    |sources|-row metadata tail; m_d = n·(1e6+excess) ≤ 2e6·n stays in
    int64 to n ≈ 4.6e12 docs, the renormalizing 1e6·m_d div Σm runs in
    DECIMAL(38,0)/HUGEINT."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("N"),
        F.sum("chars").cast("long").alias("C"),
    )
    scored = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("(1000000 * n_docs) div N").cast("long").alias("share_micro"),
        F.expr(
            "CAST(least(greatest((CAST(chars AS DECIMAL(38,0)) * 1000000)"
            " div n_docs"
            " - (CAST(C AS DECIMAL(38,0)) * 1000000) div N, 0),"
            " 1000000) AS LONG)"
        ).alias("excess_micro"),
    )
    m = scored.withColumn(
        "m_d",
        (F.col("n_docs") * (F.lit(1000000) + F.col("excess_micro"))).cast(
            "long"
        ),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        m.withColumn(
            "sum_m", F.sum(F.col("m_d").cast("decimal(38,0)")).over(wall)
        )
        .select(
            "source",
            "n_docs",
            "share_micro",
            "excess_micro",
            F.expr(
                "CAST((CAST(m_d AS DECIMAL(38,0)) * 1000000) div sum_m"
                " AS LONG)"
            ).alias("new_share_micro"),
        )
        .orderBy("source")
    )


DOREMI_REWEIGHT_SOURCES_SQL = """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(n_docs)::BIGINT AS N, sum(chars)::BIGINT AS C FROM per
), scored AS (
  SELECT source, n_docs,
         ((1000000 * n_docs) // (SELECT N FROM tot))::BIGINT AS share_micro,
         least(greatest((chars::HUGEINT * 1000000) // n_docs
               - ((SELECT C FROM tot)::HUGEINT * 1000000)
                 // (SELECT N FROM tot), 0), 1000000)::BIGINT
           AS excess_micro
  FROM per
), m AS (
  SELECT *, (n_docs * (1000000 + excess_micro))::BIGINT AS m_d FROM scored
)
SELECT source, n_docs, share_micro, excess_micro,
       ((m_d::HUGEINT * 1000000) // (SELECT sum(m_d) FROM m))::BIGINT
         AS new_share_micro
FROM m
ORDER BY source
"""

QUERIES["doremi_reweight_sources"] = (
    doremi_reweight_sources,
    DOREMI_REWEIGHT_SOURCES_SQL,
)


# --------------------------------------------------------------------------
# Train/test split leakage audit (n-gram contamination ACROSS splits)
# --------------------------------------------------------------------------
def split_leakage_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: test-split documents sharing any word 3-gram
    with the TRAIN split — decontaminate_docs' check turned inward
    (benchmark contamination guards external eval sets; near-duplicate
    pairs straddling a random split leak train signal into held-out
    metrics just as surely, Lee et al. 2021 §6). Splits are the
    deterministic md5 split split_docs_hash assigns (h%100: <80 train,
    ≥90 test), so the audit composes with the registered splitter.
    Unlike decontamination, BOTH sides are corpus-sized — the candidate
    join is a big-big hash join on 60-bit gram HASHES (8-byte keys, the
    repo's fingerprint-shuffle rule), never gram text; per-doc distinct
    grams keep the join input minimal. r13 (the r12 verdict's task 6):
    the gram stream reads the committed shingle base instead of
    re-tokenizing the corpus — same-session A/B at sf0.1 measured
    0.48 s inline vs 0.42 s stored, a modest local cut whose real
    content is removing the second full-corpus tokenize→shingle pass at
    scale; values are identical (the stored sset IS the distinct gram
    set, and sub-3-token docs have no grams on either path — they still
    count in n_test via the raw doc scan). Output per source: test
    docs, leaked docs, leak rate in micros (production k≈8–13; the
    short synthetic fixtures use k=3)."""
    from ..functions import md5_hash60
    from .dedup import shingle_base_probe

    docs = load_table(spark, sf_dir, "documents")
    sp = docs.select(
        "doc_id",
        "source",
        (md5_hash60(F.col("doc_id").cast("string")) % 100).alias("b"),
    )
    base, _ = shingle_base_probe(spark, sf_dir)
    grams = base.select(
        F.col("id").alias("doc_id"),
        (md5_hash60(F.col("id").cast("string")) % 100).alias("b"),
        F.explode("sset").alias("gram"),
    ).select("doc_id", "b", md5_hash60(F.col("gram")).alias("gram_h"))
    train_g = grams.filter(F.col("b") < 80).select("gram_h").distinct()
    leaked = (
        grams.filter(F.col("b") >= 90)
        .join(train_g, "gram_h")
        .select("doc_id")
        .distinct()
    )
    test_docs = sp.filter(F.col("b") >= 90).select("doc_id", "source")
    per = test_docs.join(
        leaked.withColumn("leak", F.lit(1)), "doc_id", "left"
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.coalesce(F.col("leak"), F.lit(0))).cast("long").alias(
            "n_leaked"
        ),
    )
    return per.select(
        "source",
        "n_test",
        "n_leaked",
        F.expr("(1000000 * n_leaked) div n_test").cast("long").alias(
            "leak_micro"
        ),
    ).orderBy("source")


SPLIT_LEAKAGE_NGRAM_DOCS_SQL = """
WITH sp AS (
  SELECT doc_id, source, text,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100) AS b
  FROM documents
), toks AS (
  SELECT doc_id, b,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM sp
), grams AS (
  SELECT doc_id, b,
         ('0x' || substr(md5(unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 2, 0)),
            i -> array_to_string(list_slice(t, i, i + 2), ' '))))), 1, 15)
         )::BIGINT AS gram_h
  FROM toks
), train_g AS (
  SELECT DISTINCT gram_h FROM grams WHERE b < 80
), leaked AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN train_g USING (gram_h)
  WHERE g.b >= 90
)
SELECT s.source, count(*)::BIGINT AS n_test,
       count(l.doc_id)::BIGINT AS n_leaked,
       ((1000000 * count(l.doc_id)) // count(*))::BIGINT AS leak_micro
FROM sp s LEFT JOIN leaked l ON l.doc_id = s.doc_id
WHERE s.b >= 90
GROUP BY s.source
ORDER BY s.source
"""

QUERIES["split_leakage_ngram_docs"] = (
    split_leakage_ngram_docs,
    SPLIT_LEAKAGE_NGRAM_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Quantile normalization of per-source scores (cross-source calibration)
# --------------------------------------------------------------------------
def quantile_normalize_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document score across sources —
    the calibration step before mixing heterogeneous quality signals
    (each source's classifier drifts; rank-mapping every source onto the
    GLOBAL score distribution makes 'top 10% of source A' mean the same
    thing as 'top 10% of source B', the genomics-standard quantile-norm
    applied to corpus curation). score = n_chars as the deterministic
    stand-in. Per doc: within-source rank r of n (deterministic ties by
    doc_id), mapped global position floor(r·N/n) clamped to ≥1, and the
    global score at that position. The global position index comes from
    sampling.assign_contiguous_ids (distributed bucket prefix-sums),
    NEVER a single-partition global row_number; r·N runs in
    DECIMAL(38,0)/HUGEINT (past int64 at ~1e12 rows). The within-source
    rank window is source-keyed (the per-key sort every rank-based
    normalizer pays); the position join is an equi-join on the mapped
    index."""
    from pyspark.sql import Window as W

    from . import sampling

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select("doc_id", "source", F.col("n_chars").alias("score"))
    wsrc = W.partitionBy("source").orderBy("score", "doc_id")
    ranked = s.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(wsrc).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("source")).cast("long").alias(
            "n"
        ),
    )
    glob = sampling.assign_contiguous_ids(
        s, ["score", "doc_id"], id_col="gidx0", n_buckets=32
    ).select(
        (F.col("gidx0") + 1).alias("gidx"), F.col("score").alias("gscore")
    )
    n_total = s.count()
    mapped = ranked.select(
        "doc_id",
        "source",
        "score",
        F.expr(
            f"greatest(CAST(1 AS LONG), CAST((CAST(r AS DECIMAL(38,0))"
            f" * {int(n_total)}) div n AS LONG))"
        ).alias("gidx"),
    )
    return (
        mapped.join(glob, "gidx")
        .select("doc_id", "source", "score", F.col("gscore").alias("norm_score"))
        .orderBy("doc_id")
    )


QUANTILE_NORMALIZE_SCORES_DOCS_SQL = """
WITH s AS (
  SELECT doc_id, source, n_chars AS score FROM documents
), ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score, doc_id) AS r,
         count(*) OVER (PARTITION BY source)::BIGINT AS n
  FROM s
), g AS (
  SELECT score AS gscore,
         row_number() OVER (ORDER BY score, doc_id)::BIGINT AS gidx
  FROM s
), tot AS (SELECT count(*)::BIGINT AS n_total FROM s)
SELECT r.doc_id, r.source, r.score, g.gscore AS norm_score
FROM ranked r
JOIN g ON g.gidx = greatest(1, (r.r::HUGEINT * (SELECT n_total FROM tot))
                               // r.n)
ORDER BY r.doc_id
"""

QUERIES["quantile_normalize_scores_docs"] = (
    quantile_normalize_scores_docs,
    QUANTILE_NORMALIZE_SCORES_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training pair construction)
# --------------------------------------------------------------------------
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-5 most-similar vectors with a DIFFERENT label — the
    near-misses that actually move an embedding model (random negatives
    are trivially separable; hard ones define the decision boundary,
    the in-batch-negatives upgrade every retrieval-model pipeline runs).
    Exact brute-force cosine over the label-filtered candidates for the
    5 lowest-id queries (knn_cosine_topk's correctness-anchor regime);
    at 100 TB the same label-predicate drops onto the stored IVF probe
    (pq_ivf_stored_probe) — candidates are list-pruned FIRST, the label
    filter prunes after, the top-k window is per-query. Rank ties on the
    rounded cosine break by neighbor id (engine-total order)."""
    from pyspark.sql import Window as W

    from ..functions.vector_functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("n_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            F.round(
                cosine_similarity(F.col("qv"), F.col("cv")), 6
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "q_label", "neighbor_id", "n_label", "cosine", "rank"
        )
        .orderBy("query_id", "rank")
    )


HARD_NEGATIVES_EMBEDDINGS_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id,
         c.label AS n_label,
         round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]),
               6) AS cosine
  FROM q JOIN embeddings c ON c.label <> q.q_label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, q_label, neighbor_id, n_label, cosine,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""

QUERIES["hard_negatives_embeddings"] = (
    hard_negatives_embeddings,
    HARD_NEGATIVES_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# Spearman rank correlation per source (monotone-association QC)
# --------------------------------------------------------------------------
def spearman_len_tokens_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document length (n_chars) and
    token count, per source — the monotone-association QC that catches a
    broken tokenizer or a source whose 'length' is markup, where Pearson
    (regression_stats_lineitem's family) is fooled by outliers. Exact
    tie-handling via DOUBLED average ranks (2·minrank + ties − 1 stays
    integer), then Pearson over the integer rank pairs with all five
    sums in DECIMAL(38,0)/HUGEINT; the only float op is the final
    num/sqrt(denx·deny), IEEE-correctly-rounded in both engines and
    frozen at 6 dp. Decimal headroom: n·Σ(rx·ry) ≤ 4n⁴ caps a group at
    ~1.3e9 rows — past that, switch to the block-averaged-rank tier
    (same shape over rank buckets). Two source-keyed rank windows + one
    agg; constant-column groups emit NULL rho (denominator zero)."""
    from pyspark.sql import Window as W

    from ..functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokens(F.col("text"))).cast("long").alias("y"),
    )
    rx = (
        2 * F.rank().over(W.partitionBy("source").orderBy("x"))
        + F.count(F.lit(1)).over(W.partitionBy("source", "x"))
        - 1
    ).cast("long")
    ry = (
        2 * F.rank().over(W.partitionBy("source").orderBy("y"))
        + F.count(F.lit(1)).over(W.partitionBy("source", "y"))
        - 1
    ).cast("long")
    ranked = base.select("source", rx.alias("rx"), ry.alias("ry"))
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("rx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("ry").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry")).alias("syy"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.expr(
            "CASE WHEN (n_docs * sxx - sx * sx) > 0"
            " AND (n_docs * syy - sy * sy) > 0 THEN"
            " round(CAST(n_docs * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)"
            " * CAST(n_docs * syy - sy * sy AS DOUBLE)), 6)"
            " ELSE NULL END"
        ).alias("rho_spearman"),
    ).orderBy("source")


SPEARMAN_LEN_TOKENS_SOURCES_SQL = """
WITH base AS (
  SELECT source, n_chars::BIGINT AS x,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> ''))::BIGINT AS y
  FROM documents
), ranked AS (
  SELECT source,
         (2 * rank() OVER (PARTITION BY source ORDER BY x)
          + count(*) OVER (PARTITION BY source, x) - 1)::BIGINT AS rx,
         (2 * rank() OVER (PARTITION BY source ORDER BY y)
          + count(*) OVER (PARTITION BY source, y) - 1)::BIGINT AS ry
  FROM base
), agg AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
         sum(rx::HUGEINT * ry) AS sxy,
         sum(rx::HUGEINT * rx) AS sxx,
         sum(ry::HUGEINT * ry) AS syy
  FROM ranked GROUP BY source
)
SELECT source, n_docs,
       CASE WHEN (n_docs * sxx - sx * sx) > 0
             AND (n_docs * syy - sy * sy) > 0 THEN
         round((n_docs * sxy - sx * sy)::DOUBLE
               / sqrt((n_docs * sxx - sx * sx)::DOUBLE
                      * (n_docs * syy - sy * sy)::DOUBLE), 6)
       ELSE NULL END AS rho_spearman
FROM agg
ORDER BY source
"""

QUERIES["spearman_len_tokens_sources"] = (
    spearman_len_tokens_sources,
    SPEARMAN_LEN_TOKENS_SOURCES_SQL,
)


# --------------------------------------------------------------------------
# Simplified silhouette over the k-means clustering (cluster-quality QC)
# --------------------------------------------------------------------------
def silhouette_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per k-means cluster — the cluster-quality QC
    for the trained IVF lists (knn_ivf_kmeans_topk consumes exactly
    these centroids): s = (b−a)/max(a,b) with a = squared L2 distance to
    the own (nearest) centroid and b = to the second-nearest. The full
    silhouette is Θ(n²) pairwise; the simplified form (Hruschka et al.
    2004) replaces mean-to-cluster distances with distances-to-centroids
    — O(n·k), the ONLY silhouette that exists at corpus scale, and the
    standard proxy (sklearn's sampled silhouette serves the same need).
    d² expands to |x|² − 2·x·c + |c|² with each dot a sequential
    left-fold (similarity._sql_dot ≡ DuckDB list_inner_product — the
    kmeans parity contract); per-point s freezes to integer micros
    (round-half-up) BEFORE aggregation, so cluster means are order-free
    integer sums. Points equal to their centroid (a=b=0) score 0. One
    narrow map against 4 broadcast-literal centroids + one agg; the
    oracle replays training AND scoring in SQL."""
    from . import similarity
    from .similarity import _sql_dot, _sql_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroid_list(
        emb, vec_col="embedding", k=4, n_iter=2, id_col="vec_id"
    )
    xx = (
        "aggregate(zip_with(embedding, embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    structs = ", ".join(
        f"struct({g} AS grp, ({xx}) - 2.0D * ({_sql_dot('embedding', c)})"
        f" + ({_sql_dot(_sql_double_array(c), c)}) AS d2)"
        for g, c in enumerate(cents)
    )
    from pyspark.sql import Window as W

    d = emb.select(
        "vec_id", F.expr(f"explode(array({structs}))").alias("gd")
    ).select("vec_id", "gd.grp", "gd.d2")
    w = W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("grp").asc())
    ranked = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    ab = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("grp"))).alias("grp"),
        F.max(F.when(F.col("rn") == 1, F.col("d2"))).alias("a2"),
        F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("b2"),
    )
    s = ab.select(
        "grp",
        F.expr(
            "CASE WHEN greatest(a2, b2) > 0.0D THEN"
            " CAST(floor((b2 - a2) / greatest(a2, b2) * 1000000 + 0.5)"
            " AS LONG) ELSE CAST(0 AS LONG) END"
        ).alias("s_micro"),
    )
    return (
        s.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.expr("CAST(sum(s_micro) div count(1) AS LONG)").alias(
                "mean_s_micro"
            ),
            F.min("s_micro").cast("long").alias("min_s_micro"),
        )
        .orderBy("grp")
    )


def _silhouette_oracle() -> str:
    return f"""
WITH cents AS (
  SELECT grp, list(centroid_val ORDER BY dim) AS cv
  FROM ({KMEANS_CENTROIDS_EMBEDDINGS_SQL}) km GROUP BY grp
), pts AS (
  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS x
  FROM embeddings
), d AS (
  SELECT p.vec_id, c.grp,
         list_inner_product(p.x, p.x) - 2.0 * list_inner_product(p.x, c.cv)
           + list_inner_product(c.cv, c.cv) AS d2
  FROM pts p CROSS JOIN cents c
), ranked AS (
  SELECT vec_id, grp, d2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, grp ASC) AS rn
  FROM d
), ab AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN grp END) AS grp,
         max(CASE WHEN rn = 1 THEN d2 END) AS a2,
         max(CASE WHEN rn = 2 THEN d2 END) AS b2
  FROM ranked WHERE rn <= 2 GROUP BY vec_id
), s AS (
  SELECT grp,
         CASE WHEN greatest(a2, b2) > 0 THEN
           floor((b2 - a2) / greatest(a2, b2) * 1000000 + 0.5)::BIGINT
         ELSE 0 END AS s_micro
  FROM ab
)
SELECT CAST(grp AS INTEGER) AS grp, count(*)::BIGINT AS n_points,
       (sum(s_micro) // count(*))::BIGINT AS mean_s_micro,
       min(s_micro)::BIGINT AS min_s_micro
FROM s GROUP BY grp ORDER BY grp
"""


QUERIES["silhouette_kmeans_embeddings"] = (
    silhouette_kmeans_embeddings,
    _silhouette_oracle(),
)


# --------------------------------------------------------------------------
# Residual IVF-PQ (FAISS by_residual=True — the production encoding)
# --------------------------------------------------------------------------
def pq_ivf_residual_topk_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual IVF-PQ (Jégou et al. 2011 §III-C; FAISS by_residual=True —
    the PRODUCTION encoding the repo's earlier IVF-PQ tier documents as
    absent): vectors are PQ-encoded as x − c_list (the residual after
    coarse quantization), which concentrates the codebook's capacity on
    the within-list variance — the reason every serious IVF-PQ deployment
    re-encodes residuals. Search follows: a query probing list L builds
    its ADC lookup table from q − c_L (one LUT PER probed list, n_q·
    n_probe·m·k rows — still broadcastable metadata), and since every
    candidate in list L was encoded against the same c_L, the ADC sum
    approximates ‖x − q‖² directly. Same geometry as
    pq_ivf_topk_embeddings (4 lists, probe 2, m=4, k=8, 2 Lloyd rounds,
    top-5 for the 3 lowest-id queries) so the two rankings are directly
    comparable. The oracle replays coarse assignment, residual
    construction, PQ training over residuals, encoding, per-list LUTs,
    and the probe — end to end in SQL."""
    from pyspark.sql import Window as W

    from . import similarity
    from .similarity import _sql_double_array, _sql_l2sq

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists, n_probe, m, k, topk, n_q = 4, 2, 4, 8, 5, 3
    dim = 64
    d_sub = dim // m
    cents = similarity.ivf_centroids_from_sample(emb, n_lists)
    assigned = similarity.ivf_assign(
        emb.select("vec_id", "embedding"), cents, vec_col="embedding",
        n_probe=1,
    ).select("vec_id", "list_id")
    case_cv = (
        "CASE list_id "
        + " ".join(
            f"WHEN {i} THEN {_sql_double_array(c)}"
            for i, c in enumerate(cents)
        )
        + " END"
    )
    res = (
        emb.select("vec_id", "embedding")
        .join(assigned, "vec_id")
        .select(
            "vec_id",
            "list_id",
            F.expr(
                f"zip_with(embedding, {case_cv},"
                " (x, y) -> CAST(x AS DOUBLE) - y)"
            ).alias("rv"),
        )
    )
    res = cut(res)  # train + encode reuse it
    books = similarity.pq_train(res, "vec_id", "rv", m=m, k=k, n_iter=2)
    codes = similarity.pq_encode(res, "vec_id", "rv", books).join(
        res.select("vec_id", "list_id"), "vec_id"
    )
    code_struct = ", ".join(
        f"struct({s} AS m, code_{s} AS code)" for s in range(m)
    )
    flat = codes.select(
        "vec_id",
        "list_id",
        F.expr(f"explode(array({code_struct}))").alias("mc"),
    ).select("vec_id", "list_id", "mc.m", "mc.code")
    queries = (
        emb.orderBy("vec_id")
        .limit(n_q)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    # r14: eager cut — probes feeds the residual LUT explode AND the
    # broadcast candidate join; each replay re-ran the query TakeOrdered
    probes = cut(similarity.ivf_assign(
        queries, cents, vec_col="embedding", n_probe=n_probe
    ).select(
        "qid",
        "list_id",
        F.expr(
            f"zip_with(embedding, {case_cv},"
            " (x, y) -> CAST(x AS DOUBLE) - y)"
        ).alias("qrv"),
    ))
    lut_struct = ", ".join(
        f"struct({s} AS m, {c} AS code, CAST(floor("
        f"{_sql_l2sq('qrv', s * d_sub, books[s][c])} * 1e6 + 0.5D)"
        f" AS BIGINT) AS d_micro)"
        for s in range(m)
        for c in range(k)
    )
    lut = probes.select(
        "qid", "list_id", F.expr(f"explode(array({lut_struct}))").alias("e")
    ).select("qid", "list_id", "e.m", "e.code", "e.d_micro")
    cand = flat.join(
        F.broadcast(probes.select("qid", "list_id")), "list_id"
    )
    scored = (
        cand.join(F.broadcast(lut), ["qid", "list_id", "m", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d_micro").cast("long").alias("adc_micro"))
    )
    w = W.partitionBy("qid").orderBy(
        F.col("adc_micro").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("qid", "vec_id", "adc_micro", F.col("rk").cast("int").alias("rk"))
        .orderBy("qid", "rk")
    )


def _pq_ivf_residual_oracle(
    m: int = 4, k: int = 8, d_sub: int = 16, n_q: int = 3,
    n_lists: int = 4, n_probe: int = 2, topk: int = 5,
) -> str:
    dim = m * d_sub
    return f"""
WITH {_sql_ivf_lists(n_lists)}, res AS (
  SELECT e.vec_id, a.list_id,
         list_transform(generate_series(1, {dim}),
           i -> e.embedding[i]::DOUBLE - c.cv[i]::DOUBLE) AS rv
  FROM embeddings e JOIN asg a USING (vec_id)
  JOIN cents c ON c.cid = a.list_id
), {_sql_pq_training_ctes(m, k, d_sub, 'res', 'rv')}, q AS (
  SELECT vec_id AS qid, embedding FROM embeddings ORDER BY vec_id
  LIMIT {n_q}
), probe AS (
  SELECT qid, cid AS list_id, qrv FROM (
    SELECT q.qid, c.cid,
           list_transform(generate_series(1, {dim}),
             i -> q.embedding[i]::DOUBLE - c.cv[i]::DOUBLE) AS qrv,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_inner_product(q.embedding::DOUBLE[],
                                         c.cv::DOUBLE[]) DESC,
                      c.cid ASC) AS rk
    FROM q, cents c
  ) WHERE rk <= {n_probe}
), lut AS (
  SELECT p.qid, p.list_id, b.m, b.code,
         floor(list_sum(list_transform(generate_series(1, {d_sub}), j ->
           (p.qrv[b.m * {d_sub} + j] - b.cv[j])
           * (p.qrv[b.m * {d_sub} + j] - b.cv[j]))) * 1e6 + 0.5)::BIGINT
           AS d_micro
  FROM probe p, b2l b
), sc AS (
  SELECT p.qid, f.vec_id, sum(l.d_micro)::BIGINT AS adc_micro
  FROM enc f
  JOIN asg a ON a.vec_id = f.vec_id
  JOIN probe p ON p.list_id = a.list_id
  JOIN lut l ON l.qid = p.qid AND l.list_id = a.list_id
            AND l.m = f.m AND l.code = f.code
  GROUP BY 1, 2
)
{_sql_adc_topk(topk)}
"""


QUERIES["pq_ivf_residual_topk_embeddings"] = (
    pq_ivf_residual_topk_embeddings,
    _pq_ivf_residual_oracle(),
)


# --------------------------------------------------------------------------
# Label propagation communities (bipartite half-round LPA)
# --------------------------------------------------------------------------
def label_propagation_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via label propagation (Raghavan et al. 2007)
    over the customer↔supplier trade graph — the COMMUNITY member of the
    graph family (PageRank = importance, connected components =
    reachability, triangles = cohesion; LPA finds densely-trading
    groups). Synchronous LPA oscillates on bipartite graphs, so this is
    the bipartite-correct semi-synchronous form: alternate sides each
    half-round (suppliers adopt the mode label of their customer
    neighbors, then customers adopt from suppliers, then suppliers once
    more), mode ties broken by the smaller label — every update is
    deterministic, so the DuckDB oracle replays all three half-rounds.
    Per half-round: one edges⋈labels hash join + one (node, label) count
    agg + one per-node argmax window — label ids are 8-byte ints
    throughout (the pagerank node-encoding discipline). Output: the
    top-20 communities by member count (TakeOrdered, fully tie-broken)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # strong-tie filter: only high-quantity trades define community edges
    # (thresholding edge weight before LPA is standard practice — on the
    # unthresholded dense bipartite graph every label collapses into one
    # giant community and the detector is vacuous)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select("l_orderkey", "l_suppkey")
    pairs = _trade_pairs(o, li)
    # directed edges dst <- src mode; suppliers odd, customers even.
    # Edges are checkpointed ONCE (the pagerank lineage-truncation
    # discipline: without it every later half-round re-executes the
    # orders⋈lineitem join through the growing lineage). r14 (guide
    # §1.2): the per-half-round label checkpoints are GONE — the round
    # count is FIXED (3) with no convergence action between rounds, so
    # the three half-rounds fold into one lazy plan executed by the
    # caller's single action (3 materialization jobs saved per call);
    # the checkpointed edge list bounds the unrolled depth at 3 shallow
    # join+window layers.
    pairs = cut(pairs)
    to_s = pairs.select(F.col("s").alias("node"), F.col("c").alias("nbr"))
    to_c = pairs.select(F.col("c").alias("node"), F.col("s").alias("nbr"))
    nodes = to_s.select("node").union(to_c.select("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lab"))

    def half_round(labels: DataFrame, edges: DataFrame) -> DataFrame:
        cnt = (
            edges.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("lab").alias("nlab")
                ),
                "nbr",
            )
            .groupBy("node", "nlab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = W.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("nlab").asc()
        )
        upd = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("nlab").alias("new_lab"))
        )
        # one left join + coalesce, not anti-join + union (half the
        # shuffles per round); non-targets keep their label
        return labels.join(upd, "node", "left").select(
            "node",
            F.coalesce(F.col("new_lab"), F.col("lab")).alias("lab"),
        )

    labels = half_round(labels, to_s)  # suppliers adopt customer labels
    labels = half_round(labels, to_c)  # customers adopt supplier labels
    labels = half_round(labels, to_s)  # suppliers re-adopt
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(20)
    )


LABEL_PROPAGATION_TRADE_GRAPH_SQL = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity > 45
), to_s AS (SELECT s AS node, c AS nbr FROM pairs),
to_c AS (SELECT c AS node, s AS nbr FROM pairs),
nodes AS (SELECT node FROM to_s UNION SELECT node FROM to_c),
l0 AS (SELECT node, node AS lab FROM nodes),
u1 AS (
  SELECT node, nlab AS lab FROM (
    SELECT e.node, x.lab AS nlab,
           row_number() OVER (PARTITION BY e.node
             ORDER BY count(*) DESC, x.lab ASC) AS rn
    FROM to_s e JOIN l0 x ON x.node = e.nbr
    GROUP BY e.node, x.lab
  ) WHERE rn = 1
), l1 AS (
  SELECT node, lab FROM l0 WHERE node NOT IN (SELECT node FROM u1)
  UNION ALL SELECT node, lab FROM u1
), u2 AS (
  SELECT node, nlab AS lab FROM (
    SELECT e.node, x.lab AS nlab,
           row_number() OVER (PARTITION BY e.node
             ORDER BY count(*) DESC, x.lab ASC) AS rn
    FROM to_c e JOIN l1 x ON x.node = e.nbr
    GROUP BY e.node, x.lab
  ) WHERE rn = 1
), l2 AS (
  SELECT node, lab FROM l1 WHERE node NOT IN (SELECT node FROM u2)
  UNION ALL SELECT node, lab FROM u2
), u3 AS (
  SELECT node, nlab AS lab FROM (
    SELECT e.node, x.lab AS nlab,
           row_number() OVER (PARTITION BY e.node
             ORDER BY count(*) DESC, x.lab ASC) AS rn
    FROM to_s e JOIN l2 x ON x.node = e.nbr
    GROUP BY e.node, x.lab
  ) WHERE rn = 1
), l3 AS (
  SELECT node, lab FROM l2 WHERE node NOT IN (SELECT node FROM u3)
  UNION ALL SELECT node, lab FROM u3
)
SELECT lab AS community, count(*)::BIGINT AS n_members
FROM l3 GROUP BY lab
ORDER BY n_members DESC, community ASC
LIMIT 20
"""

QUERIES["label_propagation_trade_graph"] = (
    label_propagation_trade_graph,
    LABEL_PROPAGATION_TRADE_GRAPH_SQL,
)


# --------------------------------------------------------------------------
# Mergeable quantile summaries (federated/distributed quantile estimate)
# --------------------------------------------------------------------------
def quantile_merge_summaries_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-partition quantile summaries — the distributed
    primitive behind GK/KLL/t-digest: each source builds a rank-sampled
    summary (every ⌈n/32⌉-th order statistic, exact represented-weight =
    gap to the previous sample), the summaries MERGE by weighted
    cumulative rank, and global quartiles are read off the merged table.
    Per-source error is bounded by the sampling step (≤ n_s/32 rows);
    the operator MEASURES the realized global rank error against the
    exact order statistic — the error column IS the contract, the same
    discipline as the minhash recall/precision QC pair. Output per
    quartile: target rank, estimated vs exact value, rank error in rows
    and micros of N. All integer (values, ranks, weights); the only
    corpus-scale stages are one source-keyed rank window (the summary
    build — what each executor would ship) and one distinct-value count
    agg (the truth side). Scale note: the truth-side cumulative window
    runs over DISTINCT values — bounded by the value domain (doc
    lengths), not row count; for genuinely unbounded domains bucket the
    values first (the histogram_lineitem cuts tier)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # r14: eager cut of the 3-column value table — it feeds the summary
    # build, the truth side, the total, and the three per-quartile
    # rank-error aggs; the audit counted 24 documents scans in this plan
    vals = cut(
        docs.select("source", F.col("n_chars").cast("long").alias("v"), "doc_id")
    )
    wsrc = W.partitionBy("source").orderBy("v", "doc_id")
    ranked = vals.select(
        "source",
        "v",
        F.row_number().over(wsrc).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n_s"),
    )
    step = F.greatest(F.expr("n_s div 32"), F.lit(1))
    summ = ranked.filter(
        (F.col("r") % step == 0) | (F.col("r") == F.col("n_s"))
    ).select(
        "source",
        "v",
        "r",
        (
            F.col("r")
            - F.coalesce(
                F.lag("r").over(
                    W.partitionBy("source").orderBy("r")
                ),
                F.lit(0),
            )
        ).cast("long").alias("wt"),
    )
    tot = vals.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    wmerge = W.orderBy("v", "source", "r").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # summary-scale (≤33 rows/source) and value-domain-scale cuts: each
    # quartile's est/exact agg replayed the full window chain otherwise
    merged = cut(summ.select(
        "v", "source", "r", F.sum("wt").over(wmerge).alias("cum")
    ).crossJoin(F.broadcast(tot)))
    # truth side: distinct values with exact cumulative counts
    truth = cut(
        vals.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "v",
            F.sum("c").over(
                W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("cum_true"),
        )
        .crossJoin(F.broadcast(tot))
    )
    out = []
    for p_micro in (250000, 500000, 750000):
        target = F.expr(f"CAST(ceil(n_total * {p_micro} / 1000000.0) AS LONG)")
        est = merged.filter(F.col("cum") >= target).agg(
            F.min("v").alias("est_v")
        )
        exact = truth.filter(F.col("cum_true") >= target).agg(
            F.min("v").alias("exact_v")
        )
        err = (
            est.crossJoin(exact)
            .crossJoin(F.broadcast(tot))
            .crossJoin(
                F.broadcast(
                    truth.groupBy().pivot("v", []).count()
                    if False
                    else tot.select(F.col("n_total").alias("nt2"))
                )
            )
        )
        out.append((p_micro, est, exact))
    # assemble one row per quartile: rank error = distance from the target
    # rank to the est value's true rank interval [cnt_lt+1, cnt_le]
    rows = None
    for p_micro, est, exact in out:
        lt = vals.crossJoin(F.broadcast(est)).agg(
            F.sum((F.col("v") < F.col("est_v")).cast("long")).alias("cnt_lt"),
            F.sum((F.col("v") <= F.col("est_v")).cast("long")).alias("cnt_le"),
        )
        one = (
            est.crossJoin(exact)
            .crossJoin(F.broadcast(lt))
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(p_micro).cast("long").alias("p_micro"),
                F.expr(
                    f"CAST(ceil(n_total * {p_micro} / 1000000.0) AS LONG)"
                ).alias("target_rank"),
                F.col("est_v").cast("long").alias("est_value"),
                F.col("exact_v").cast("long").alias("exact_value"),
                F.expr(
                    f"CAST(greatest(cnt_lt + 1 -"
                    f" CAST(ceil(n_total * {p_micro} / 1000000.0) AS LONG),"
                    f" CAST(ceil(n_total * {p_micro} / 1000000.0) AS LONG)"
                    f" - cnt_le, 0) AS LONG)"
                ).alias("err_rows"),
                F.expr(
                    f"CAST((1000000 * greatest(cnt_lt + 1 -"
                    f" CAST(ceil(n_total * {p_micro} / 1000000.0) AS LONG),"
                    f" CAST(ceil(n_total * {p_micro} / 1000000.0) AS LONG)"
                    f" - cnt_le, 0)) div n_total AS LONG)"
                ).alias("err_micro"),
            )
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows.orderBy("p_micro")


QUANTILE_MERGE_SUMMARIES_DOCS_SQL = """
WITH vals AS (
  SELECT source, n_chars::BIGINT AS v, doc_id FROM documents
), ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_s
  FROM vals
), summ AS (
  SELECT source, v, r,
         (r - coalesce(lag(r) OVER (PARTITION BY source ORDER BY r), 0))
           ::BIGINT AS wt
  FROM ranked
  WHERE r % greatest(n_s // 32, 1) = 0 OR r = n_s
), tot AS (SELECT count(*)::BIGINT AS n_total FROM vals),
merged AS (
  SELECT v, sum(wt) OVER (ORDER BY v, source, r
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM summ
), truth AS (
  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_true
  FROM (SELECT v, count(*)::BIGINT AS c FROM vals GROUP BY v)
), targets AS (
  SELECT p_micro,
         ceil((SELECT n_total FROM tot) * p_micro / 1000000.0)::BIGINT
           AS target_rank
  FROM (VALUES (250000), (500000), (750000)) t(p_micro)
), est AS (
  SELECT t.p_micro, t.target_rank,
         (SELECT min(v) FROM merged m WHERE m.cum >= t.target_rank)
           AS est_value,
         (SELECT min(v) FROM truth x WHERE x.cum_true >= t.target_rank)
           AS exact_value
  FROM targets t
), errs AS (
  SELECT e.*,
         (SELECT sum((v < e.est_value)::BIGINT) FROM vals) AS cnt_lt,
         (SELECT sum((v <= e.est_value)::BIGINT) FROM vals) AS cnt_le
  FROM est e
)
SELECT p_micro::BIGINT AS p_micro, target_rank,
       est_value::BIGINT AS est_value, exact_value::BIGINT AS exact_value,
       greatest(cnt_lt + 1 - target_rank, target_rank - cnt_le, 0)::BIGINT
         AS err_rows,
       ((1000000 * greatest(cnt_lt + 1 - target_rank,
                            target_rank - cnt_le, 0))
        // (SELECT n_total FROM tot))::BIGINT AS err_micro
FROM errs
ORDER BY p_micro
"""

QUERIES["quantile_merge_summaries_docs"] = (
    quantile_merge_summaries_docs,
    QUANTILE_MERGE_SUMMARIES_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Split-conformal calibration + coverage audit (distribution-free QC)
# --------------------------------------------------------------------------
def conformal_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the quality classifier (Vovk et al.;
    Angelopoulos & Bates 2023 tutorial form): on a held-out calibration
    split (doc_id % 5 == 0) take the k-th smallest nonconformity score
    with the finite-sample rank k = ⌈(n_cal+1)(1−α)⌉, α = 0.1 — the
    distribution-free threshold that guarantees ≥ 90% coverage in
    expectation under exchangeability, NO model assumptions. The audit
    then MEASURES realized coverage on the remaining docs. Nonconformity
    = 1e6 − score_micro (inference.classifier_scores' integer logistic),
    so the order statistic is an exact integer rank — threshold via the
    distinct-value cumulative trick, never a global sort of the corpus
    (cum table is |distinct scores| rows). k > n_cal (degenerate tiny
    calibration) ⇒ +∞ threshold ⇒ everything covered, handled by the
    same coalesce in both engines."""
    from . import inference

    docs = load_table(spark, sf_dir, "documents")
    # r15 (duplicate-scan audit tail): the calibration count, the
    # threshold cumulative, and the evaluation agg each replayed the
    # classifier pass (tokenize + logistic) — 4 full-text scans in one
    # plan. One eager cut of the 16-byte-per-row (doc_id, nc) frame runs
    # the classifier once; everything downstream is integer arithmetic
    # on the cut blocks. No A/B timing was recorded.
    scored = cut(inference.classifier_scores(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        (F.lit(1000000) - F.col("score_micro")).cast("long").alias("nc"),
    ))
    cal = scored.filter(F.col("doc_id") % 5 == 0)
    ev = scored.filter(F.col("doc_id") % 5 != 0)
    n_cal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    from pyspark.sql import Window as W

    cum = (
        cal.groupBy("nc")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "nc",
            F.sum("c")
            .over(W.orderBy("nc").rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("cum"),
        )
        .crossJoin(F.broadcast(n_cal))
        .withColumn("k", F.expr("((n_cal + 1) * 9 + 9) div 10"))
    )
    thr = cum.filter(F.col("cum") >= F.col("k")).agg(
        F.min("nc").alias("thr_nc")
    )
    out = (
        ev.crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                (
                    F.col("nc") <= F.coalesce(F.col("thr_nc"), F.lit(1000001))
                ).cast("long")
            ).cast("long").alias("n_covered"),
            F.max(F.coalesce(F.col("thr_nc"), F.lit(1000001)))
            .cast("long")
            .alias("threshold_nc"),
        )
        .crossJoin(F.broadcast(n_cal))
    )
    return out.select(
        "n_cal",
        F.expr("((n_cal + 1) * 9 + 9) div 10").cast("long").alias("k_rank"),
        "threshold_nc",
        "n_eval",
        "n_covered",
        F.expr("(1000000 * n_covered) div n_eval").cast("long").alias(
            "coverage_micro"
        ),
    )


_NC_SQL = (
    "(1000000 - floor(1.0 / (1.0 + exp(-(0.9::DOUBLE"
    " * ln(1.0 + len(list_filter(string_split_regex(lower(text), '\\s+'),"
    " x -> x <> ''))::DOUBLE) + -3.0::DOUBLE))) * 1e6 + 0.5)::BIGINT)"
)

CONFORMAL_COVERAGE_DOCS_SQL = f"""
WITH scored AS (
  SELECT doc_id, {_NC_SQL} AS nc FROM documents
), cal AS (SELECT nc FROM scored WHERE doc_id % 5 = 0),
ev AS (SELECT nc FROM scored WHERE doc_id % 5 <> 0),
ncal AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
cum AS (
  SELECT nc, sum(c) OVER (ORDER BY nc ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT nc, count(*)::BIGINT AS c FROM cal GROUP BY nc)
), thr AS (
  SELECT min(nc) AS thr_nc FROM cum
  WHERE cum >= (SELECT ((n_cal + 1) * 9 + 9) // 10 FROM ncal)
)
SELECT (SELECT n_cal FROM ncal) AS n_cal,
       (SELECT ((n_cal + 1) * 9 + 9) // 10 FROM ncal)::BIGINT AS k_rank,
       coalesce((SELECT thr_nc FROM thr), 1000001)::BIGINT AS threshold_nc,
       count(*)::BIGINT AS n_eval,
       sum((nc <= coalesce((SELECT thr_nc FROM thr), 1000001))::BIGINT)
         ::BIGINT AS n_covered,
       ((1000000 * sum((nc <= coalesce((SELECT thr_nc FROM thr), 1000001))
                       ::BIGINT)) // count(*))::BIGINT AS coverage_micro
FROM ev
"""

QUERIES["conformal_coverage_docs"] = (
    conformal_coverage_docs,
    CONFORMAL_COVERAGE_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Deterministic Poisson bootstrap: error bars on corpus statistics
# --------------------------------------------------------------------------
_POIS_CUM = (367879, 735758, 919698, 981011, 996340)  # P(X<=k), k=0..4, 1e-6


def _pois_w_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {c} THEN {i}" for i, c in enumerate(_POIS_CUM)
    )
    return f"(CASE {cases} ELSE 5 END)"


def bootstrap_se_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (Chamandy et al., Google 2012 —
    'Estimating Uncertainty for Massive Data Streams'): error bars on a
    per-source corpus statistic (mean n_chars) from B = 32 replicas
    whose weights w ~ Poisson(1) come from an inverse-CDF lookup on the
    md5 hash of (doc_id, replica) — no RNG state, identical on any
    cluster layout, replayable in SQL (CDF at 1e-6 granularity, the
    documented approximation). Each replica's mean is an exact integer
    micro (Σw·v scaled, div Σw); the bootstrap variance over replica
    means is exact integer algebra (B·Σm² − (Σm)² over B(B−1), DECIMAL),
    and the SE is its IEEE-exact integer sqrt. The B× row expansion is
    the documented cost knob — at 100 TB keep B small or switch to the
    one-pass moment form; the statistical shape is unchanged. Replicas
    with Σw = 0 are dropped (n_replicas reports the survivors)."""
    docs = load_table(spark, sf_dir, "documents")
    rep = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("v"),
        "doc_id",
        F.expr("explode(sequence(0, 31))").alias("b"),
    ).select(
        "source",
        "v",
        "b",
        F.expr(
            _pois_w_sql(
                "(conv(substring(md5(concat(CAST(doc_id AS STRING), '-',"
                " CAST(b AS STRING))), 1, 15), 16, 10) % 1000000)"
            )
        ).cast("long").alias("w"),
    )
    means = (
        rep.groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("v")).cast("long").alias("swv"),
            F.sum("w").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "source",
            # DECIMAL: 1e6·Σw·v clears 2^63 once a replica's weighted char
            # mass passes ~9e12 (one 10 TB source)
            F.expr(
                "CAST((CAST(swv AS DECIMAL(38,0)) * 1000000) div sw AS LONG)"
            ).alias("m"),
        )
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST((CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000)"
            " div count(1) AS LONG)"
        ).alias("mean_micro"),
    )
    boot = means.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.sum(F.col("m").cast("decimal(38,0)")).alias("sm"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("sm2"),
    )
    return (
        base.join(boot, "source")
        .select(
            "source",
            "n_docs",
            "mean_micro",
            "n_replicas",
            F.expr(
                "CAST((n_replicas * sm2 - sm * sm)"
                " div (CAST(n_replicas AS DECIMAL(38,0))"
                " * greatest(n_replicas - 1, 1)) AS LONG)"
            ).alias("var_boot_micro2"),
            F.expr(
                "CAST(floor(sqrt(CAST((n_replicas * sm2 - sm * sm)"
                " div (CAST(n_replicas AS DECIMAL(38,0))"
                " * greatest(n_replicas - 1, 1)) AS DOUBLE)) + 0.5D) AS LONG)"
            ).alias("se_boot_micro"),
        )
        .orderBy("source")
    )


BOOTSTRAP_SE_SOURCES_SQL = f"""
WITH rep AS (
  SELECT d.source, d.n_chars::BIGINT AS v, d.doc_id, t.b,
         {_pois_w_sql("(('0x' || substr(md5(d.doc_id::VARCHAR || '-' || t.b::VARCHAR), 1, 15))::BIGINT % 1000000)")}
           ::BIGINT AS w
  FROM documents d, (SELECT range::BIGINT AS b FROM range(0, 32)) t
), means AS (
  SELECT source, ((sum(w * v)::HUGEINT * 1000000) // sum(w))::BIGINT AS m
  FROM rep GROUP BY source, b HAVING sum(w) > 0
), base AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         ((sum(n_chars)::HUGEINT * 1000000) // count(*))::BIGINT AS mean_micro
  FROM documents GROUP BY source
), boot AS (
  SELECT source, count(*)::BIGINT AS n_replicas,
         sum(m::HUGEINT) AS sm, sum(m::HUGEINT * m) AS sm2
  FROM means GROUP BY source
)
SELECT b.source, b.n_docs, b.mean_micro, t.n_replicas,
       ((t.n_replicas * t.sm2 - t.sm * t.sm)
        // (t.n_replicas::HUGEINT * greatest(t.n_replicas - 1, 1)))::BIGINT
         AS var_boot_micro2,
       floor(sqrt(((t.n_replicas * t.sm2 - t.sm * t.sm)
        // (t.n_replicas::HUGEINT * greatest(t.n_replicas - 1, 1)))::DOUBLE)
        + 0.5)::BIGINT AS se_boot_micro
FROM base b JOIN boot t USING (source)
ORDER BY b.source
"""

QUERIES["bootstrap_se_sources"] = (
    bootstrap_se_sources,
    BOOTSTRAP_SE_SOURCES_SQL,
)


# --------------------------------------------------------------------------
# Golden-record entity resolution (blocked match -> clusters -> survivorship)
# --------------------------------------------------------------------------
def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution to a GOLDEN RECORD — the composition
    every MDM/customer-360 pipeline runs: (1) blocked fuzzy match
    (fuzzy_match_parts' dedupe-first discipline: distinct names pair
    within 16-char-prefix blocks, banded Levenshtein ≤ 2), (2) match
    pairs close transitively into entity clusters
    (dedup.connected_components min-label propagation — RAISES on
    non-convergence), (3) survivorship picks each cluster's canonical
    row by the documented rule (max account balance, ties to the lowest
    custkey) with the balance frozen to exact cents. Node ids are
    min-custkey-per-name (8-byte ints, deterministic), so the whole
    chain — including the iterative CC — replays in the oracle's
    recursive CTE. Only genuinely merged clusters (≥ 2 distinct names)
    are emitted; singletons pass through unmerged by definition."""
    from . import dedup

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    names = cust.groupBy("c_name").agg(
        F.min("c_custkey").cast("long").alias("node")
    )
    a = names.select(
        F.col("c_name").alias("name_a"),
        F.col("node").alias("node_a"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    b = names.select(
        F.col("c_name").alias("name_b"),
        F.col("node").alias("node_b"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    edges = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b", 2) >= 0)
        .select("node_a", "node_b")
    )
    comp = dedup.connected_components(edges, "node_a", "node_b")
    rows = (
        cust.join(names, "c_name")
        .join(comp.withColumnRenamed("id", "node"), "node")
        .select(
            F.col("comp").alias("component"),
            "c_custkey",
            "c_name",
            "c_acctbal",
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("component").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_name").cast("long").alias("n_names"),
            F.max(F.when(F.col("rn") == 1, F.col("c_custkey")))
            .cast("long")
            .alias("canon_custkey"),
            F.max(
                F.when(
                    F.col("rn") == 1,
                    F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)),
                )
            )
            .cast("long")
            .alias("canon_acctbal_cents"),
        )
        .filter(F.col("n_names") >= 2)
        .orderBy("component")
    )


GOLDEN_RECORD_CUSTOMERS_SQL = """
WITH RECURSIVE names AS (
  SELECT c_name, min(c_custkey)::BIGINT AS node FROM customer GROUP BY c_name
), blocked AS (
  SELECT c_name, node, substr(c_name, 1, 16) AS blk FROM names
), pairs AS (
  SELECT a.node AS node_a, b.node AS node_b
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.c_name < b.c_name
  WHERE levenshtein(a.c_name, b.c_name) <= 2
), edges AS (
  SELECT node_a AS a, node_b AS b FROM pairs
  UNION
  SELECT node_b AS a, node_a AS b FROM pairs
), reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT id AS node, min(r) AS component FROM reach GROUP BY id
), rows_ AS (
  SELECT cm.component, c.c_custkey, c.c_name, c.c_acctbal,
         row_number() OVER (PARTITION BY cm.component
                            ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rn
  FROM customer c
  JOIN names n ON n.c_name = c.c_name
  JOIN comp cm ON cm.node = n.node
)
SELECT component, count(*)::BIGINT AS n_rows,
       count(DISTINCT c_name)::BIGINT AS n_names,
       max(CASE WHEN rn = 1 THEN c_custkey END)::BIGINT AS canon_custkey,
       max(CASE WHEN rn = 1 THEN floor(c_acctbal * 100 + 0.5) END)::BIGINT
         AS canon_acctbal_cents
FROM rows_
GROUP BY component
HAVING count(DISTINCT c_name) >= 2
ORDER BY component
"""

QUERIES["golden_record_customers"] = (
    golden_record_customers,
    GOLDEN_RECORD_CUSTOMERS_SQL,
)


# --------------------------------------------------------------------------
# Deterministic negative sampling (training-pair construction)
# --------------------------------------------------------------------------
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    pairs (the word2vec/BPR recipe): for every customer, 4 part ids they
    have NEVER ordered, drawn reproducibly. The scale trick: candidates
    are GENERATED arithmetically per user (item_j = md5(user:j) mod
    n_items for j = 0..7, exploiting the contiguous item-key space),
    so the plan is a narrow 8× explode + one anti-join against the
    positives — NEVER a users×items cross join (the naive form is
    quadratic before its filter). Hash candidates make the sample
    identical on any cluster layout / rerun — the reproducible-mix rule
    every training pipeline needs; over-sampling 8 to keep 4 bounds the
    collision-with-positives loss (positives per user ≪ n_items).
    Duplicate candidate draws collapse keep-lowest-j; output thinned to
    every 7th customer for the driver compare."""
    from pyspark.sql import Window as W

    from ..functions import md5_hash60

    # r14: the final output keeps ONLY custkey % 7 == 0 rows, and every
    # step (candidate generation, anti-join, dedup, top-4 rank) is
    # per-custkey independent — so the thinning filter commutes all the
    # way to the SOURCES. 6/7 of the candidate/positive/window work was
    # being computed and thrown away (guide §1.2: don't compute things
    # you discard). Values identical by per-key independence.
    orders = load_table(spark, sf_dir, "orders").select("o_custkey").filter(
        F.col("o_custkey") % 7 == 0
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o_full = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .filter(F.col("o_custkey") % 7 == 0)
    )
    positives = (
        li.join(o_full, li.l_orderkey == o_full.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
    )
    n_parts = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_items")
    )
    users = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    cand = (
        users.crossJoin(F.broadcast(n_parts))
        .select(
            "custkey",
            "n_items",
            F.expr("explode(sequence(0, 7))").alias("j"),
        )
        .select(
            "custkey",
            "j",
            (
                md5_hash60(
                    F.concat(
                        F.col("custkey").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("n_items")
            ).cast("long").alias("item"),
        )
    )
    neg = cand.join(positives, ["custkey", "item"], "left_anti")
    # collapse duplicate draws (same item at two j's) keep-lowest-j:
    # row_number==1 over (custkey, item) ORDER BY j is exactly min(j) per
    # (custkey, item) — a partial-aggregating groupBy instead of a second
    # windowed sort (guide §2.3: aggregate before you shuffle)
    wrank = W.partitionBy("custkey").orderBy("j")
    return (
        neg.groupBy("custkey", "item")
        .agg(F.min("j").alias("j"))
        .withColumn("rk", F.row_number().over(wrank))
        .filter(F.col("rk") <= 4)
        .select(
            "custkey",
            F.col("item").alias("neg_partkey"),
            F.col("j").cast("long").alias("j"),
        )
        .orderBy("custkey", "j")
    )


NEGATIVE_SAMPLING_PAIRS_SQL = """
WITH positives AS (
  SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), np AS (SELECT count(*)::BIGINT AS n_items FROM part),
users AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
cand AS (
  SELECT u.custkey, t.j,
         ((('0x' || substr(md5(u.custkey::VARCHAR || ':' || t.j::VARCHAR),
            1, 15))::BIGINT) % (SELECT n_items FROM np))::BIGINT AS item
  FROM users u, (SELECT range::BIGINT AS j FROM range(0, 8)) t
), neg AS (
  SELECT c.* FROM cand c
  LEFT JOIN positives p ON p.custkey = c.custkey AND p.item = c.item
  WHERE p.custkey IS NULL
), dedup AS (
  SELECT custkey, item, j,
         row_number() OVER (PARTITION BY custkey, item ORDER BY j) AS dup
  FROM neg
), ranked AS (
  SELECT custkey, item, j,
         row_number() OVER (PARTITION BY custkey ORDER BY j) AS rk
  FROM dedup WHERE dup = 1
)
SELECT custkey, item AS neg_partkey, j
FROM ranked WHERE rk <= 4 AND custkey % 7 = 0
ORDER BY custkey, j
"""

QUERIES["negative_sampling_pairs"] = (
    negative_sampling_pairs,
    NEGATIVE_SAMPLING_PAIRS_SQL,
)


# --------------------------------------------------------------------------
# Late-interaction retrieval: ColBERT-style MaxSim over token vectors
# --------------------------------------------------------------------------
def _maxsim_scores(emb: DataFrame, n_q: int, m: int, d_sub: int,
                   col: str) -> DataFrame:
    """ColBERT MaxSim micros ``col`` of every (doc_id, qid): the ``n_q``
    lowest-id vectors are the queries, token t of a vector is its t-th
    ``d_sub``-dim slice, and the queries' ``m`` token vectors ride as
    literals (16 literal dots + 4 maxes + 1 sum per row, no join). Each
    (q-token, d-token) max freezes to micros before the sum."""
    from .similarity import _sql_double_array

    qrows = (
        emb.orderBy("vec_id").limit(n_q).select("vec_id", "embedding").collect()
    )
    score_exprs = []
    for r in qrows:
        qid, qv = r["vec_id"], [float(x) for x in r["embedding"]]
        per_qtok = []
        for s in range(m):
            qt = qv[s * d_sub : (s + 1) * d_sub]
            dots = ", ".join(
                f"aggregate(zip_with(slice(embedding, {t * d_sub + 1}, {d_sub}),"
                f" {_sql_double_array(qt)},"
                f" (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
                for t in range(m)
            )
            per_qtok.append(
                f"CAST(floor(greatest({dots}) * 1e6 + 0.5D) AS BIGINT)"
            )
        score_exprs.append(
            f"struct(CAST({qid} AS BIGINT) AS qid,"
            f" CAST({' + '.join(per_qtok)} AS BIGINT) AS {col})"
        )
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        F.expr(f"explode(array({', '.join(score_exprs)}))").alias("sc"),
    ).select("doc_id", "sc.qid", f"sc.{col}")


def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT, Khattab & Zaharia SIGIR'20):
    score(q, d) = Σ over query tokens of max over doc tokens of the
    token-level dot — the MaxSim kernel that beats single-vector cosine
    on ranking quality because each query token matches its own best
    span. Token vectors here are the 4 disjoint 16-dim subspaces of the
    fixture's 64-dim embedding (the deterministic stand-in the multimodal
    codec tiers also use — a real deployment feeds per-token encoder
    output through the SAME plan). The 2 lowest-id vectors are queries;
    their 4 token vectors ride as broadcast literals, so scoring is ONE
    narrow map over the corpus (16 literal dots + 4 maxes + 1 sum per
    row, no join at all) followed by the per-query top-5 window — the
    same shape single-vector knn uses, and at 100 TB the stored-IVF
    probe prunes candidates first, MaxSim re-scores the shortlist
    (ColBERT's own two-stage serving design). Scores freeze to micros
    per (q-token, d-token) max before the sum — order-free and
    engine-exact."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    n_q, m, d_sub, topk = 2, 4, 16, 5
    scored = _maxsim_scores(emb, n_q, m, d_sub, "maxsim_micro")
    w = W.partitionBy("qid").orderBy(
        F.col("maxsim_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.filter(F.col("doc_id") != F.col("qid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("qid", "doc_id", "maxsim_micro", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


# Per (query, doc, query token) best token dot of the MaxSim kernel.
_SQL_MAXSIM_PAIRS = """pairs AS (
  SELECT q.qid, d.vec_id AS doc_id, s.st AS s_tok,
         max(list_inner_product(
           list_transform(generate_series(1, 16),
                          i -> q.qv[s.st * 16 + i]::DOUBLE),
           list_transform(generate_series(1, 16),
                          i -> d.embedding[t.dt * 16 + i]::DOUBLE))) AS best
  FROM q, embeddings d,
       (SELECT range::INT AS st FROM range(0, 4)) s,
       (SELECT range::INT AS dt FROM range(0, 4)) t
  WHERE d.vec_id <> q.qid
  GROUP BY q.qid, d.vec_id, s.st
)"""
COLBERT_MAXSIM_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  ORDER BY vec_id LIMIT 2
), {_SQL_MAXSIM_PAIRS}, scored AS (
  SELECT qid, doc_id,
         sum(floor(best * 1e6 + 0.5)::BIGINT)::BIGINT AS maxsim_micro
  FROM pairs GROUP BY qid, doc_id
), ranked AS (
  SELECT qid, doc_id, maxsim_micro,
         row_number() OVER (PARTITION BY qid
                            ORDER BY maxsim_micro DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT qid, doc_id, maxsim_micro, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
ORDER BY qid, rank
"""

QUERIES["colbert_maxsim_topk"] = (colbert_maxsim_topk, COLBERT_MAXSIM_TOPK_SQL)


# --------------------------------------------------------------------------
# MMR diversified re-rank (maximal marginal relevance over a shortlist)
# --------------------------------------------------------------------------
def mmr_diversify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein,
    SIGIR'98) — the diversification pass RAG retrieval runs so the k
    passages aren't k paraphrases: greedily pick argmax λ·rel(c) −
    (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7, three steps unrolled over
    the exact-cosine top-8 shortlist of each of the 2 lowest-id queries.
    Greedy MMR is inherently sequential, but the sequence runs over the
    SHORTLIST (≤ 8 rows/query — driver-free, window-based), not the
    corpus: the corpus-scale stage is the same single narrow scan knn
    uses, candidate×candidate similarity is ≤ 64 metadata rows per
    query, and the three selection steps are three deterministic argmax
    windows the oracle replays verbatim. Integer algebra throughout:
    rel/sim freeze to micros, the MMR score is 7·rel − 3·maxsim in
    tenths-of-micro units (exact; may go negative), ties break on
    doc_id."""
    from pyspark.sql import Window as W

    from ..functions.vector_functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    rel = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            F.floor(
                cosine_similarity(F.col("qv"), F.col("embedding")) * 1000000
                + F.lit(0.5)
            ).cast("long").alias("rel_micro"),
        )
    )
    wq = W.partitionBy("qid").orderBy(
        F.col("rel_micro").desc(), F.col("doc_id").asc()
    )
    # eager cut at the shortlist (≤ 8 rows/query): cand has FOUR consumers
    # (ce→sims, s1, st2, st3) and each would otherwise replay the
    # corpus×queries rel pass + window — the covariance_embeddings r14
    # lesson (per-branch pruning defeats ReuseExchange)
    cand = cut(
        rel.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 8)
        .select("qid", "doc_id", "rel_micro")
    )
    ce = cand.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    a = ce.select("qid", F.col("doc_id").alias("da"), F.col("embedding").alias("ea"), F.col("rel_micro").alias("rel_a"))
    b = ce.select("qid", F.col("doc_id").alias("db"), F.col("embedding").alias("eb"))
    # eager cut at the candidate×candidate similarity table (≤ 112 rows):
    # three consumers (st2, st3 twice), each would replay the emb rejoin
    sims = cut(
        a.join(b, "qid")
        .filter(F.col("da") != F.col("db"))
        .select(
            "qid",
            "da",
            "db",
            F.floor(
                cosine_similarity(F.col("ea"), F.col("eb")) * 1000000
                + F.lit(0.5)
            ).cast("long").alias("sim_micro"),
        )
    )
    w1 = W.partitionBy("qid").orderBy(
        F.col("rel_micro").desc(), F.col("doc_id").asc()
    )
    s1 = (
        cand.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("doc_id").alias("s1"), F.col("rel_micro").alias("rel1"))
    )
    # step 2: score = 7*rel - 3*sim(c, s1)
    st2 = (
        cand.join(s1, "qid")
        .filter(F.col("doc_id") != F.col("s1"))
        .join(
            sims.select("qid", F.col("da").alias("doc_id"), F.col("db").alias("s1"), "sim_micro"),
            ["qid", "doc_id", "s1"],
        )
        .select(
            "qid",
            "doc_id",
            "rel_micro",
            (7 * F.col("rel_micro") - 3 * F.col("sim_micro")).alias("score"),
        )
    )
    w2 = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    s2 = (
        st2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("doc_id").alias("s2"), F.col("score").alias("score2"), F.col("rel_micro").alias("rel2"))
    )
    # step 3: score = 7*rel - 3*greatest(sim(c,s1), sim(c,s2))
    st3 = (
        cand.join(s1, "qid")
        .join(s2, "qid")
        .filter((F.col("doc_id") != F.col("s1")) & (F.col("doc_id") != F.col("s2")))
        .join(
            sims.select("qid", F.col("da").alias("doc_id"), F.col("db").alias("s1"), F.col("sim_micro").alias("sim1")),
            ["qid", "doc_id", "s1"],
        )
        .join(
            sims.select("qid", F.col("da").alias("doc_id"), F.col("db").alias("s2"), F.col("sim_micro").alias("sim2")),
            ["qid", "doc_id", "s2"],
        )
        .select(
            "qid",
            "doc_id",
            "rel_micro",
            (7 * F.col("rel_micro") - 3 * F.greatest("sim1", "sim2")).alias("score"),
        )
    )
    w3 = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    s3 = (
        st3.withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("doc_id").alias("s3"), F.col("score").alias("score3"), F.col("rel_micro").alias("rel3"))
    )
    out1 = s1.select(
        "qid", F.lit(1).cast("int").alias("mmr_rank"),
        F.col("s1").alias("doc_id"), F.col("rel1").alias("rel_micro"),
        (7 * F.col("rel1")).cast("long").alias("mmr_score"),
    )
    out2 = s2.select(
        "qid", F.lit(2).cast("int").alias("mmr_rank"),
        F.col("s2").alias("doc_id"), F.col("rel2").alias("rel_micro"),
        F.col("score2").cast("long").alias("mmr_score"),
    )
    out3 = s3.select(
        "qid", F.lit(3).cast("int").alias("mmr_rank"),
        F.col("s3").alias("doc_id"), F.col("rel3").alias("rel_micro"),
        F.col("score3").cast("long").alias("mmr_score"),
    )
    return out1.unionByName(out2).unionByName(out3).orderBy("qid", "mmr_rank")


MMR_DIVERSIFY_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  ORDER BY vec_id LIMIT 2
), rel AS (
  SELECT q.qid, d.vec_id AS doc_id,
         floor(list_cosine_similarity(q.qv::DOUBLE[], d.embedding::DOUBLE[])
               * 1000000 + 0.5)::BIGINT AS rel_micro
  FROM q JOIN embeddings d ON d.vec_id <> q.qid
), cand AS (
  SELECT qid, doc_id, rel_micro FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY rel_micro DESC, doc_id ASC) AS rn FROM rel
  ) WHERE rn <= 8
), sims AS (
  SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
         floor(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[])
               * 1000000 + 0.5)::BIGINT AS sim_micro
  FROM cand a JOIN cand b ON a.qid = b.qid AND a.doc_id <> b.doc_id
  JOIN embeddings ea ON ea.vec_id = a.doc_id
  JOIN embeddings eb ON eb.vec_id = b.doc_id
), s1 AS (
  SELECT qid, doc_id AS s1, rel_micro AS rel1 FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY rel_micro DESC, doc_id ASC) AS rn FROM cand
  ) WHERE rn = 1
), st2 AS (
  SELECT c.qid, c.doc_id, c.rel_micro,
         7 * c.rel_micro - 3 * s.sim_micro AS score
  FROM cand c JOIN s1 USING (qid)
  JOIN sims s ON s.qid = c.qid AND s.da = c.doc_id AND s.db = s1.s1
  WHERE c.doc_id <> s1.s1
), s2 AS (
  SELECT qid, doc_id AS s2, score AS score2, rel_micro AS rel2 FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, doc_id ASC) AS rn FROM st2
  ) WHERE rn = 1
), st3 AS (
  SELECT c.qid, c.doc_id, c.rel_micro,
         7 * c.rel_micro - 3 * greatest(x.sim_micro, y.sim_micro) AS score
  FROM cand c JOIN s1 USING (qid) JOIN s2 USING (qid)
  JOIN sims x ON x.qid = c.qid AND x.da = c.doc_id AND x.db = s1.s1
  JOIN sims y ON y.qid = c.qid AND y.da = c.doc_id AND y.db = s2.s2
  WHERE c.doc_id <> s1.s1 AND c.doc_id <> s2.s2
), s3 AS (
  SELECT qid, doc_id AS s3, score AS score3, rel_micro AS rel3 FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, doc_id ASC) AS rn FROM st3
  ) WHERE rn = 1
)
SELECT qid, 1 AS mmr_rank, s1 AS doc_id, rel1 AS rel_micro,
       (7 * rel1)::BIGINT AS mmr_score FROM s1
UNION ALL
SELECT qid, 2, s2, rel2, score2::BIGINT FROM s2
UNION ALL
SELECT qid, 3, s3, rel3, score3::BIGINT FROM s3
ORDER BY qid, mmr_rank
"""

QUERIES["mmr_diversify_topk"] = (mmr_diversify_topk, MMR_DIVERSIFY_TOPK_SQL)


# --------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view (delta-join algebra)
# --------------------------------------------------------------------------
def ivm_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view — the delta
    algebra (Blakeley et al. SIGMOD'86) incremental_agg_orders' aggregate
    IVM doesn't cover: for V = orders ⋈ customer, a fact-side delta
    contributes ΔA ⋈ B and a dim-side update contributes A ⋈ ΔB — the
    view is repaired touching ONLY delta rows and updated-key rows,
    never rescanning the full fact (the property that makes a 100 TB
    materialized view maintainable). Simulated change set: orders with
    orderkey % 97 == 0 arrive as the fact delta; customers with
    custkey % 53 == 0 get acctbal-affecting updates (mktsegment →
    'MOVED'). Maintenance: (1) evict view rows on updated dim keys and
    re-derive them from base-fact ⋈ updated-dim (key-restricted, so the
    dim side broadcasts), (2) append delta-fact ⋈ new-dim. The emitted
    per-segment signature (rows, exact cents) comes FROM the maintained
    view; the oracle recomputes the target view from scratch — any error
    in the delta algebra (double-applied keys, missed evictions, stale
    dim rows) breaks the value match."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o_base = orders.filter(F.col("o_orderkey") % 97 != 0)
    o_delta = orders.filter(F.col("o_orderkey") % 97 == 0)
    upd_keys = F.col("c_custkey") % 53 == 0
    cust_new = cust.select(
        "c_custkey",
        F.when(upd_keys, F.lit("MOVED")).otherwise(
            F.col("c_mktsegment")
        ).alias("c_mktsegment"),
    )
    cust_upd = cust_new.filter(upd_keys)  # ΔB: the updated dim rows only
    v0 = o_base.join(cust, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
    )
    # (1) dim-side repair: evict updated keys, re-derive A ⋈ ΔB
    evicted = v0.join(
        F.broadcast(cust_upd.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_anti",
    )
    repaired = o_base.join(
        F.broadcast(cust_upd), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
    # (2) fact-side delta: ΔA ⋈ B_new
    appended = o_delta.join(
        cust_new, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
    v = evicted.unionByName(repaired).unionByName(appended)
    return (
        v.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("sum_cents"),
        )
        .orderBy("c_mktsegment")
    )


IVM_JOIN_ORDERS_CUSTOMER_SQL = """
WITH cust_new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 53 = 0 THEN 'MOVED'
              ELSE c_mktsegment END AS c_mktsegment
  FROM customer
), target AS (
  SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment
  FROM orders o JOIN cust_new c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
       sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS sum_cents
FROM target
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["ivm_join_orders_customer"] = (
    ivm_join_orders_customer,
    IVM_JOIN_ORDERS_CUSTOMER_SQL,
)


# --------------------------------------------------------------------------
# A/B assignment + sample-ratio-mismatch (SRM) audit
# --------------------------------------------------------------------------
def ab_srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B bucketing + the SRM audit every experimentation
    platform runs BEFORE reading a metric (Fabijan et al., KDD'19
    'Diagnosing Sample Ratio Mismatch'): users hash to arms via md5
    (layout-independent, re-runnable), and the one-degree chi-square
    statistic for a 50/50 design — (n_A − n_B)²/(n_A + n_B) — is emitted
    in exact micros with the α=0.05 verdict (critical value 3.841459).
    A failed SRM means the assignment or logging pipe is broken and the
    metric read is void — which is why the check rides with the metric
    (per-arm user counts, event counts, exact mean event value). One
    users agg + one per-arm agg; the squared numerator runs in
    DECIMAL(38,0)/HUGEINT (n² passes 2^63 at ~3e9 users per arm
    imbalance)."""
    from ..functions import md5_hash60

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value"
    )
    arm = (md5_hash60(F.col("user_id").cast("string")) % 2).alias("arm")
    per_arm = (
        ev.select(arm, "user_id", "value")
        .groupBy("arm")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("sum_cents"),
        )
    )
    a = per_arm.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("na"),
        F.col("n_events").alias("ea"),
        F.col("sum_cents").alias("sa"),
    )
    b = per_arm.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("nb"),
        F.col("n_events").alias("eb"),
        F.col("sum_cents").alias("sb"),
    )
    return a.crossJoin(b).select(
        F.col("na").alias("n_users_a"),
        F.col("nb").alias("n_users_b"),
        F.expr(
            "CAST((CAST(na - nb AS DECIMAL(38,0)) * (na - nb) * 1000000)"
            " div (na + nb) AS LONG)"
        ).alias("srm_chi2_micro"),
        F.expr(
            "CAST((CAST(na - nb AS DECIMAL(38,0)) * (na - nb) * 1000000)"
            " div (na + nb) AS LONG) < 3841459"
        ).alias("srm_pass"),
        F.col("ea").alias("n_events_a"),
        F.col("eb").alias("n_events_b"),
        # DECIMAL: 1e6·sum_cents clears 2^63 past ~9e12 cents per arm
        F.expr(
            "CAST((CAST(sa AS DECIMAL(38,0)) * 1000000) div ea AS LONG)"
        ).alias("mean_cents_micro_a"),
        F.expr(
            "CAST((CAST(sb AS DECIMAL(38,0)) * 1000000) div eb AS LONG)"
        ).alias("mean_cents_micro_b"),
    )


AB_SRM_CHECK_EVENTS_SQL = """
WITH assigned AS (
  SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2) AS arm,
         user_id, value
  FROM events
), per_arm AS (
  SELECT arm, count(DISTINCT user_id)::BIGINT AS n_users,
         count(*)::BIGINT AS n_events,
         sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS sum_cents
  FROM assigned GROUP BY arm
), a AS (SELECT * FROM per_arm WHERE arm = 0),
b AS (SELECT * FROM per_arm WHERE arm = 1)
SELECT a.n_users AS n_users_a, b.n_users AS n_users_b,
       (((a.n_users - b.n_users)::HUGEINT * (a.n_users - b.n_users)
         * 1000000) // (a.n_users + b.n_users))::BIGINT AS srm_chi2_micro,
       (((a.n_users - b.n_users)::HUGEINT * (a.n_users - b.n_users)
         * 1000000) // (a.n_users + b.n_users))::BIGINT < 3841459
         AS srm_pass,
       a.n_events AS n_events_a, b.n_events AS n_events_b,
       ((a.sum_cents::HUGEINT * 1000000) // a.n_events)::BIGINT
         AS mean_cents_micro_a,
       ((b.sum_cents::HUGEINT * 1000000) // b.n_events)::BIGINT
         AS mean_cents_micro_b
FROM a, b
"""

QUERIES["ab_srm_check_events"] = (ab_srm_check_events, AB_SRM_CHECK_EVENTS_SQL)


# --------------------------------------------------------------------------
# Difference-in-differences (the workhorse causal read on event data)
# --------------------------------------------------------------------------
def diff_in_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger 1994 design)
    over the event stream: treated = deterministic md5 user bucket,
    post-period = the window's second half (ts ≥ 2024-01-16), metric =
    mean event value in exact cent-micros. DiD = (T_post − T_pre) −
    (C_post − C_pre) cancels both the group baseline and the common time
    trend — the first causal read run on any rollout that can't be a
    clean A/B. All four cell means are exact integer divisions (DECIMAL
    numerators), DiD is their exact integer combination, and the four
    cell sizes ride along so the reader can judge power. One (group,
    period) agg over the corpus; everything after is 4 metadata rows."""
    from ..functions import md5_hash60

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cells = (
        ev.select(
            (md5_hash60(F.col("user_id").cast("string")) % 2).alias(
                "treated"
            ),
            (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
            .cast("int")
            .alias("post"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
                "cents"
            ),
        )
        .groupBy("treated", "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
        .select(
            "treated",
            "post",
            "n",
            F.expr(
                "CAST((CAST(s AS DECIMAL(38,0)) * 1000000) div n AS LONG)"
            ).alias("m"),
        )
    )

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    return cells.agg(
        cell(1, 0, "n").cast("long").alias("n_treat_pre"),
        cell(1, 1, "n").cast("long").alias("n_treat_post"),
        cell(0, 0, "n").cast("long").alias("n_ctrl_pre"),
        cell(0, 1, "n").cast("long").alias("n_ctrl_post"),
        cell(1, 0, "m").cast("long").alias("mean_treat_pre"),
        cell(1, 1, "m").cast("long").alias("mean_treat_post"),
        cell(0, 0, "m").cast("long").alias("mean_ctrl_pre"),
        cell(0, 1, "m").cast("long").alias("mean_ctrl_post"),
    ).select(
        "*",
        (
            (F.col("mean_treat_post") - F.col("mean_treat_pre"))
            - (F.col("mean_ctrl_post") - F.col("mean_ctrl_pre"))
        ).cast("long").alias("did_micro"),
    )


DIFF_IN_DIFF_EVENTS_SQL = """
WITH cells AS (
  SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2)
           AS treated,
         (ts >= TIMESTAMP '2024-01-16')::INT AS post,
         count(*)::BIGINT AS n,
         ((sum(floor(value * 100 + 0.5)::BIGINT)::HUGEINT * 1000000)
          // count(*))::BIGINT AS m
  FROM events GROUP BY 1, 2
)
SELECT
  max(CASE WHEN treated = 1 AND post = 0 THEN n END)::BIGINT AS n_treat_pre,
  max(CASE WHEN treated = 1 AND post = 1 THEN n END)::BIGINT AS n_treat_post,
  max(CASE WHEN treated = 0 AND post = 0 THEN n END)::BIGINT AS n_ctrl_pre,
  max(CASE WHEN treated = 0 AND post = 1 THEN n END)::BIGINT AS n_ctrl_post,
  max(CASE WHEN treated = 1 AND post = 0 THEN m END)::BIGINT
    AS mean_treat_pre,
  max(CASE WHEN treated = 1 AND post = 1 THEN m END)::BIGINT
    AS mean_treat_post,
  max(CASE WHEN treated = 0 AND post = 0 THEN m END)::BIGINT
    AS mean_ctrl_pre,
  max(CASE WHEN treated = 0 AND post = 1 THEN m END)::BIGINT
    AS mean_ctrl_post,
  ((max(CASE WHEN treated = 1 AND post = 1 THEN m END)
    - max(CASE WHEN treated = 1 AND post = 0 THEN m END))
   - (max(CASE WHEN treated = 0 AND post = 1 THEN m END)
      - max(CASE WHEN treated = 0 AND post = 0 THEN m END)))::BIGINT
    AS did_micro
FROM cells
"""

QUERIES["diff_in_diff_events"] = (diff_in_diff_events, DIFF_IN_DIFF_EVENTS_SQL)


# --------------------------------------------------------------------------
# Discrete-time churn hazard table (survival analysis, exact form)
# --------------------------------------------------------------------------
def churn_hazard_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival / churn hazard table: for each lifetime
    offset k (days between a user's first and last event), the risk set
    (users whose observed lifetime ≥ k), the churn events (= k exactly),
    and the hazard h(k) = churned/at-risk in exact micros — the
    life-table form (Kaplan-Meier's discrete sibling) that stays pure
    integer algebra; the cumulative survival curve is the downstream
    product consumers derive at |days| metadata scale. One per-user agg
    (first/last day via integer epoch-days) + one |offsets| table with a
    suffix-sum window for the risk sets."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    life = ev.groupBy("user_id").agg(
        (F.max(day) - F.min(day)).cast("long").alias("k")
    )
    per_k = life.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_churned")
    )
    w = W.orderBy(F.col("k").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        per_k.select(
            "k",
            "n_churned",
            F.sum("n_churned").over(w).cast("long").alias("n_at_risk"),
        )
        .select(
            "k",
            "n_at_risk",
            "n_churned",
            F.expr("(1000000 * n_churned) div n_at_risk").cast("long").alias(
                "hazard_micro"
            ),
        )
        .orderBy("k")
    )


CHURN_HAZARD_EVENTS_SQL = """
WITH life AS (
  SELECT user_id,
         (max(datediff('day', DATE '1970-01-01', ts::DATE))
          - min(datediff('day', DATE '1970-01-01', ts::DATE)))::BIGINT AS k
  FROM events GROUP BY user_id
), per_k AS (
  SELECT k, count(*)::BIGINT AS n_churned FROM life GROUP BY k
)
SELECT k,
       sum(n_churned) OVER (ORDER BY k DESC
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS n_at_risk,
       n_churned,
       ((1000000 * n_churned)
        // sum(n_churned) OVER (ORDER BY k DESC
                                ROWS UNBOUNDED PRECEDING))::BIGINT
         AS hazard_micro
FROM per_k
ORDER BY k
"""

QUERIES["churn_hazard_events"] = (churn_hazard_events, CHURN_HAZARD_EVENTS_SQL)


# --------------------------------------------------------------------------
# A/B conversion significance (2x2 chi-square, exact interleaved integers)
# --------------------------------------------------------------------------
def ab_conversion_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion conversion test for the md5 A/B assignment
    (ab_srm_check_events' arms): converted = user emitted ≥ 1 purchase;
    the 2×2 chi-square N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) in micros.
    Integer discipline: the naive numerator N·(ad−bc)²·1e6 reaches N⁵ —
    past DECIMAL(38,0) at ~2.7e6 users — so the division interleaves:
    t1 = (ad−bc)²·1e6 div (row_a·row_b) (≤ N²·1e6), then chi2 = t1·N div
    (col_conv·col_non). Both engines evaluate the SAME expression order,
    so the (sub-micro) truncation introduced by interleaving is
    bit-identical — the documented trade for corpus-scale headroom.
    Output: per-arm users/conversions, exact rates, chi2, α=0.05
    verdict."""
    from ..functions import md5_hash60

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arms = per_user.select(
        (md5_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
        "conv",
    ).groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("c").alias("ca")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("c").alias("cb")
    )
    return a.crossJoin(b).select(
        F.col("na").alias("n_users_a"),
        F.col("ca").alias("n_conv_a"),
        F.col("nb").alias("n_users_b"),
        F.col("cb").alias("n_conv_b"),
        F.expr("(1000000 * ca) div na").cast("long").alias("rate_a_micro"),
        F.expr("(1000000 * cb) div nb").cast("long").alias("rate_b_micro"),
        # degenerate margins (all users converted, or none) carry zero
        # signal: chi2 is 0 by definition, and the guard avoids the /0
        F.expr(
            "CASE WHEN (ca + cb) = 0 OR (na + nb - ca - cb) = 0 THEN"
            " CAST(0 AS LONG) ELSE"
            " CAST(((CAST(ca AS DECIMAL(38,0)) * (nb - cb)"
            " - CAST(cb AS DECIMAL(38,0)) * (na - ca))"
            " * (CAST(ca AS DECIMAL(38,0)) * (nb - cb)"
            " - CAST(cb AS DECIMAL(38,0)) * (na - ca)) * 1000000)"
            " div (CAST(na AS DECIMAL(38,0)) * nb)"
            " * (na + nb) div (CAST(ca + cb AS DECIMAL(38,0))"
            " * (na + nb - ca - cb)) AS LONG) END"
        ).alias("chi2_micro"),
    ).select(
        "*",
        (F.col("chi2_micro") < 3841459).alias("independent_at_05"),
    )


AB_CONVERSION_TEST_EVENTS_SQL = """
WITH per_user AS (
  SELECT user_id, max((event_type = 'purchase')::INT) AS conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2) AS arm,
         count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
  FROM per_user GROUP BY 1
), a AS (SELECT n AS na, c AS ca FROM arms WHERE arm = 0),
b AS (SELECT n AS nb, c AS cb FROM arms WHERE arm = 1)
SELECT na AS n_users_a, ca AS n_conv_a, nb AS n_users_b, cb AS n_conv_b,
       ((1000000 * ca) // na)::BIGINT AS rate_a_micro,
       ((1000000 * cb) // nb)::BIGINT AS rate_b_micro,
       (CASE WHEN (ca + cb) = 0 OR (na + nb - ca - cb) = 0 THEN 0 ELSE
        (((ca::HUGEINT * (nb - cb) - cb::HUGEINT * (na - ca))
          * (ca::HUGEINT * (nb - cb) - cb::HUGEINT * (na - ca)) * 1000000)
         // (na::HUGEINT * nb)
         * (na + nb) // ((ca + cb)::HUGEINT * (na + nb - ca - cb)))
        END)::BIGINT AS chi2_micro,
       (CASE WHEN (ca + cb) = 0 OR (na + nb - ca - cb) = 0 THEN 0 ELSE
        (((ca::HUGEINT * (nb - cb) - cb::HUGEINT * (na - ca))
          * (ca::HUGEINT * (nb - cb) - cb::HUGEINT * (na - ca)) * 1000000)
         // (na::HUGEINT * nb)
         * (na + nb) // ((ca + cb)::HUGEINT * (na + nb - ca - cb)))
        END)::BIGINT < 3841459 AS independent_at_05
FROM a, b
"""

QUERIES["ab_conversion_test_events"] = (
    ab_conversion_test_events,
    AB_CONVERSION_TEST_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# Selinger-lite join-order advisor (sampled-cardinality driven)
# --------------------------------------------------------------------------
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join-order choice, Selinger's System-R recipe at its
    smallest useful size: for the {lineitem, orders, customer} chain the
    two graph-respecting left-deep orders differ only in the FIRST
    intermediate — (L⋈O) vs (O⋈C) — so the advisor estimates both via
    the repo's correlated key-sampled estimator (stats.join_size_sampled,
    1/8 md5 gate — deterministic, hence oracle-replayable bit-for-bit)
    and picks the smaller. That is exactly what a CBO does with column
    stats at plan time, made explicit as a query: the emitted row IS the
    plan decision with its evidence (both estimates + sampled key
    counts). Two sampled aggs over ~1/8 of each key space; no full join
    ever runs."""
    from . import stats

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "orderkey"
    )
    ords = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "orderkey"
    )
    ords2 = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    e_lo = stats.join_size_sampled(li, ords, ["orderkey"], mod=8).select(
        F.col("est_join_rows_sampled").alias("est_lo"),
        F.col("n_sampled_keys").alias("keys_lo"),
    )
    e_oc = stats.join_size_sampled(ords2, cust, ["custkey"], mod=8).select(
        F.col("est_join_rows_sampled").alias("est_oc"),
        F.col("n_sampled_keys").alias("keys_oc"),
    )
    return e_lo.crossJoin(e_oc).select(
        "est_lo",
        "keys_lo",
        "est_oc",
        "keys_oc",
        F.expr(
            "CASE WHEN est_oc <= est_lo THEN '(orders JOIN customer) JOIN"
            " lineitem' ELSE '(lineitem JOIN orders) JOIN customer' END"
        ).alias("chosen_order"),
    )


_ADV_GATE = "(('0x' || substr(md5({k}::VARCHAR), 1, 15))::BIGINT % 8) = 0"

JOIN_ORDER_ADVISOR_SQL = f"""
WITH lo_a AS (
  SELECT l_orderkey AS k, count(*)::BIGINT AS c FROM lineitem
  WHERE {_ADV_GATE.format(k='l_orderkey')} GROUP BY 1
), lo_b AS (
  SELECT o_orderkey AS k, count(*)::BIGINT AS c FROM orders
  WHERE {_ADV_GATE.format(k='o_orderkey')} GROUP BY 1
), lo AS (
  SELECT coalesce(8 * sum(a.c * b.c), 0)::BIGINT AS est_lo,
         count(*)::BIGINT AS keys_lo
  FROM lo_a a JOIN lo_b b USING (k)
), oc_a AS (
  SELECT o_custkey AS k, count(*)::BIGINT AS c FROM orders
  WHERE {_ADV_GATE.format(k='o_custkey')} GROUP BY 1
), oc_b AS (
  SELECT c_custkey AS k, count(*)::BIGINT AS c FROM customer
  WHERE {_ADV_GATE.format(k='c_custkey')} GROUP BY 1
), oc AS (
  SELECT coalesce(8 * sum(a.c * b.c), 0)::BIGINT AS est_oc,
         count(*)::BIGINT AS keys_oc
  FROM oc_a a JOIN oc_b b USING (k)
)
SELECT est_lo, keys_lo, est_oc, keys_oc,
       CASE WHEN est_oc <= est_lo THEN '(orders JOIN customer) JOIN lineitem'
            ELSE '(lineitem JOIN orders) JOIN customer' END AS chosen_order
FROM lo, oc
"""

QUERIES["join_order_advisor"] = (join_order_advisor, JOIN_ORDER_ADVISOR_SQL)


# --------------------------------------------------------------------------
# OOD scoring: diagonal Mahalanobis over the embedding distribution
# --------------------------------------------------------------------------
def ood_mahalanobis_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution scoring for the embedding corpus: diagonal
    Mahalanobis distance d² = Σ_i (x_i − μ_i)²/σ²_i against per-dimension
    moments — the OOD filter run before training on scraped embeddings
    (full Mahalanobis needs Σ⁻¹, a driver-side d×d inverse no SQL oracle
    can replay; the diagonal form keeps the whole computation
    engine-replayable and is the standard large-d fallback). Moments
    freeze at 6 dp (the kmeans centroid bridge for distributed-vs-
    sequential float sums); the per-point fold is sequential in both
    engines and freezes to micros before the top-20 ranking. One moments
    agg + one narrow map + TakeOrdered."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    mom = emb.select(
        F.expr(
            "explode(transform(sequence(0, 63), i ->"
            " struct(i AS dim, CAST(embedding[i] AS DOUBLE) AS x)))"
        ).alias("e")
    ).select("e.dim", "e.x").groupBy("dim").agg(
        F.round(F.avg("x"), 6).alias("m"),
        F.round(F.avg(F.col("x") * F.col("x")), 6).alias("ex2"),
    ).orderBy("dim").collect()
    ms = [float(r["m"]) for r in mom]
    vs = [max(float(r["ex2"]) - float(r["m"]) * float(r["m"]), 1e-12)
          for r in mom]
    terms = " + ".join(
        f"(CAST(embedding[{i}] AS DOUBLE) - {ms[i]!r}D)"
        f" * (CAST(embedding[{i}] AS DOUBLE) - {ms[i]!r}D) / {vs[i]!r}D"
        for i in range(64)
    )
    scored = emb.select(
        "vec_id",
        F.expr(f"CAST(floor(({terms}) * 1e6 + 0.5D) AS BIGINT)").alias(
            "d2_micro"
        ),
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps), NEVER an unpartitioned row_number over the corpus; the rank
    # window then runs on the 20 surviving rows (metadata scale)
    top = scored.orderBy(
        F.col("d2_micro").desc(), F.col("vec_id").asc()
    ).limit(20)
    w = W.orderBy(F.col("d2_micro").desc(), F.col("vec_id").asc())
    return (
        top.withColumn("rk", F.row_number().over(w).cast("int"))
        .select("vec_id", "d2_micro", "rk")
        .orderBy("rk")
    )


OOD_MAHALANOBIS_EMBEDDINGS_SQL = """
WITH mom AS (
  SELECT i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6) AS m,
         round(avg(embedding[i]::DOUBLE * embedding[i]::DOUBLE), 6) AS ex2
  FROM embeddings, generate_series(1, 64) s(i)
  GROUP BY 1
), stats_l AS (
  SELECT list(m ORDER BY dim) AS ml,
         list(greatest(ex2 - m * m, 1e-12) ORDER BY dim) AS vl
  FROM mom
), scored AS (
  SELECT e.vec_id,
         floor(list_sum(list_transform(generate_series(1, 64), i ->
           (e.embedding[i]::DOUBLE - s.ml[i])
           * (e.embedding[i]::DOUBLE - s.ml[i]) / s.vl[i])) * 1e6 + 0.5
         )::BIGINT AS d2_micro
  FROM embeddings e, stats_l s
)
SELECT vec_id, d2_micro, CAST(rk AS INTEGER) AS rk FROM (
  SELECT vec_id, d2_micro,
         row_number() OVER (ORDER BY d2_micro DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk <= 20 ORDER BY rk
"""

QUERIES["ood_mahalanobis_embeddings"] = (
    ood_mahalanobis_embeddings,
    OOD_MAHALANOBIS_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# Time-decayed leaderboard with integer halving (exact decay, no exp())
# --------------------------------------------------------------------------
def decayed_leaderboard_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed leaderboard per event type with a
    half-life of 7 days — computed EXACTLY as integer halving
    (cents >> weeks_of_age) instead of the usual exp(-λ·age) float path:
    power-of-two decay is the engine-proof discretization (both engines
    shift bits identically; no libm anywhere), and a 7-day half-life in
    whole weeks is what the continuous form rounds to anyway. Age is
    measured from the corpus max day (scalar crossJoin, one job).
    Per type: raw cents, decayed cents, and the decay retention in
    micros. One (type) agg over the shifted values; shift amounts cap
    at 62 to stay defined."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    )
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    base = ev.select(
        "event_type",
        day.alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )
    mx = base.agg(F.max("d").alias("max_d"))
    scored = base.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "cents",
        F.expr(
            "shiftright(cents, CAST(least((max_d - d) div 7, 62) AS INT))"
        ).cast("long").alias("dec_cents"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum("dec_cents").cast("long").alias("decayed_cents"),
        )
        .select(
            "event_type",
            "n_events",
            "raw_cents",
            "decayed_cents",
            F.expr(
                "CAST((CAST(decayed_cents AS DECIMAL(38,0)) * 1000000)"
                " div raw_cents AS LONG)"
            ).alias("retention_micro"),
        )
        .orderBy(F.col("decayed_cents").desc(), F.col("event_type").asc())
    )


DECAYED_LEADERBOARD_EVENTS_SQL = """
WITH base AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
         floor(value * 100 + 0.5)::BIGINT AS cents
  FROM events
), mx AS (SELECT max(d) AS max_d FROM base),
scored AS (
  SELECT event_type, cents,
         (cents >> least((mx.max_d - d) // 7, 62)::INT)::BIGINT AS dec_cents
  FROM base, mx
)
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(cents)::BIGINT AS raw_cents,
       sum(dec_cents)::BIGINT AS decayed_cents,
       ((sum(dec_cents)::HUGEINT * 1000000) // sum(cents))::BIGINT
         AS retention_micro
FROM scored
GROUP BY event_type
ORDER BY decayed_cents DESC, event_type ASC
"""

QUERIES["decayed_leaderboard_events"] = (
    decayed_leaderboard_events,
    DECAYED_LEADERBOARD_EVENTS_SQL,
)


# --------------------------------------------------------------------------
# AMS sketch: second frequency moment (self-join size) with measured error
# --------------------------------------------------------------------------
def ams_f2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS F₂ sketch (Alon-Matias-Szegedy, STOC'96 — the result that
    started streaming sketches): estimate the second frequency moment of
    user_id — which IS the self-join size join_cardinality computes
    exactly — from 16 counters Z_j = Σ s_j(x), one per deterministic
    ±1 hash (bit j of the 60-bit md5), est_j = Z_j². The estimator is
    unbiased per counter; the registered row emits the LOWER MEDIAN of
    the 16 (integer-exact, no .5 averaging — documented choice) next to
    the exact F₂ and the realized relative error — the sketch family's
    measured-error discipline (HLL/CMS/theta rows). One narrow map + a
    16-counter agg; the exact side is one count agg + Σc². Sums run in
    DECIMAL(38,0)/HUGEINT (Z² and Σc² reach n²)."""
    from pyspark.sql import Window as W

    from ..functions import md5_hash60

    ev = load_table(spark, sf_dir, "events").select("user_id")
    h = md5_hash60(F.col("user_id").cast("string"))
    signs = ev.select(
        *[
            (1 - 2 * F.shiftright(h, j).bitwiseAND(F.lit(1)))
            .cast("long")
            .alias(f"s{j}")
            for j in range(16)
        ]
    )
    z = signs.agg(
        *[F.sum(f"s{j}").cast("decimal(38,0)").alias(f"z{j}") for j in range(16)]
    )
    ests = z.select(
        F.expr(
            "explode(array("
            + ", ".join(f"CAST(z{j} * z{j} AS DECIMAL(38,0))" for j in range(16))
            + "))"
        ).alias("est")
    )
    wmed = W.orderBy(F.col("est").asc())
    med = (
        ests.withColumn("rn", F.row_number().over(wmed))
        .filter(F.col("rn") == 8)
        .select(F.col("est").cast("long").alias("f2_est"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("long")
            .alias("f2_exact")
        )
    )
    return med.crossJoin(exact).select(
        "f2_exact",
        "f2_est",
        F.expr(
            "CAST((CAST(abs(f2_est - f2_exact) AS DECIMAL(38,0)) * 1000000)"
            " div f2_exact AS LONG)"
        ).alias("rel_err_micro"),
        F.lit(16).cast("long").alias("n_counters"),
    )


AMS_F2_EVENTS_SQL = """
WITH h AS (
  SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS hv
  FROM events
), z AS (
  SELECT j, sum(1 - 2 * ((hv >> j::INT) & 1))::HUGEINT AS zj
  FROM h, (SELECT range::INT AS j FROM range(0, 16)) t
  GROUP BY j
), ests AS (
  SELECT (zj * zj)::HUGEINT AS est FROM z
), med AS (
  SELECT est::BIGINT AS f2_est FROM (
    SELECT est, row_number() OVER (ORDER BY est ASC) AS rn FROM ests
  ) WHERE rn = 8
), exact AS (
  SELECT sum(c::HUGEINT * c)::BIGINT AS f2_exact
  FROM (SELECT count(*)::BIGINT AS c FROM events GROUP BY user_id)
)
SELECT f2_exact, f2_est,
       ((abs(f2_est - f2_exact)::HUGEINT * 1000000) // f2_exact)::BIGINT
         AS rel_err_micro,
       16::BIGINT AS n_counters
FROM med, exact
"""

QUERIES["ams_f2_events"] = (ams_f2_events, AMS_F2_EVENTS_SQL)


# --------------------------------------------------------------------------
# Adamic-Adar link prediction over the strong-tie trade graph
# --------------------------------------------------------------------------
def adamic_adar_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) between supplier
    pairs: AA(s₁, s₂) = Σ over common customers c of 1/ln(deg(c)) —
    common neighbors weighted inversely by how promiscuous they are (a
    customer buying from everyone predicts nothing). Runs on the same
    strong-tie (quantity > 45) graph as label propagation; each term
    freezes to micros BEFORE the pair sum (the char_entropy per-term
    discipline that makes ln engine-safe), degree-1 customers cannot be
    common neighbors so ln(1) never divides. The AA weight depends ONLY
    on the customer, so the classic degree-join + per-customer self-join
    is unnecessary: collect each customer's distinct supplier set in one
    keyed aggregation (collect_set dedups, so the separate DISTINCT
    exchange disappears too), derive d and w from the set itself, and
    expand the s1<s2 wedge pairs JVM-side with nested array transforms
    over the sorted set — same Σ C(d,2) fan-out the self-join paid, but
    generated post-shuffle with zero joins. Plan: one agg by customer +
    one agg by pair + top-20 TakeOrdered."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select("l_orderkey", "l_suppkey")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    )
    grp = (
        edges.groupBy("c")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(
            F.expr(
                "CAST(floor(1000000.0D / ln(CAST(size(ss) AS DOUBLE)) + 0.5D)"
                " AS BIGINT)"
            ).alias("w"),
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) ->"
                    " transform(slice(ss, i + 2, size(ss)),"
                    " y -> struct(x AS s1, y AS s2))))"
                )
            ).alias("p"),
        )
    )
    pairs = (
        grp.select(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"), "w")
        .groupBy("s1", "s2")
        .agg(
            F.sum("w").cast("long").alias("aa_micro"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    return pairs.orderBy(
        F.col("aa_micro").desc(), F.col("s1").asc(), F.col("s2").asc()
    ).limit(20)


ADAMIC_ADAR_SUPPLIERS_SQL = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity > 45
), deg AS (
  SELECT c, count(*)::BIGINT AS d FROM edges GROUP BY c
), weighted AS (
  SELECT e.c, e.s,
         floor(1000000.0 / ln(d::DOUBLE) + 0.5)::BIGINT AS w
  FROM edges e JOIN deg USING (c) WHERE d >= 2
)
SELECT a.s1, a.s2, a.aa_micro, a.n_common FROM (
  SELECT x.s AS s1, y.s AS s2, sum(x.w)::BIGINT AS aa_micro,
         count(*)::BIGINT AS n_common
  FROM weighted x JOIN weighted y ON x.c = y.c AND x.s < y.s
  GROUP BY x.s, y.s
) a
ORDER BY a.aa_micro DESC, a.s1 ASC, a.s2 ASC
LIMIT 20
"""

QUERIES["adamic_adar_suppliers"] = (
    adamic_adar_suppliers,
    ADAMIC_ADAR_SUPPLIERS_SQL,
)


# --------------------------------------------------------------------------
# Column-encoding advisor (lakehouse layout ops)
# --------------------------------------------------------------------------
def encoding_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor — the ANALYZE step behind parquet/ORC
    writer tuning: per column, the NDV ratio (dictionary-page viability)
    and the average run length under the table's key order (RLE
    viability, runs counted per orderkey partition — keyed windows, no
    global sort), then the writer recommendation by the standard rules
    (DICT when NDV ≤ 64, else RLE when mean run ≥ 2, else PLAIN). Emitted
    as a value-checked table so the advice itself is auditable. One pass
    per advised column (explode-free: each is a keyed lag window + two
    aggs on the same scan)."""
    from pyspark.sql import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_returnflag").cast("string").alias("c_returnflag"),
            F.col("l_linestatus").cast("string").alias("c_linestatus"),
            F.col("l_shipdate").cast("date").cast("string").alias("c_shipdate"),
            F.col("l_quantity").cast("long").cast("string").alias("c_quantity"),
        )
        # r15: the r14 repartition+eager-cut (4 scans + 4 window exchanges
        # → 1 scan + 1 exchange) was REVERTED — the driver's ground truth
        # measured it slower (1.54 → 2.11 s) and the r15 same-session
        # interleaved A/B confirmed (cut 1.556 s vs 4-concurrent-scans
        # 1.303 s, min of 4): the materialization + serial branch reads
        # cost more than 4 concurrent pruned scans — the item_cf lesson
        # (an eager cut must pay for itself; bare pruned scans don't).
    )
    out = None
    for col in ("c_returnflag", "c_linestatus", "c_shipdate", "c_quantity"):
        # the synthetic lineitem has duplicate (orderkey, linenumber)
        # pairs — the value itself joins the ordering so runs are total
        w = W.partitionBy("l_orderkey").orderBy("l_linenumber", col)
        runs = li.select(
            "l_orderkey",
            F.when(
                F.lag(col).over(w).isNull()
                | (F.lag(col).over(w) != F.col(col)),
                1,
            ).otherwise(0).alias("new_run"),
            F.col(col).alias("v"),
        )
        agg = runs.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("v").cast("long").alias("ndv"),
            F.sum("new_run").cast("long").alias("n_runs"),
        ).select(
            F.lit(col[2:]).alias("column"),
            "n_rows",
            "ndv",
            F.expr(
                "CAST((CAST(ndv AS DECIMAL(38,0)) * 1000000) div n_rows"
                " AS LONG)"
            ).alias("ndv_ratio_micro"),
            "n_runs",
            F.expr(
                "CAST((CAST(n_rows AS DECIMAL(38,0)) * 1000000) div n_runs"
                " AS LONG)"
            ).alias("avg_run_micro"),
            F.expr(
                "CASE WHEN ndv <= 64 THEN 'DICT'"
                " WHEN (CAST(n_rows AS DECIMAL(38,0)) * 1000000) div n_runs"
                " >= 2000000 THEN 'RLE' ELSE 'PLAIN' END"
            ).alias("recommendation"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("column")


ENCODING_ADVISOR_LINEITEM_SQL = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag::VARCHAR AS c_returnflag,
         l_linestatus::VARCHAR AS c_linestatus,
         l_shipdate::DATE::VARCHAR AS c_shipdate,
         l_quantity::BIGINT::VARCHAR AS c_quantity
  FROM lineitem
), unp AS (
  SELECT l_orderkey, l_linenumber, 'returnflag' AS col, c_returnflag AS v
  FROM base
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'linestatus', c_linestatus FROM base
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'shipdate', c_shipdate FROM base
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'quantity', c_quantity FROM base
), runs AS (
  SELECT col, v,
         CASE WHEN lag(v) OVER (PARTITION BY col, l_orderkey
                                ORDER BY l_linenumber, v) IS DISTINCT FROM v
              THEN 1 ELSE 0 END AS new_run
  FROM unp
), agg AS (
  SELECT col AS "column", count(*)::BIGINT AS n_rows,
         count(DISTINCT v)::BIGINT AS ndv,
         sum(new_run)::BIGINT AS n_runs
  FROM runs GROUP BY col
)
SELECT "column", n_rows, ndv,
       ((ndv::HUGEINT * 1000000) // n_rows)::BIGINT AS ndv_ratio_micro,
       n_runs,
       ((n_rows::HUGEINT * 1000000) // n_runs)::BIGINT AS avg_run_micro,
       CASE WHEN ndv <= 64 THEN 'DICT'
            WHEN (n_rows::HUGEINT * 1000000) // n_runs >= 2000000 THEN 'RLE'
            ELSE 'PLAIN' END AS recommendation
FROM agg
ORDER BY "column"
"""

QUERIES["encoding_advisor_lineitem"] = (
    encoding_advisor_lineitem,
    ENCODING_ADVISOR_LINEITEM_SQL,
)


# --------------------------------------------------------------------------
# Stored winnowing-fingerprint table: the build query (r10)
# --------------------------------------------------------------------------
def winnow_fingerprint_build_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD phase of the stored fingerprint table (r10, the r9
    verdict's task #3): run the winnowing pipeline (k=5, w=4) once over
    the corpus, commit (doc_id, source, winnow_hash) through
    ``tableformat.commit_atomic`` bucketed by winnow_hash, and return a
    per-source summary READ BACK FROM THE STORED SNAPSHOT — proving the
    committed content, the same build/probe split as knn_ivf_stored_probe.
    The three fingerprint consumers (winnow_fingerprint_docs,
    source_overlap_matrix_docs, plagiarism_pairs_docs) probe this
    snapshot instead of re-deriving ~90 fingerprints/doc each; at 100 TB
    the corpus-scale fingerprint job runs nightly, the reports read
    parquet. The oracle replays pipeline + summary in SQL — matching
    values certify the stored rows, not a transient recompute."""
    from . import text, tableformat

    root = text.winnow_fingerprint_store(spark, sf_dir, k=5, w=4, force=True)
    fp = tableformat.read_atomic(spark, root, "fp")
    return (
        fp.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.countDistinct("winnow_hash").cast("long").alias("n_distinct_fps"),
        )
        .orderBy("source")
    )


WINNOW_FINGERPRINT_BUILD_DOCS_SQL = f"""
WITH {_sql_winnow_fp("doc_id, source")}
SELECT source,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_fps,
       count(DISTINCT winnow_hash)::BIGINT AS n_distinct_fps
FROM fp
GROUP BY source
ORDER BY source
"""

QUERIES["winnow_fingerprint_build_docs"] = (
    winnow_fingerprint_build_docs,
    WINNOW_FINGERPRINT_BUILD_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Plagiarism pairs via winnowing-fingerprint overlap (MOSS report)
# --------------------------------------------------------------------------
def plagiarism_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS report (Schleimer/Wilkerson/Aiken 2003 §4) built on the
    registered winnowing fingerprints: document pairs sharing ≥ 3
    selected fingerprints, scored by containment — shared / min(|fp_a|,
    |fp_b|) in micros, the asymmetric measure that catches a short doc
    lifted into a long one (Jaccard dilutes it). Fingerprints appearing
    in > 10 documents are dropped FIRST (MOSS's too-common filter — a
    boilerplate gram would otherwise fan the self-join quadratically;
    this is the same hot-key guard the LSH tiers use). Shape: inverted-
    index self-join on fixed-width hash strings, pair agg, two size
    rejoins, top-50 TakeOrdered. Winnowing guarantees any shared
    substring of length ≥ k+w−1 = 8 yields a shared fingerprint, so
    recall over literal lifts is structural, not probabilistic.

    r10: probes the COMMITTED fingerprint store (text.winnow_fingerprint
    _store) — the corpus-scale shingle→winnow pipeline is paid once per
    corpus, not once per report, and the store's winnow_hash bucketing
    makes the too-common groupBy and the inverted-index self-join
    exchange-free on the stored side. The former eager localCheckpoint is
    gone: the committed parquet snapshot IS the materialization every
    reference re-reads."""
    from . import text

    fp = text.winnow_fingerprint_probe(spark, sf_dir, k=5, w=4).select(
        "doc_id", "winnow_hash"
    )
    common = (
        fp.groupBy("winnow_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 10)
        .select("winnow_hash")
    )
    fpf = fp.join(common, "winnow_hash", "left_anti")
    sizes = fpf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    a = fpf.select(F.col("doc_id").alias("id_a"), "winnow_hash")
    b = fpf.select(F.col("doc_id").alias("id_b"), "winnow_hash")
    pairs = (
        a.join(b, "winnow_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared",
            F.expr("(1000000 * shared) div least(na, nb)")
            .cast("long")
            .alias("containment_micro"),
        )
        .orderBy(
            F.col("containment_micro").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(50)
    )


PLAGIARISM_PAIRS_DOCS_SQL = f"""
WITH {_sql_winnow_fp()}, common AS (
  SELECT winnow_hash FROM fp GROUP BY winnow_hash HAVING count(*) > 10
), fpf AS (
  SELECT f.* FROM fp f LEFT JOIN common c USING (winnow_hash)
  WHERE c.winnow_hash IS NULL
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_fp FROM fpf GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
  FROM fpf a JOIN fpf b
    ON a.winnow_hash = b.winnow_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT p.id_a, p.id_b, p.shared,
       ((1000000 * p.shared) // least(sa.n_fp, sb.n_fp))::BIGINT
         AS containment_micro
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
ORDER BY containment_micro DESC, p.id_a ASC, p.id_b ASC
LIMIT 50
"""

QUERIES["plagiarism_pairs_docs"] = (
    plagiarism_pairs_docs,
    PLAGIARISM_PAIRS_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Rank-biased overlap between the single-vector and late-interaction rankers
# --------------------------------------------------------------------------
_RBO_P = 0.9
_RBO_W = [(1 - _RBO_P) * _RBO_P ** (d - 1) / d for d in range(1, 11)]


def rbo_rankings_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS'10) between the two
    registered retrieval rankings — exact cosine vs ColBERT MaxSim
    top-10 per query: RBO@10 = Σ_d (1−p)p^{d−1}·|A_d ∩ B_d|/d, p = 0.9
    (top-weighted, the ranking-comparison measure Kendall/Spearman get
    wrong for truncated lists). Per-depth overlap counts only need docs
    in BOTH top-10s (overlap@d = #{max(r₁,r₂) ≤ d}); each depth term
    freezes to micros against its exact literal weight before the
    order-free sum. The corpus-scale stages are the two rankers
    themselves (knn's broadcast scan + MaxSim's narrow map); the RBO
    combination runs on ≤ 10 joined rows per query. This is the
    meta-QC that tells you whether the cheap ranker can serve as the
    expensive one's first stage."""
    from pyspark.sql import Window as W

    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    n_q, m, d_sub = 2, 4, 16
    # ranking 1: exact cosine top-10
    q = emb.filter(F.col("vec_id") < n_q)
    r1 = similarity.cosine_topk(emb, q, k=10).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("r1"),
    )
    # ranking 2: MaxSim top-10 (colbert_maxsim_topk's kernel at k=10)
    ms = _maxsim_scores(emb, n_q, m, d_sub, "ms").filter(
        F.col("doc_id") != F.col("qid")
    )
    w2 = W.partitionBy("qid").orderBy(F.col("ms").desc(), F.col("doc_id").asc())
    r2 = (
        ms.withColumn("r2", F.row_number().over(w2).cast("long"))
        .filter(F.col("r2") <= 10)
        .select("qid", "doc_id", "r2")
    )
    joined = r1.join(r2, ["qid", "doc_id"]).select(
        "qid", F.greatest("r1", "r2").alias("mx")
    )
    terms = " + ".join(
        f"CAST(floor({_RBO_W[d - 1]!r}D * ov{d} * 1e6 + 0.5D) AS BIGINT)"
        for d in range(1, 11)
    )
    per_q = joined.groupBy("qid").agg(
        *[
            F.sum((F.col("mx") <= d).cast("long")).alias(f"ov{d}")
            for d in range(1, 11)
        ]
    )
    return per_q.select(
        "qid",
        F.col("ov10").cast("long").alias("overlap_at_10"),
        F.expr(f"CAST({terms} AS BIGINT)").alias("rbo_micro"),
    ).orderBy("qid")


def _rbo_oracle() -> str:
    terms = " + ".join(
        f"floor({_RBO_W[d - 1]!r} * sum((mx <= {d})::BIGINT) * 1e6 + 0.5)"
        f"::BIGINT"
        for d in range(1, 11)
    )
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 2
), r1 AS (
  SELECT qid, neighbor_id AS doc_id, rank::BIGINT AS r1 FROM (
    SELECT q.qid, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[],
                      c.embedding::DOUBLE[]), 6) DESC,
                      c.vec_id ASC) AS rank
    FROM q JOIN embeddings c ON c.vec_id <> q.qid
  ) WHERE rank <= 10
), {_SQL_MAXSIM_PAIRS}, msc AS (
  SELECT qid, doc_id,
         sum(floor(best * 1e6 + 0.5)::BIGINT)::BIGINT AS ms
  FROM pairs GROUP BY qid, doc_id
), r2 AS (
  SELECT qid, doc_id, rank::BIGINT AS r2 FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY ms DESC, doc_id ASC) AS rank
    FROM msc
  ) WHERE rank <= 10
), joined AS (
  SELECT r1.qid, greatest(r1.r1, r2.r2) AS mx
  FROM r1 JOIN r2 ON r1.qid = r2.qid AND r1.doc_id = r2.doc_id
)
SELECT qid, sum((mx <= 10)::BIGINT)::BIGINT AS overlap_at_10,
       ({terms})::BIGINT AS rbo_micro
FROM joined
GROUP BY qid
ORDER BY qid
"""


QUERIES["rbo_rankings_embeddings"] = (rbo_rankings_embeddings, _rbo_oracle())


# --------------------------------------------------------------------------
# K-fold assignment + stratification-balance audit
# --------------------------------------------------------------------------
def kfold_balance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment (deterministic md5, the
    split_docs_hash discipline) WITH the balance audit that must ride
    along: per fold, the document count and the worst per-language
    deviation from proportionality — 1e6·|5·n_fold,lang − n_lang| /
    n_lang in micros (the scaled form keeps the ranking exact, the cusum
    trick). A fold whose class mix drifts biases every CV estimate
    computed on it — which is why fold assignment without this audit is
    a bug, not a feature. Two count aggs; the deviation table is
    |folds|·|langs| metadata rows."""
    from ..functions import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        (md5_hash60(F.col("doc_id").cast("string")) % 5).alias("fold"),
        "lang",
    )
    per = f.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    lang_tot = f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_lang")
    )
    dev = per.join(F.broadcast(lang_tot), "lang").select(
        "fold",
        "lang",
        F.expr(
            "(1000000 * abs(5 * n - n_lang)) div n_lang"
        ).cast("long").alias("dev_micro"),
        "n",
    )
    return (
        dev.groupBy("fold")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.max("dev_micro").cast("long").alias("max_lang_dev_micro"),
        )
        .orderBy("fold")
    )


KFOLD_BALANCE_DOCS_SQL = """
WITH f AS (
  SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 5)
           AS fold, lang
  FROM documents
), per AS (
  SELECT fold, lang, count(*)::BIGINT AS n FROM f GROUP BY 1, 2
), lang_tot AS (
  SELECT lang, count(*)::BIGINT AS n_lang FROM f GROUP BY 1
)
SELECT fold, sum(n)::BIGINT AS n_docs,
       max((1000000 * abs(5 * n - n_lang)) // n_lang)::BIGINT
         AS max_lang_dev_micro
FROM per JOIN lang_tot USING (lang)
GROUP BY fold
ORDER BY fold
"""

QUERIES["kfold_balance_docs"] = (kfold_balance_docs, KFOLD_BALANCE_DOCS_SQL)


# --------------------------------------------------------------------------
# One-way ANOVA F statistic across sources (exact integer algebra)
# --------------------------------------------------------------------------
def anova_f_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA over document length by source — does mean length
    differ across sources more than within-source noise explains?
    Entirely exact integers: per source the term T_s²·1e6/n_s freezes to
    an exact floor (each is an exact rational of exact integer sums, so
    order never matters), SSB = Σterm − T²·1e6/N, SSW = Σx²·1e6 − Σterm,
    and F = (SSB·(N−k)·1e6)/(SSW·(k−1)) in micros via DECIMAL(38,0)/
    HUGEINT — no distributed float sum anywhere, unlike the textbook
    mean-centered form. One moments agg per source (map-side combined) +
    a |sources|-row tail; emitted with df₁, df₂ and the worst-case
    critical-value verdict at α=0.05 for df₁ ≤ 20, F > 1.93 (the reader's
    threshold; exact p-values live client-side)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("n_chars").cast("long").alias("t_s"),
        F.sum(
            F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")
        ).alias("ssq_s"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_s").cast("long").alias("n_tot"),
        F.sum("t_s").cast("decimal(38,0)").alias("t_tot"),
        F.sum("ssq_s").alias("ssq"),
        F.sum(
            F.expr(
                "CAST((CAST(t_s AS DECIMAL(38,0)) * t_s * 1000000)"
                " div n_s AS DECIMAL(38,0))"
            )
        ).alias("sum_terms"),
    )
    return agg.select(
        "k",
        "n_tot",
        F.expr(
            "CAST(sum_terms - (t_tot * t_tot * 1000000) div n_tot AS LONG)"
        ).alias("ssb_micro"),
        F.expr("CAST(ssq * 1000000 - sum_terms AS LONG)").alias("ssw_micro"),
        F.expr(
            "CAST(((sum_terms - (t_tot * t_tot * 1000000) div n_tot)"
            " * (n_tot - k) * 1000000)"
            " div ((ssq * 1000000 - sum_terms) * (k - 1)) AS LONG)"
        ).alias("f_micro"),
    ).select(
        "*",
        (F.col("f_micro") > 1930000).alias("significant_at_05"),
    )


ANOVA_F_SOURCES_SQL = """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_s, sum(n_chars)::BIGINT AS t_s,
         sum(n_chars::HUGEINT * n_chars)::HUGEINT AS ssq_s
  FROM documents GROUP BY source
), agg AS (
  SELECT count(*)::BIGINT AS k, sum(n_s)::BIGINT AS n_tot,
         sum(t_s)::HUGEINT AS t_tot, sum(ssq_s)::HUGEINT AS ssq,
         sum((t_s::HUGEINT * t_s * 1000000) // n_s)::HUGEINT AS sum_terms
  FROM per
)
SELECT k, n_tot,
       (sum_terms - (t_tot * t_tot * 1000000) // n_tot)::BIGINT AS ssb_micro,
       (ssq * 1000000 - sum_terms)::BIGINT AS ssw_micro,
       (((sum_terms - (t_tot * t_tot * 1000000) // n_tot)
         * (n_tot - k) * 1000000)
        // ((ssq * 1000000 - sum_terms) * (k - 1)))::BIGINT AS f_micro,
       (((sum_terms - (t_tot * t_tot * 1000000) // n_tot)
         * (n_tot - k) * 1000000)
        // ((ssq * 1000000 - sum_terms) * (k - 1)))::BIGINT > 1930000
         AS significant_at_05
FROM agg
"""

QUERIES["anova_f_sources"] = (anova_f_sources, ANOVA_F_SOURCES_SQL)


# --------------------------------------------------------------------------
# Seasonal-naive forecast error (MASE) per event type
# --------------------------------------------------------------------------
def forecast_mase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality baseline for the volume monitors: the
    seasonal-naive forecast (tomorrow = same weekday last week) scored
    by MASE (Hyndman & Koehler 2006) — MAE of the week-lag forecast over
    MAE of the 1-day naive, the scale-free measure that makes error
    comparable across event types of wildly different volume. MASE < 1
    means weekly seasonality genuinely predicts (seasonality_dow_events'
    profile is worth using); ≥ 1 means it doesn't. Exact integers
    throughout: absolute errors sum as longs, the final ratio is one
    DECIMAL(38,0)/HUGEINT division of cross-multiplied sums, lag terms
    join on (type, day−lag) so missing days drop out instead of faking
    zeros. One (type, day) count agg + two metadata-scale self-joins on
    the daily table."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    # r15 (duplicate-scan audit tail): lag7/lag1 and both join left sides
    # each replayed the events scan + (type, day) agg — 4 scans in one
    # plan → 1 behind an eager cut of the |types|·|days|-row daily table.
    # No A/B timing was recorded.
    daily = cut(ev.groupBy(F.col("event_type"), day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ))
    lag7 = daily.select(
        "event_type", (F.col("d") + 7).alias("d"), F.col("c").alias("c7")
    )
    lag1 = daily.select(
        "event_type", (F.col("d") + 1).alias("d"), F.col("c").alias("c1")
    )
    e7 = daily.join(lag7, ["event_type", "d"]).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n7"),
        F.sum(F.abs(F.col("c") - F.col("c7"))).cast("long").alias("sae7"),
    )
    e1 = daily.join(lag1, ["event_type", "d"]).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum(F.abs(F.col("c") - F.col("c1"))).cast("long").alias("sae1"),
    )
    return (
        e7.join(e1, "event_type")
        .select(
            "event_type",
            "n7",
            "sae7",
            "n1",
            "sae1",
            F.expr(
                "CASE WHEN sae1 = 0 THEN NULL ELSE"
                " CAST((CAST(sae7 AS DECIMAL(38,0)) * n1 * 1000000)"
                " div (CAST(sae1 AS DECIMAL(38,0)) * n7) AS LONG) END"
            ).alias("mase_micro"),
        )
        .orderBy("event_type")
    )


FORECAST_MASE_EVENTS_SQL = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
), e7 AS (
  SELECT a.event_type, count(*)::BIGINT AS n7,
         sum(abs(a.c - b.c))::BIGINT AS sae7
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d - 7
  GROUP BY 1
), e1 AS (
  SELECT a.event_type, count(*)::BIGINT AS n1,
         sum(abs(a.c - b.c))::BIGINT AS sae1
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d - 1
  GROUP BY 1
)
SELECT e7.event_type, n7, sae7, n1, sae1,
       CASE WHEN sae1 = 0 THEN NULL ELSE
         ((sae7::HUGEINT * n1 * 1000000)
          // (sae1::HUGEINT * n7))::BIGINT END AS mase_micro
FROM e7 JOIN e1 USING (event_type)
ORDER BY e7.event_type
"""

QUERIES["forecast_mase_events"] = (forecast_mase_events, FORECAST_MASE_EVENTS_SQL)


# --------------------------------------------------------------------------
# Leave-one-out data valuation per source
# --------------------------------------------------------------------------
def loo_source_value_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out data valuation (the Shapley family's exactly-
    computable member, Ghorbani & Zou ICML'19 framing): each source's
    contribution to a corpus metric, measured as what the metric does
    when the source is REMOVED — delta_s = mean_without_s − mean_with,
    here over the quality proxy (chars/doc). Positive delta = the corpus
    improves without it: the defensible first pass at 'which sources
    earn their ingest cost'. Exact integers: mean_without = (T − T_s)·
    1e6/(N − n_s) is one decimal division per source off the SAME
    per-source moments agg — the whole valuation is one corpus pass +
    a |sources|-row tail, against the naive re-aggregate-per-source
    O(|sources|·corpus). Ordered by delta descending (cut candidates
    first)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("n_chars").cast("long").alias("t_s"),
    )
    tot = per.agg(
        F.sum("n_s").cast("long").alias("n_tot"),
        F.sum("t_s").cast("long").alias("t_tot"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            F.expr(
                "CAST((CAST(t_tot AS DECIMAL(38,0)) * 1000000) div n_tot"
                " AS LONG)"
            ).alias("mean_with_micro"),
            F.expr(
                "CAST((CAST(t_tot - t_s AS DECIMAL(38,0)) * 1000000)"
                " div (n_tot - n_s) AS LONG)"
            ).alias("mean_without_micro"),
        )
        .select(
            "source",
            "n_docs",
            "mean_with_micro",
            "mean_without_micro",
            (F.col("mean_without_micro") - F.col("mean_with_micro"))
            .cast("long")
            .alias("loo_delta_micro"),
        )
        .orderBy(F.col("loo_delta_micro").desc(), F.col("source").asc())
    )


LOO_SOURCE_VALUE_DOCS_SQL = """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_s, sum(n_chars)::BIGINT AS t_s
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(n_s)::BIGINT AS n_tot, sum(t_s)::BIGINT AS t_tot FROM per
)
SELECT source, n_s AS n_docs,
       ((t_tot::HUGEINT * 1000000) // n_tot)::BIGINT AS mean_with_micro,
       (((t_tot - t_s)::HUGEINT * 1000000) // (n_tot - n_s))::BIGINT
         AS mean_without_micro,
       ((((t_tot - t_s)::HUGEINT * 1000000) // (n_tot - n_s))
        - ((t_tot::HUGEINT * 1000000) // n_tot))::BIGINT
         AS loo_delta_micro
FROM per, tot
ORDER BY loo_delta_micro DESC, source ASC
"""

QUERIES["loo_source_value_docs"] = (
    loo_source_value_docs,
    LOO_SOURCE_VALUE_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Pairwise 1-D Wasserstein divergence between source length distributions
# --------------------------------------------------------------------------
def wasserstein_pairs_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise earth-mover's distance between per-source length
    distributions — the divergence MATRIX t_closeness's class-vs-global
    audit doesn't give: which two sources are most unlike each other
    (mixture design cares about pairwise redundancy, not just global
    fit). Ordered 1-D EMD closed form over the shared n_chars-div-200
    buckets: W1 = Σ_b |cumP_a − cumP_b| / (B−1), exact scaled integers
    (cum_a·n_b − cum_b·n_a over n_a·n_b·(B−1), DECIMAL/HUGEINT). The
    corpus collapses in ONE (source, bucket) count agg; the pairwise
    matrix runs on |sources|²·|buckets| metadata rows (grid crossJoin,
    broadcast). Top-10 most-divergent pairs, fully tie-broken."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select("source", F.expr("n_chars div 200").alias("b"))
    # r15 (duplicate-scan audit tail): totals, buckets, nb, and both cum
    # sides each replayed the corpus scan + agg — SEVEN documents scans in
    # one plan. The finest-grain (source, bucket) count agg is computed
    # once behind an eager cut, and every coarser aggregate derives from
    # it (Σ counts per source ≡ per-source count; distinct buckets of the
    # count table ≡ distinct buckets of the corpus — value-identical).
    # No A/B timing was recorded.
    counts = cut(per.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ))
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n")
    )
    buckets = counts.select("b").distinct()
    nb = buckets.agg(F.count(F.lit(1)).cast("long").alias("n_bkt"))
    grid = (
        totals.crossJoin(F.broadcast(buckets))
        .join(counts, ["source", "b"], "left")
        .select(
            "source",
            "n",
            "b",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    wcum = (
        W.partitionBy("source")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cums = grid.select(
        "source", "n", "b", F.sum("c").over(wcum).cast("long").alias("cum")
    )
    a = cums.select(
        F.col("source").alias("src_a"),
        F.col("n").alias("n_a"),
        "b",
        F.col("cum").alias("cum_a"),
    )
    bb = cums.select(
        F.col("source").alias("src_b"),
        F.col("n").alias("n_b"),
        "b",
        F.col("cum").alias("cum_b"),
    )
    pairs = (
        a.join(bb, "b")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(
                F.abs(
                    F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
                    - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
                )
            ).alias("sd"),
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CAST((sd * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b"
                " * greatest(n_bkt - 1, 1)) AS LONG)"
            ).alias("w1_micro"),
        )
    )
    return pairs.orderBy(
        F.col("w1_micro").desc(), F.col("src_a").asc(), F.col("src_b").asc()
    ).limit(10)


WASSERSTEIN_PAIRS_SOURCES_SQL = """
WITH per AS (
  SELECT source, n_chars // 200 AS b FROM documents
), counts AS (
  SELECT source, b, count(*)::BIGINT AS c FROM per GROUP BY 1, 2
), totals AS (
  SELECT source, count(*)::BIGINT AS n FROM per GROUP BY 1
), buckets AS (SELECT DISTINCT b FROM per),
nb AS (SELECT count(*)::BIGINT AS n_bkt FROM buckets),
grid AS (
  SELECT t.source, t.n, bk.b, coalesce(c.c, 0)::BIGINT AS c
  FROM totals t CROSS JOIN buckets bk
  LEFT JOIN counts c ON c.source = t.source AND c.b = bk.b
), cums AS (
  SELECT source, n, b,
         sum(c) OVER (PARTITION BY source ORDER BY b
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
  FROM grid
), pairs AS (
  SELECT x.source AS src_a, y.source AS src_b,
         max(x.n) AS n_a, max(y.n) AS n_b,
         sum(abs(x.cum::HUGEINT * y.n - y.cum::HUGEINT * x.n))::HUGEINT AS sd
  FROM cums x JOIN cums y ON x.b = y.b AND x.source < y.source
  GROUP BY 1, 2
)
SELECT src_a, src_b,
       ((sd * 1000000) // (n_a::HUGEINT * n_b
        * greatest((SELECT n_bkt FROM nb) - 1, 1)))::BIGINT AS w1_micro
FROM pairs
ORDER BY w1_micro DESC, src_a ASC, src_b ASC
LIMIT 10
"""

QUERIES["wasserstein_pairs_sources"] = (
    wasserstein_pairs_sources,
    WASSERSTEIN_PAIRS_SOURCES_SQL,
)


# --------------------------------------------------------------------------
# Exact-k stratified sample (deterministic hash order per stratum)
# --------------------------------------------------------------------------
def stratified_exact_k_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k per-stratum sampling: keep exactly min(k, n) documents per
    language by deterministic md5 rank — the eval-set constructor where
    rate-based sampling (sample_docs_hash, temperature gates) is wrong
    because it over/under-shoots per stratum and k-per-class is the
    contract (few-shot pools, per-language eval suites, labeling
    budgets). The hash order makes the SAME k documents win on any
    cluster layout or rerun; ties are impossible (60-bit hash, doc_id
    tie-break anyway). One keyed rank window per stratum — the per-key
    sort every exact-k sampler pays; k = 25 here. Emitted with the rank
    so downstream can take nested prefixes (k' < k) without
    resampling — the property rate gates can't give."""
    from pyspark.sql import Window as W

    from ..functions import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        md5_hash60(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= 25)
        .orderBy("lang", "pick_rank")
    )


STRATIFIED_EXACT_K_DOCS_SQL = """
SELECT doc_id, lang, source, pick_rank FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                    ASC, doc_id ASC
         )::BIGINT AS pick_rank
  FROM documents
) WHERE pick_rank <= 25
ORDER BY lang, pick_rank
"""

QUERIES["stratified_exact_k_docs"] = (
    stratified_exact_k_docs,
    STRATIFIED_EXACT_K_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Dedup review queue: the borderline band below the auto-dedup threshold
# --------------------------------------------------------------------------
def dedup_review_queue_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-in-the-loop dedup triage: the pairs in the BORDERLINE
    Jaccard band [τ_lo, 0.3) — below the auto-dedup threshold
    dedup_jaccard_pairs_docs acts on at 0.3, above the noise floor —
    ordered worst-first. Every production dedup runs this two-threshold
    policy (act above τ_hi, queue [τ_lo, τ_hi) for review, ignore
    below); the queue is where threshold-tuning evidence comes from.
    τ_lo = 0.02 here: the synthetic fixture is bimodal (planted twins ≥
    0.96, background ≤ 0.05 — measured), so the production-style
    0.2-ish floor would make the queue vacuously empty; on a real
    corpus set τ_lo ≈ 0.7·τ_hi. Reuses the shared AllPairs/PPJoin
    machinery at τ_lo; the emitted queue is the top-50 of the band,
    worst-first, fully tie-broken."""
    from . import dedup

    # r11: pairs probe the committed shingle-base snapshot (see
    # dedup.shingle_base_store); at τ_lo = 0.02 the AllPairs prefix would
    # keep ~98% of each set, so the stored path auto-selects the COUNT
    # strategy — co-occurrence rows from the bucketed fpos self-join are
    # counted per pair (|A∩B| exactly) instead of array-verified
    # (4.6 s → 1.1 s at sf0.1; see JACCARD_COUNT_STRATEGY_BELOW)
    pairs = dedup.jaccard_pairs_stored(spark, sf_dir, threshold=0.02)
    return (
        pairs.filter(F.col("jaccard") < 0.3)
        .orderBy(
            F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc()
        )
        .limit(50)
    )


DEDUP_REVIEW_QUEUE_DOCS_SQL = f"""
WITH {_SQL_SHINGLE_BLOCKS}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_sql_jaccard()} AS jaccard
{_SQL_BLOCKED_PAIRS}
WHERE {_sql_jaccard()} >= 0.02
  AND {_sql_jaccard()} < 0.3
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT 50
"""

QUERIES["dedup_review_queue_docs"] = (
    dedup_review_queue_docs,
    DEDUP_REVIEW_QUEUE_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Apriori stage 3: frequent triples (the candidate-generation step proper)
# --------------------------------------------------------------------------
def assoc_triples_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori's THIRD level (Agrawal-Srikant VLDB'94 §2.1.1 candidate
    generation) — the step where the algorithm's real machinery shows:
    candidate triples come from JOINING frequent pairs that share their
    first item ((a,b)⋈(a,c) → (a,b,c), b<c), are PRUNED by the Apriori
    property (the third subset pair (b,c) must itself be frequent), and
    only the survivors are counted against the baskets. Support ≥ 2,
    support in exact micros vs the basket total (scalar crossJoin).
    Support floors are RELATIVE — max(2, n_baskets div 10000) at every
    level, the standard Apriori practice (an absolute floor of 2 is a
    toy: as the corpus grows, every pair eventually passes and the
    level-3 candidate volume Σ_a deg(a)² goes super-linear — measured
    6.5 at the 4× tier before this floor, 1.5 after; at the tested SFs
    the relative floor still resolves to 2, so the registered values
    are unchanged). Top-20 by support, fully tie-broken."""
    li = load_table(spark, sf_dir, "lineitem")
    # r14 wedge-fold (see assoc_rules_lineitem): ONE keyed agg replaces the
    # DISTINCT + both basket-scale self-join families — collect_set dedups
    # (bid, item) in the same exchange; pair AND triple fan-out are
    # generated JVM-side from the sorted per-basket frequent-item set
    # after the shuffle. Eager cut: nb / supp / pairs / triples would each
    # replay the basket agg otherwise.
    baskets = cut(_basket_sets(li))
    nb, supp = _basket_counts(baskets)
    freq_items = (
        supp.crossJoin(F.broadcast(nb))
        .filter(F.col("n_item") >= F.expr("greatest(2, n_baskets div 10000)"))
        .select("item")
    )
    # per-basket sorted FREQUENT-item set, reused by pairs AND triples
    fs = cut(_frequent_sets(baskets, freq_items))
    pairs = (
        _pair_counts(fs, "a", "b")
        .crossJoin(F.broadcast(nb))
        .filter(F.col("n_ab") >= F.expr("greatest(2, n_baskets div 10000)"))
        .select("a", "b")
    )
    pairs = cut(pairs)  # reused 3x below
    # candidate generation: join pairs sharing the first item
    cand = (
        pairs.alias("x")
        .join(pairs.alias("y"), F.col("x.a") == F.col("y.a"))
        .filter(F.col("x.b") < F.col("y.b"))
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    # Apriori prune: (b, c) must be frequent too
    pruned = cand.join(
        pairs.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
    )
    # count survivors against the baskets: expand each basket's a<b<c
    # triples from its sorted frequent set and broadcast-hash-join the
    # pruned candidates IN THE SAME codegen stage — only candidate hits
    # reach the (a,b,c) exchange. Replaces the pruned⋈t1⋈t2⋈t3 chain
    # (two basket-scale shuffles) with post-shuffle generation whose
    # Σ C(f,3) fan-out is bounded by the basket cap, like the pair level.
    triples = fs.filter(F.size("fs") >= 3).select(
        F.explode(
            F.expr(
                "flatten(transform(fs, (x, i) ->"
                " flatten(transform(slice(fs, i + 2, size(fs)), (y, j) ->"
                " transform(slice(fs, i + j + 3, size(fs)),"
                " z -> struct(x AS a, y AS b, z AS c))))))"
            )
        ).alias("t")
    ).select(F.col("t.a").alias("a"), F.col("t.b").alias("b"), F.col("t.c").alias("c"))
    counted = (
        triples.join(F.broadcast(pruned), ["a", "b", "c"])
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_abc"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("n_abc") >= F.expr("greatest(2, n_baskets div 10000)"))
        .drop("n_baskets")
    )
    return (
        counted.crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "c",
            "n_abc",
            F.expr("(1000000 * n_abc) div n_baskets").cast("long").alias(
                "support_micro"
            ),
        )
        .orderBy(
            F.col("n_abc").desc(),
            F.col("a").asc(),
            F.col("b").asc(),
            F.col("c").asc(),
        )
        .limit(20)
    )


ASSOC_TRIPLES_LINEITEM_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem
), nb AS (SELECT count(DISTINCT bid)::BIGINT AS n_baskets FROM baskets),
freq_items AS (
  SELECT item FROM baskets GROUP BY item
  HAVING count(*) >= greatest(2, (SELECT n_baskets FROM nb) // 10000)
), fb AS (
  SELECT b.bid, b.item FROM baskets b JOIN freq_items USING (item)
), pairs AS (
  SELECT x.item AS a, y.item AS b
  FROM fb x JOIN fb y ON x.bid = y.bid AND x.item < y.item
  GROUP BY 1, 2
  HAVING count(*) >= greatest(2, (SELECT n_baskets FROM nb) // 10000)
), cand AS (
  SELECT x.a, x.b, y.b AS c
  FROM pairs x JOIN pairs y ON x.a = y.a AND x.b < y.b
), pruned AS (
  SELECT c.a, c.b, c.c
  FROM cand c JOIN pairs p ON p.a = c.b AND p.b = c.c
), counted AS (
  SELECT p.a, p.b, p.c, count(*)::BIGINT AS n_abc
  FROM pruned p
  JOIN fb t1 ON t1.item = p.a
  JOIN fb t2 ON t2.bid = t1.bid AND t2.item = p.b
  JOIN fb t3 ON t3.bid = t1.bid AND t3.item = p.c
  GROUP BY 1, 2, 3
  HAVING count(*) >= greatest(2, (SELECT n_baskets FROM nb) // 10000)
)
SELECT a, b, c, n_abc,
       ((1000000 * n_abc) // (SELECT n_baskets FROM nb))::BIGINT
         AS support_micro
FROM counted
ORDER BY n_abc DESC, a ASC, b ASC, c ASC
LIMIT 20
"""

QUERIES["assoc_triples_lineitem"] = (
    assoc_triples_lineitem,
    ASSOC_TRIPLES_LINEITEM_SQL,
)


# --------------------------------------------------------------------------
# Rolling weekly-active-users (sliding exact distinct)
# --------------------------------------------------------------------------
def rolling_wau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day with DAU and the
    DAU/WAU stickiness ratio — the product-analytics table every
    engagement dashboard opens with. Exact sliding DISTINCT (which no
    window frame gives: count(distinct) over RANGE isn't supported and
    approximations drift): each (user, active-day) pair covers the 7
    window-end days it contributes to via one narrow explode, then one
    (window_day, user) distinct + count — linear ×7, no corpus window.
    Days before the corpus start carry partial windows (disclosed: the
    first 6 rows are ramp-up, exactly like production dashboards).
    Stickiness in exact micros."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    # r15 (duplicate-scan audit tail): dau, the 7-day explode, and the
    # bounds agg each replayed the events scan + (user, day) distinct —
    # 3 scans+distincts in one plan → 1 behind an eager cut of the
    # distinct (user, day) table. No A/B timing was recorded.
    active = cut(ev.select("user_id", day.alias("d")).distinct())
    dau = active.groupBy("d").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    covered = active.select(
        "user_id", F.expr("explode(sequence(d, d + 6))").alias("wd")
    )
    bounds = active.agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    wau = (
        covered.groupBy("wd")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("wd") >= F.col("d_min")) & (F.col("wd") <= F.col("d_max")))
        .select(F.col("wd").alias("d"), "wau")
    )
    return (
        wau.join(dau, "d", "left")
        .select(
            "d",
            F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
            "wau",
            F.expr(
                "(1000000 * coalesce(dau, 0)) div wau"
            ).cast("long").alias("stickiness_micro"),
        )
        .orderBy("d")
    )


ROLLING_WAU_EVENTS_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d
  FROM events
), dau AS (
  SELECT d, count(DISTINCT user_id)::BIGINT AS dau FROM active GROUP BY d
), bounds AS (SELECT min(d) AS d_min, max(d) AS d_max FROM active),
covered AS (
  SELECT user_id, (d + o.off)::BIGINT AS wd
  FROM active, (SELECT range::BIGINT AS off FROM range(0, 7)) o
), wau AS (
  SELECT wd AS d, count(DISTINCT user_id)::BIGINT AS wau
  FROM covered
  WHERE wd >= (SELECT d_min FROM bounds)
    AND wd <= (SELECT d_max FROM bounds)
  GROUP BY wd
)
SELECT w.d, coalesce(x.dau, 0)::BIGINT AS dau, w.wau,
       ((1000000 * coalesce(x.dau, 0)) // w.wau)::BIGINT
         AS stickiness_micro
FROM wau w LEFT JOIN dau x USING (d)
ORDER BY w.d
"""

QUERIES["rolling_wau_events"] = (rolling_wau_events, ROLLING_WAU_EVENTS_SQL)


# --------------------------------------------------------------------------
# Exact MAD (median absolute deviation) per event type
# --------------------------------------------------------------------------
def mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust scale
    estimator (50% breakdown point) that completes the robust family
    next to the IQR fences (robust_scale_events): MAD = median(|x −
    median(x)|), both medians exact (the correctness-anchor tier; at
    100 TB both become approx_percentile, the percentile_lineitem
    disclosure). Values work in exact cents; the deviation median runs
    over |x − med| cent integers so the interpolated midpoint is at
    worst a .5 — frozen by the shared ×100 emission. Also emitted: the
    3.5·MAD outlier count (the Iglewicz-Hoaglin cut), computed with
    integer cross-multiplication (7·|dev| > 2·10·MAD avoids any float
    threshold). Two grouped percentile buffers + one count agg."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )
    # r15 (duplicate-scan audit tail): the final plan replayed the events
    # scan + exact-percentile buffer SIX times (med and mad are broadcast
    # into every consumer subtree, and each broadcast build replayed its
    # whole upstream). Eager cuts of the two |event_type|-row frames pin
    # each percentile pass to run once: 6 events scans → 3 (the three
    # genuinely distinct passes — median, MAD, outlier count).
    # No A/B timing was recorded.
    med = cut(ev.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med_c")
    ))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_c",
        F.abs(F.col("cents") - F.col("med_c")).alias("adev"),
    )
    mad = cut(dev.groupBy("event_type").agg(
        F.max("med_c").alias("med_c"),
        F.expr("percentile(adev, 0.5)").alias("mad_c"),
    ))
    out = (
        dev.select("event_type", "adev")
        .join(F.broadcast(mad.select("event_type", "mad_c")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # |dev| > 3.5/0.6745 * MAD  <=>  6745 * dev > 35000 * MAD
            F.sum(
                (
                    F.lit(6745) * F.col("adev")
                    > F.lit(35000) * F.col("mad_c")
                ).cast("long")
            ).cast("long").alias("n_outliers"),
        )
    )
    return (
        out.join(mad, "event_type")
        .select(
            "event_type",
            "n_rows",
            F.expr("CAST(floor(med_c * 100 + 0.5) AS BIGINT)").alias(
                "median_centi_cents"
            ),
            F.expr("CAST(floor(mad_c * 100 + 0.5) AS BIGINT)").alias(
                "mad_centi_cents"
            ),
            "n_outliers",
        )
        .orderBy("event_type")
    )


MAD_EVENTS_SQL = """
WITH ev AS (
  SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS cents FROM events
), med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med_c
  FROM ev GROUP BY event_type
), dev AS (
  SELECT e.event_type, m.med_c, abs(e.cents - m.med_c) AS adev
  FROM ev e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, max(med_c) AS med_c,
         quantile_cont(adev, 0.5) AS mad_c
  FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*)::BIGINT AS n_rows,
       floor(max(m.med_c) * 100 + 0.5)::BIGINT AS median_centi_cents,
       floor(max(m.mad_c) * 100 + 0.5)::BIGINT AS mad_centi_cents,
       sum((6745 * d.adev > 35000 * m.mad_c)::BIGINT)::BIGINT AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""

QUERIES["mad_events"] = (mad_events, MAD_EVENTS_SQL)


# --------------------------------------------------------------------------
# Data-contract validation battery over documents
# --------------------------------------------------------------------------
def data_contract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation for the documents table — the typed
    upgrade of dq_checks_star_schema's referential battery: per contract
    rule one (rule, n_violations) row, all partial-aggregated, including
    the CROSS-FIELD consistency rule (n_chars must equal length(text))
    that catches the classic stale-derived-column bug no single-column
    profiler sees. Rules: pk unique, pk non-null, lang in its declared
    enum domain, n_chars in (0, 10^6], text non-null, n_chars ==
    length(text). One scan, conditional-count aggregation; violations
    never leave the executors except as per-rule scalars."""
    docs = load_table(spark, sf_dir, "documents")
    langs = "('en','de','fr','es','it','pt','nl','pl','ru','ja','zh','ko','ar','hi','tr','sv','da','fi','no','cs')"
    agg = docs.agg(
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).cast("long").alias(
            "pk_dup"
        ),
        F.sum(F.col("doc_id").isNull().cast("long")).cast("long").alias(
            "pk_null"
        ),
        F.sum(
            (~F.expr(f"lang IN {langs}")).cast("long")
        ).cast("long").alias("lang_enum"),
        F.sum(
            ((F.col("n_chars") <= 0) | (F.col("n_chars") > 1000000)).cast(
                "long"
            )
        ).cast("long").alias("chars_range"),
        F.sum(F.col("text").isNull().cast("long")).cast("long").alias(
            "text_null"
        ),
        F.sum(
            (F.col("n_chars") != F.length("text")).cast("long")
        ).cast("long").alias("chars_consistent"),
    )
    rules = [
        ("doc_id_unique", "pk_dup"),
        ("doc_id_not_null", "pk_null"),
        ("lang_in_enum", "lang_enum"),
        ("n_chars_in_range", "chars_range"),
        ("text_not_null", "text_null"),
        ("n_chars_matches_text_length", "chars_consistent"),
    ]
    sel = ", ".join(
        f"struct('{name}' AS rule, {col} AS n_violations)"
        for name, col in rules
    )
    return (
        agg.select(F.expr(f"explode(array({sel}))").alias("r"))
        .select(
            "r.rule",
            F.col("r.n_violations").cast("long").alias("n_violations"),
        )
        .orderBy("rule")
    )


DATA_CONTRACT_DOCS_SQL = """
WITH agg AS (
  SELECT (count(*) - count(DISTINCT doc_id))::BIGINT AS pk_dup,
         sum((doc_id IS NULL)::BIGINT)::BIGINT AS pk_null,
         sum((lang NOT IN ('en','de','fr','es','it','pt','nl','pl','ru',
              'ja','zh','ko','ar','hi','tr','sv','da','fi','no','cs'))
             ::BIGINT)::BIGINT AS lang_enum,
         sum((n_chars <= 0 OR n_chars > 1000000)::BIGINT)::BIGINT
           AS chars_range,
         sum((text IS NULL)::BIGINT)::BIGINT AS text_null,
         sum((n_chars <> length(text))::BIGINT)::BIGINT AS chars_consistent
  FROM documents
)
SELECT 'doc_id_unique' AS rule, pk_dup AS n_violations FROM agg
UNION ALL SELECT 'doc_id_not_null', pk_null FROM agg
UNION ALL SELECT 'lang_in_enum', lang_enum FROM agg
UNION ALL SELECT 'n_chars_in_range', chars_range FROM agg
UNION ALL SELECT 'text_not_null', text_null FROM agg
UNION ALL SELECT 'n_chars_matches_text_length', chars_consistent FROM agg
ORDER BY rule
"""

QUERIES["data_contract_docs"] = (data_contract_docs, DATA_CONTRACT_DOCS_SQL)


# --------------------------------------------------------------------------
# Int8 serving recall QC (quantized ranking vs exact cosine)
# --------------------------------------------------------------------------
def int8_recall_qc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier QC for the int8 quantization the repo already ships
    (quantize_embeddings): rank by the pure-INTEGER dot product of the
    SQ8 codes and measure recall@10 against the exact cosine ranking —
    the number that decides whether 4× cheaper vectors are allowed to
    serve. The integer dot (≤ 64·127² per pair, no floats anywhere in
    the ranking) is exactly what an int8 SIMD kernel computes; per-vector
    absmax scales mean the quantized ranking is only cosine-like, which
    is precisely the approximation being measured. 3 query vectors,
    top-10 both sides, overlap and recall in exact micros — the
    measured-error discipline of the sketch family applied to the
    quantization tier."""
    from pyspark.sql import Window as W

    from ..functions.vector_functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    xq = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    staged = emb.select(
        "vec_id",
        "embedding",
        (
            F.greatest(
                F.array_max(F.transform(xq, lambda v: F.abs(v))),
                F.lit(1e-12),
            )
            / F.lit(127.0)
        ).alias("_scale"),
    ).select(
        "vec_id",
        "embedding",
        F.transform(
            F.transform(F.col("embedding"), lambda v: v.cast("double")),
            lambda v: F.floor(v / F.col("_scale") + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    staged = cut(staged)
    qside = staged.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("q").alias("qq"),
    )
    pairs = staged.crossJoin(F.broadcast(qside)).filter(
        F.col("vec_id") != F.col("qid")
    )
    int8dot = F.expr(
        "aggregate(zip_with(q, qq, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"
    )
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("doc_id"),
        int8dot.alias("dot_i8"),
        F.round(cosine_similarity(F.col("qv"), F.col("embedding")), 6).alias(
            "cos"
        ),
    )
    w8 = W.partitionBy("qid").orderBy(
        F.col("dot_i8").desc(), F.col("doc_id").asc()
    )
    wex = W.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("doc_id").asc()
    )
    # r14: both rankings ride ONE pass — the top-10∩top-10 join on
    # (qid, doc_id) is exactly "rows where BOTH ranks <= 10", and the two
    # windows share the qid partitioning, so one exchange carries both
    # sorts. Before, the corpus×queries scoring (two 64-dim dot products
    # per pair) computed once PER WINDOW BRANCH plus a join (scoring 2x,
    # 2 exchanges, 1 join -> 1x, 1 exchange, 0 joins). Same rows: scored
    # has one row per (qid, doc_id), so the inner join kept precisely the
    # both-ranks-<=10 rows.
    return (
        scored.withColumn("r8", F.row_number().over(w8))
        .withColumn("rx", F.row_number().over(wex))
        .filter((F.col("r8") <= 10) & (F.col("rx") <= 10))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .select(
            "qid",
            "n_overlap",
            F.expr("(1000000 * n_overlap) div 10").cast("long").alias(
                "recall_micro"
            ),
        )
        .orderBy("qid")
    )


INT8_RECALL_QC_EMBEDDINGS_SQL = """
WITH staged AS (
  SELECT vec_id, embedding,
         list_transform(
           list_transform(embedding, v -> v::DOUBLE),
           v -> floor(v / (greatest(list_max(list_transform(embedding,
                u -> abs(u::DOUBLE))), 1e-12) / 127.0) + 0.5)::BIGINT
         ) AS q
  FROM embeddings
), qside AS (
  SELECT vec_id AS qid, embedding AS qv, q AS qq FROM staged
  WHERE vec_id < 3
), scored AS (
  SELECT s.vec_id AS doc_id, x.qid,
         list_sum(list_transform(generate_series(1, 64),
                  i -> s.q[i] * x.qq[i]))::BIGINT AS dot_i8,
         round(list_cosine_similarity(x.qv::DOUBLE[],
               s.embedding::DOUBLE[]), 6) AS cos
  FROM staged s CROSS JOIN qside x
  WHERE s.vec_id <> x.qid
), top8 AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
             ORDER BY dot_i8 DESC, doc_id ASC) AS r FROM scored
  ) WHERE r <= 10
), topex AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, doc_id ASC) AS r FROM scored
  ) WHERE r <= 10
)
SELECT t.qid, count(*)::BIGINT AS n_overlap,
       ((1000000 * count(*)) // 10)::BIGINT AS recall_micro
FROM top8 t JOIN topex e ON t.qid = e.qid AND t.doc_id = e.doc_id
GROUP BY t.qid
ORDER BY t.qid
"""

QUERIES["int8_recall_qc_embeddings"] = (
    int8_recall_qc_embeddings,
    INT8_RECALL_QC_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# Greedy k-center coreset selection (data pruning for training)
# --------------------------------------------------------------------------
def kcenter_coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the geometric
    backbone of coreset-based data pruning à la Sener-Savarese active
    learning): start from the lowest-id vector, then 3 rounds of 'next
    center = the point FARTHEST from every selected center' (squared-L2,
    ties to the lower id). Greedy k-center is a 2-approximation of the
    optimal cover — the selected 4 points are the corpus's own most
    mutually-distant representatives, and the emitted coverage radius
    after each pick (max over the corpus of min-distance-to-centers,
    micros) is the quantity a pruning budget negotiates against. Each
    round is one narrow literal-distance map + one TakeOrdered argmax
    (one row to the driver per round — the kmeans centroid discipline);
    the oracle unrolls all three rounds in SQL. d² expands via the
    shared left-fold kernels."""
    from .similarity import _sql_dot, _sql_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    xx = (
        "aggregate(zip_with(embedding, embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )

    def d2_expr(c: list) -> str:
        return (
            f"({xx}) - 2.0D * ({_sql_dot('embedding', c)})"
            f" + ({_sql_dot(_sql_double_array(c), c)})"
        )

    first = emb.orderBy("vec_id").limit(1).select("vec_id", "embedding").collect()[0]
    centers = [(int(first["vec_id"]), [float(v) for v in first["embedding"]])]
    out_rows = []
    for rnd in range(4):
        exprs = [d2_expr(c) for _, c in centers]
        mind = exprs[0] if len(exprs) == 1 else f"least({', '.join(exprs)})"
        # the argmax row CARRIES its embedding through the TakeOrdered, so
        # the next center needs no second filtered corpus scan per round
        # (2 driver actions/round -> 1; same row, vec_id is unique)
        scored = emb.select(
            "vec_id", "embedding", F.expr(mind).alias("min_d2")
        )
        far = (
            scored.orderBy(F.col("min_d2").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        radius_micro = int(
            __import__("math").floor(float(far["min_d2"]) * 1e6 + 0.5)
        )
        out_rows.append((rnd, centers[-1][0], radius_micro))
        if rnd < 3:
            centers.append(
                (int(far["vec_id"]), [float(v) for v in far["embedding"]])
            )
    return spark.createDataFrame(
        out_rows, "round int, center_id long, coverage_radius_micro long"
    ).orderBy("round")


KCENTER_CORESET_EMBEDDINGS_SQL = """
WITH c0 AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1
), xd AS (
  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS x
  FROM embeddings
), d0 AS (
  SELECT xd.vec_id,
         list_inner_product(xd.x, xd.x)
         - 2.0 * list_inner_product(xd.x,
             list_transform((SELECT embedding FROM c0), v -> v::DOUBLE))
         + list_inner_product(
             list_transform((SELECT embedding FROM c0), v -> v::DOUBLE),
             list_transform((SELECT embedding FROM c0), v -> v::DOUBLE))
           AS md
  FROM xd
), s1 AS (
  SELECT vec_id, md FROM d0 ORDER BY md DESC, vec_id ASC LIMIT 1
), c1 AS (
  SELECT list_transform(e.embedding, v -> v::DOUBLE) AS cv
  FROM embeddings e JOIN s1 ON e.vec_id = s1.vec_id
), d1 AS (
  SELECT d0.vec_id,
         least(d0.md,
           list_inner_product(xd.x, xd.x)
           - 2.0 * list_inner_product(xd.x, (SELECT cv FROM c1))
           + list_inner_product((SELECT cv FROM c1), (SELECT cv FROM c1))
         ) AS md
  FROM d0 JOIN xd USING (vec_id)
), s2 AS (
  SELECT vec_id, md FROM d1 ORDER BY md DESC, vec_id ASC LIMIT 1
), c2 AS (
  SELECT list_transform(e.embedding, v -> v::DOUBLE) AS cv
  FROM embeddings e JOIN s2 ON e.vec_id = s2.vec_id
), d2_ AS (
  SELECT d1.vec_id,
         least(d1.md,
           list_inner_product(xd.x, xd.x)
           - 2.0 * list_inner_product(xd.x, (SELECT cv FROM c2))
           + list_inner_product((SELECT cv FROM c2), (SELECT cv FROM c2))
         ) AS md
  FROM d1 JOIN xd USING (vec_id)
), s3 AS (
  SELECT vec_id, md FROM d2_ ORDER BY md DESC, vec_id ASC LIMIT 1
), c3 AS (
  SELECT list_transform(e.embedding, v -> v::DOUBLE) AS cv
  FROM embeddings e JOIN s3 ON e.vec_id = s3.vec_id
), d3 AS (
  SELECT d2_.vec_id,
         least(d2_.md,
           list_inner_product(xd.x, xd.x)
           - 2.0 * list_inner_product(xd.x, (SELECT cv FROM c3))
           + list_inner_product((SELECT cv FROM c3), (SELECT cv FROM c3))
         ) AS md
  FROM d2_ JOIN xd USING (vec_id)
)
SELECT 0 AS round, (SELECT vec_id FROM c0)::BIGINT AS center_id,
       (SELECT floor(max(md) * 1e6 + 0.5) FROM d0)::BIGINT
         AS coverage_radius_micro
UNION ALL
SELECT 1, (SELECT vec_id FROM s1)::BIGINT,
       (SELECT floor(max(md) * 1e6 + 0.5) FROM d1)::BIGINT
UNION ALL
SELECT 2, (SELECT vec_id FROM s2)::BIGINT,
       (SELECT floor(max(md) * 1e6 + 0.5) FROM d2_)::BIGINT
UNION ALL
SELECT 3, (SELECT vec_id FROM s3)::BIGINT,
       (SELECT floor(max(md) * 1e6 + 0.5) FROM d3)::BIGINT
ORDER BY round
"""

QUERIES["kcenter_coreset_embeddings"] = (
    kcenter_coreset_embeddings,
    KCENTER_CORESET_EMBEDDINGS_SQL,
)


# --------------------------------------------------------------------------
# Cluster labeling: distinctive terms per k-means cluster
# --------------------------------------------------------------------------
def cluster_keywords_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling — the step that turns an unsupervised clustering
    into something a human can act on: for each trained k-means cluster
    (the same 2-round centroids the IVF lists consume; embeddings align
    1:1 with documents by id in the synthetic fixture, the multimodal
    metadata pattern), the top-3 DISTINCTIVE terms by cluster-TF ×
    corpus-IDF. IDF = ln(N_docs/df) frozen to micros PER TERM before the
    product (the char_entropy ln discipline); score = tf · idf_micro
    stays integer, ranked per cluster with full tie-breaks. Stopword-
    class terms die by IDF, not by list. One assignment map (broadcast
    centroid literals) + one (cluster, term) count agg + one df agg; the
    per-cluster top-3 is a keyed window over the term table."""
    from pyspark.sql import Window as W

    from . import similarity
    from ..functions import tokens

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = similarity.kmeans_centroid_list(
        emb, vec_col="embedding", k=4, n_iter=2, id_col="vec_id"
    )
    assigned = similarity.ivf_assign(
        emb.select("vec_id", "embedding"), cents, vec_col="embedding",
        n_probe=1, list_col="grp",
    ).select("vec_id", "grp")
    # r14: eager cut at the distinct-token stream — it feeds BOTH the
    # corpus-df agg and the per-cluster tf agg, and each branch would
    # otherwise replay the tokenize+explode over the full corpus
    toks = cut(docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    ))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    df_t = toks.groupBy("t").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    tf = (
        toks.join(
            assigned.select(F.col("vec_id").alias("doc_id"), "grp"), "doc_id"
        )
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = (
        tf.join(df_t, "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "grp",
            "t",
            "tf",
            F.expr(
                "CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
                " * 1e6 + 0.5D) AS BIGINT)"
            ).alias("idf_micro"),
        )
        .select(
            "grp",
            "t",
            (F.col("tf") * F.col("idf_micro")).cast("long").alias(
                "score_micro"
            ),
        )
    )
    w = W.partitionBy("grp").orderBy(
        F.col("score_micro").desc(), F.col("t").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select(F.col("grp").cast("int").alias("grp"), "rk",
                F.col("t").alias("term"), "score_micro")
        .orderBy("grp", "rk")
    )


def _cluster_keywords_oracle() -> str:
    return f"""
WITH cents AS (
  SELECT grp, list(centroid_val ORDER BY dim) AS cv
  FROM ({KMEANS_CENTROIDS_EMBEDDINGS_SQL}) km GROUP BY grp
), assigned AS (
  SELECT vec_id, grp FROM (
    SELECT e.vec_id, c.grp,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.embedding::DOUBLE[],
                                         c.cv::DOUBLE[]) DESC,
                      c.grp ASC) AS rk
    FROM embeddings e, cents c
  ) WHERE rk = 1
), toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS t
  FROM documents
), nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
df_t AS (
  SELECT t, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY t
), tf AS (
  SELECT a.grp, x.t, count(*)::BIGINT AS tf
  FROM toks x JOIN assigned a ON a.vec_id = x.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT tf.grp, tf.t,
         (tf.tf * floor(ln((SELECT n_docs FROM nd)::DOUBLE / df::DOUBLE)
                        * 1e6 + 0.5)::BIGINT)::BIGINT AS score_micro
  FROM tf JOIN df_t USING (t)
)
SELECT CAST(grp AS INTEGER) AS grp, CAST(rk AS INTEGER) AS rk, t AS term,
       score_micro
FROM (
  SELECT grp, t, score_micro,
         row_number() OVER (PARTITION BY grp
                            ORDER BY score_micro DESC, t ASC) AS rk
  FROM scored
) WHERE rk <= 3
ORDER BY grp, rk
"""


QUERIES["cluster_keywords_embeddings"] = (
    cluster_keywords_embeddings,
    _cluster_keywords_oracle(),
)


# --------------------------------------------------------------------------
# Stored AllPairs shingle base: the BUILD query (r11, r10 verdict task #4)
# --------------------------------------------------------------------------
def shingle_base_build_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD phase of the stored shingle base (dedup.
    shingle_base_store): run tokenize → 3-shingle → global-df →
    frequency-reorder ONCE over the corpus and commit two member tables
    in one transaction — ``base`` (id, lang, bucket, sset; bucketed by
    id) and ``fpos`` (id, lang, bucket, n, p, s — the FULL positional
    explode in global-frequency-ascending order; bucketed by s). Seven
    consumers probe the snapshot instead of re-deriving it (the
    jaccard-pairs/clusters/two-star/keep-best/review-queue family, the
    containment tier, and the minhash recall QC) — the same build/probe
    amortization as winnow_fingerprint_build_docs, pointed at the most
    recomputed derivation in the repo (~29 s of the 281 s sf0.1 bench
    before r11). ``force=True`` so the bench bills the corpus-scale
    build here, never hides it behind cross-process store reuse.

    Returns a per-(lang, bucket) certification summary READ BACK FROM
    THE STORED SNAPSHOT: row/doc/distinct-shingle counts plus two
    position-sensitive checksums (``sum_p`` and ``poshash`` =
    Σ p·(md5-hash60(s) mod 1000003)) — any misassigned frequency rank,
    dropped element, or reordered tie changes them, so a hash-matching
    oracle (which replays df + row_number ranking in DuckDB) certifies
    the committed positional stream, not a transient recompute."""
    from . import dedup, tableformat
    from ..functions import md5_hash60

    root = dedup.shingle_base_store(spark, sf_dir, k=3, force=True)
    fpos = tableformat.read_atomic(spark, root, "fpos")
    h = md5_hash60(F.col("s")) % F.lit(1000003)
    return (
        fpos.groupBy("lang", F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("s").cast("long").alias("n_distinct_shingles"),
            F.sum("p").cast("long").alias("sum_p"),
            F.sum(F.col("p").cast("long") * h).cast("long").alias("poshash"),
        )
        .orderBy("lang", "bucket")
    )


SHINGLE_BASE_BUILD_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id AS id, lang, (n_chars // 200)::BIGINT AS bucket,
         list_sort(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         ))) AS sset
  FROM (SELECT doc_id, lang, n_chars, {{_SQL_TOKENS_C}} AS toks
        FROM documents)
  WHERE len(toks) >= 3
), ex AS (
  SELECT id, lang, bucket, len(sset) AS n, unnest(sset) AS s FROM base
), dfreq AS (
  SELECT s, count(*) AS df_s FROM ex GROUP BY s
), fpos AS (
  SELECT ex.id, ex.lang, ex.bucket, ex.n,
         row_number() OVER (PARTITION BY ex.id ORDER BY d.df_s, ex.s) AS p,
         ex.s
  FROM ex JOIN dfreq d ON d.s = ex.s
)
SELECT lang, bucket,
       count(DISTINCT id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT s)::BIGINT AS n_distinct_shingles,
       sum(p)::BIGINT AS sum_p,
       sum(p * ({{_SQL_HASH60_S}} % 1000003))::BIGINT AS poshash
FROM fpos
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


def _shingle_base_build_oracle() -> str:
    return SHINGLE_BASE_BUILD_DOCS_SQL.format(
        _SQL_TOKENS_C=_SQL_TOKENS.format(c="text"),
        _SQL_HASH60_S=_SQL_HASH60.format(c="s"),
    )


QUERIES["shingle_base_build_docs"] = (
    shingle_base_build_docs,
    _shingle_base_build_oracle(),
)
