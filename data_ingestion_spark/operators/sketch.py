"""Frequency-sketch operators: Misra-Gries heavy hitters with an exact
verification pass.

Why a sketch when ``ngram_topk`` already does partial-agg + TakeOrdered:
that plan still shuffles ONE ROW PER DISTINCT TOKEN per executor. On a
100 TB web corpus the vocabulary (URLs, hex ids, typos) runs to billions
of distinct keys, so even the partial-agg'd exchange is huge. The
sketch-then-verify pattern bounds executor memory at O(sketch_k) counters
and shuffles only the candidate set:

- **Pass 1 (sketch)**: per-partition Misra-Gries over the token stream in
  Arrow ``mapInPandas`` — the mergeable-summaries form (Agarwal et al.,
  PODS'12): merge a batch's counts, then shrink back to ``sketch_k``
  counters by subtracting the (k+1)-th largest count. Guarantee: any
  token with partition frequency > n_p/sketch_k survives that partition's
  sketch, so any token with GLOBAL frequency > N/sketch_k survives in at
  least one partition (pigeonhole) — candidates are a superset of every
  true heavy hitter.
- **Pass 2 (exact)**: re-scan, explode tokens, broadcast-semi-join against
  the candidate set BEFORE the shuffle (non-candidates never leave the
  scan stage), exact groupBy count, top-k by (freq desc, token asc).

The result is EXACT and partitioning-independent, not approximate: after
pass 2 the operator checks the Misra-Gries support guarantee
(k-th frequency > N_tokens/sketch_k). If a pathologically flat
distribution breaks it, the operator falls back to the plain exact
aggregation — correctness never depends on the sketch, only the shuffle
size does.

Reference parity: the reference (/root/reference/src/ingestion_service.rs)
has no analytics surface at all — this is a §2.5 scale extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tokens
from ..session import cut


def _mg_merge_shrink(counters: dict, batch_counts: dict, k: int) -> dict:
    """Mergeable Misra-Gries: absorb ``batch_counts`` then shrink to ≤ k
    counters by subtracting the (k+1)-th largest value from all (zeros
    drop). Total undercount stays ≤ N/k across any merge tree."""
    for t, c in batch_counts.items():
        counters[t] = counters.get(t, 0) + int(c)
    if len(counters) > k:
        vals = sorted(counters.values(), reverse=True)
        cut = vals[k]  # (k+1)-th largest
        counters = {t: c - cut for t, c in counters.items() if c > cut}
    return counters


def mg_candidates(
    df: DataFrame, text_col: str, sketch_k: int
) -> DataFrame:
    """Pass 1: one candidate-token row set per partition (≤ sketch_k rows
    each), memory bounded at O(sketch_k) regardless of vocabulary size.

    Tokenization happens JVM-side with the SAME ``tokens()`` expression as
    the exact pass — the sketch must see the identical token stream, or a
    heavy hitter could be missed without tripping the support guardrail.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("token", StringType())])
    toks = df.select(tokens(F.col(text_col)).alias("toks"))

    def _run(batches):
        from collections import Counter

        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            batch: Counter = Counter()
            for lst in pdf["toks"]:
                if lst is not None:
                    batch.update(lst)
            counters = _mg_merge_shrink(counters, batch, sketch_k)
        yield pd.DataFrame({"token": list(counters)})

    return toks.mapInPandas(_run, schema).distinct()


def heavy_hitters(
    df: DataFrame,
    text_col: str,
    k_top: int,
    sketch_k: int = 256,
) -> DataFrame:
    """Exact top-``k_top`` tokens by frequency via sketch-then-verify (see
    module docstring). Returns (token, freq) ordered by (freq desc,
    token asc), always equal to the plain exact aggregation's answer."""
    spark = df.sparkSession
    tok_stream = df.select(F.explode(tokens(F.col(text_col))).alias("token"))

    candidates = mg_candidates(df, text_col, sketch_k)
    counted = (
        tok_stream.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counted.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(
        k_top
    )
    rows = top.collect()
    # total token count via sum(size(tokens)) — a narrow scalar agg, no
    # explode/shuffle (the support check must not cost a corpus pass)
    n_tokens = (
        df.select(F.sum(F.size(tokens(F.col(text_col)))).alias("n")).first()["n"]
        or 0
    )
    if n_tokens == 0:
        return spark.createDataFrame([], "token string, freq long")
    support = n_tokens / sketch_k
    if len(rows) < k_top or rows[-1]["freq"] <= support:
        # MG support guarantee broken (near-flat distribution collapses
        # the sketch — possibly to nothing) or fewer candidates than k:
        # fall back to the exact full agg so the answer never depends on
        # the sketch.
        top = (
            tok_stream.groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("token").asc())
            .limit(k_top)
        )
        rows = top.collect()
    return spark.createDataFrame(rows or [], "token string, freq long")


# --------------------------------------------------------------------------
# KMV (bottom-k / theta-style) distinct-value sketch with set algebra
# --------------------------------------------------------------------------
def kmv_bottom_k(df: DataFrame, hash_col: str, k: int) -> DataFrame:
    """The KMV sketch of a hashed distinct-value stream: its ``k`` smallest
    hash values (Beyer, Haas, Reinwald, Sismanis & Gemulla, SIGMOD'07 —
    "On synopses for distinct-value estimation under multiset operations";
    the same bottom-k form underlies the theta sketch of Dasgupta et al.).

    ``df`` must already be DISTINCT on ``hash_col`` (one row per set
    element). ``orderBy().limit(k)`` compiles to TakeOrderedAndProject —
    each partition keeps its own k smallest, only k·n_partitions values
    reach the driver-side merge, never the full set. Unlike HLL, the
    sketch content is plain integers from a cross-engine hash
    (md5_hash60), so an ANSI-SQL oracle replays the ESTIMATE itself
    bit-for-bit — estimates become hash-checkable, not just bounded."""
    return df.select(F.col(hash_col).alias("h")).orderBy("h").limit(k)


def kmv_union_stats(bottom_k_union: DataFrame, k: int) -> DataFrame:
    """One row (theta, nk, union_est) from a union KMV sketch.

    theta = k-th smallest hash (the sketch boundary); nk = sketch fill.
    When nk < k the whole set fits in the sketch and the estimate IS the
    exact count; otherwise est = (k-1) / (theta / 2^60) — the unbiased
    KMV estimator over the [0, 2^60) hash domain. The arithmetic uses one
    fixed parenthesization over exact-integer inputs so Spark and an SQL
    oracle produce the identical IEEE double, floored to a BIGINT."""
    two60 = 1152921504606846976.0  # 2^60, exact in double
    return bottom_k_union.agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("nk")
    ).select(
        "theta",
        "nk",
        F.when(F.col("nk") < k, F.col("nk").cast("double"))
        .otherwise(
            F.floor(
                (F.lit(float(k - 1)) * F.lit(two60))
                / F.col("theta").cast("double")
            ).cast("double")
        )
        .cast("long")
        .alias("union_est"),
    )


# --------------------------------------------------------------------------
# Count-Min sketch (point-frequency estimates)
# --------------------------------------------------------------------------
def cms_table(
    df: DataFrame,
    text_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch of the token stream as a (row, col, cnt) table
    (Cormode & Muthukrishnan, J.Alg 2005): row i counts tokens at column
    md5_hash60(i || token) mod width.

    Complements Misra-Gries: MG answers "which tokens are heavy", CMS
    answers "how often does THIS token occur" for any token, in
    depth·width bounded space. Built as one explode + one aggregation
    whose key space is depth·width (4096 cells here) — map-side combine
    collapses the corpus before the shuffle regardless of vocabulary
    size. The md5 hash family makes every cell (and so every estimate)
    replayable in ANSI SQL — the sketch is value-checked, not just
    bounded."""
    from ..functions import md5_hash60, tokens

    # r14 cut the raw one-row-per-token stream so the ``depth`` union
    # branches stop re-tokenizing (the branches stay separate so they
    # keep running concurrently; folding them into one explode was
    # measured-and-REJECTED for serializing). r15: the cut moves to the
    # VOCAB-SCALE (token, count) table — cell values are identical
    # (count of occurrences ≡ sum of per-token counts), the pinned
    # executor-local footprint drops from corpus-scale to |vocab| (the
    # r14 ADVICE executor-loss/footprint finding), and each branch now
    # hashes |vocab| rows instead of every token occurrence.
    tok = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok = cut(tok)
    rows = [
        tok.select(
            F.lit(i).alias("row"),
            (md5_hash60(F.concat(F.lit(str(i)), F.col("t"))) % width).alias(
                "col"
            ),
            "c",
        )
        for i in range(depth)
    ]
    stream = rows[0]
    for r in rows[1:]:
        stream = stream.unionByName(r)
    return stream.groupBy("row", "col").agg(F.sum("c").alias("cnt"))


def cms_estimate(
    sketch_df: DataFrame,
    df: DataFrame,
    text_col: str,
    probes: list,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` from a CMS table, next to
    the exact counts (the checked contract: CMS NEVER underestimates, and
    the overestimate is disclosed per probe; at 100 TB only the sketch
    side runs). Probe lookups are a |probes|·depth-row join against the
    4096-cell sketch — metadata-scale."""
    from ..functions import md5_hash60, tokens

    spark = df.sparkSession
    probe_df = spark.createDataFrame([(p,) for p in probes], "token string")
    cells = probe_df.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (
                            md5_hash60(F.concat(F.lit(str(i)), F.col("token")))
                            % width
                        ).alias("col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("token", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    est = (
        cells.join(sketch_df, ["row", "col"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )
    exact = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .join(probe_df.withColumnRenamed("token", "t"), "t", "left_semi")
        .groupBy(F.col("t").alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        probe_df.join(est, "token", "left")
        .join(exact, "token", "left")
        .select(
            "token",
            F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"),
            F.coalesce("cms_est", F.lit(0)).alias("cms_est"),
            (
                F.coalesce("cms_est", F.lit(0))
                - F.coalesce("exact_cnt", F.lit(0))
            ).alias("overestimate"),
            (
                F.coalesce("cms_est", F.lit(0))
                >= F.coalesce("exact_cnt", F.lit(0))
            ).alias("never_underestimates"),
        )
        .orderBy("token")
    )
