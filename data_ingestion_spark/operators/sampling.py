"""Deterministic sampling / quota operators for corpus construction.

Training-data pipelines need REPRODUCIBLE sampling: `df.sample()` is
seed+partitioning dependent (a repartition changes the sample), which makes
runs impossible to diff. These operators derive keep/drop decisions from a
content hash instead — the same row is kept in every run, on any cluster
layout, and the decision is re-derivable by any engine (the DuckDB oracles
replay it exactly).

Scale shape: hash_sample is a narrow per-row filter fused into the scan
stage (no shuffle, no sort); cap_per_key is one shuffle on the quota key +
a per-partition rank cut — rows beyond the cap never leave the executor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text_functions import md5_hash60
from ..session import cut


def hash_sample(
    df: DataFrame, key_col: Column | str, percent: int, modulus: int = 100
) -> Column | DataFrame:
    """Keep rows whose md5-derived 60-bit key hash lands in
    ``[0, percent)`` mod ``modulus`` — a deterministic ``percent/modulus``
    sample, stable across runs, partitionings, and engines.

    ``key_col`` is cast to string before hashing so integer ids hash
    identically everywhere (DuckDB twin:
    ``('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT % modulus``).
    """
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return df.filter(md5_hash60(c.cast("string")) % modulus < percent)


def cap_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[Column], cap: int
) -> DataFrame:
    """Quota enforcement: keep at most ``cap`` rows per key, chosen by the
    deterministic ``order_cols`` ranking (e.g. best-quality-first, or id for
    pure reproducibility). The per-domain/per-source cap every corpus
    pipeline applies so one crawl host can't dominate the mix.

    One shuffle on ``key_cols``; the row_number cut happens inside the
    window stage so only ``cap`` rows per key survive it.
    """
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
    )


def weighted_mix(
    df: DataFrame,
    key_col: str,
    source_col: str,
    weights: dict[str, int],
    modulus: int = 100,
) -> DataFrame:
    """Per-source sampling rates in one pass: keep a row iff its
    deterministic key hash lands under its source's rate (percent of
    ``modulus``). Sources absent from ``weights`` are dropped (rate 0).

    This is corpus mixing — upsample wiki, downsample crawl — as a single
    narrow filter: no shuffle, no per-source scans, stable across runs, and
    exactly replayable in SQL (CASE on source + the same md5 hash).
    """
    c = F.col(key_col)
    rate = F.lit(None).cast("int")
    for src, pct in sorted(weights.items()):
        rate = F.when(F.col(source_col) == src, F.lit(pct)).otherwise(rate)
    return df.filter(
        md5_hash60(c.cast("string")) % modulus < F.coalesce(rate, F.lit(0))
    )


def assign_splits(
    df: DataFrame,
    key_col: str,
    splits: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10)),
    modulus: int = 100,
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash: the dataset-split
    pass of every training pipeline, as a pure narrow projection.

    Each row's md5-derived 60-bit hash mod ``modulus`` picks a bucket;
    consecutive ranges of buckets map to splits in the order given (sizes
    are percents of ``modulus`` and must sum to it). Hash-based assignment
    means a document keeps its split across reruns, repartitions, engines,
    and corpus growth — appending new documents never migrates old ones
    between splits (the property seed-based randomSplit lacks).

    Adds (bucket, split) to the input's columns; zero shuffles.
    """
    sizes = [pct for _, pct in splits]
    if sum(sizes) != modulus:
        raise ValueError(f"split sizes {sizes} must sum to modulus={modulus}")
    bucket = md5_hash60(F.col(key_col).cast("string")) % modulus
    edges = []
    acc = 0
    for name, pct in splits:
        acc += pct
        edges.append((name, acc))
    # last split is the fallthrough; earlier ranges win via when() built
    # highest-edge-first so the lowest matching upper bound lands on top
    expr = F.lit(splits[-1][0])
    for name, upper in reversed(edges[:-1]):
        expr = F.when(bucket < upper, F.lit(name)).otherwise(expr)
    return df.select("*", bucket.alias("bucket"), expr.alias("split"))


def batch_by_length(
    df: DataFrame,
    id_col: str,
    n_tokens_col,
    bucket_width: int = 32,
    batch_size: int = 16,
) -> DataFrame:
    """Length-bucketed batch planning: group sequences of similar token
    length into fixed-size batches and report the padding each batch
    wastes — the batching stage of any padded-training data loader
    (bucketing by length is what keeps pad-token FLOPs low).

    Deterministic rule: bucket = n_tokens div bucket_width; within a
    bucket, order by (n_tokens DESC, id) and cut every ``batch_size`` rows.
    padding_waste = n_docs·max_tokens − sum_tokens (pad slots per batch).

    Scale shape: one window partitioned BY BUCKET (never global — buckets
    sort independently, and at 100 TB you'd add a shard key to the
    partition clause exactly like pack_sequences does), then a
    (bucket, batch) aggregate. All keys and measures are ints.

    Output: (bucket, batch_idx, n_docs, max_tokens, sum_tokens,
    padding_waste).
    """
    from pyspark.sql import Window as W

    rows = df.select(
        F.col(id_col).alias("id"), n_tokens_col.cast("long").alias("nt")
    ).withColumn("bucket", F.expr("nt div {}".format(bucket_width)))
    w = W.partitionBy("bucket").orderBy(F.col("nt").desc(), F.col("id").asc())
    batched = rows.withColumn(
        "batch_idx",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )
    return (
        batched.groupBy("bucket", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("nt").alias("max_tokens"),
            F.sum("nt").alias("sum_tokens"),
            (F.count(F.lit(1)) * F.max("nt") - F.sum("nt")).alias("padding_waste"),
        )
    )


def stratified_splits(
    df: DataFrame,
    group_col: str,
    key_col: str,
    splits: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10)),
    modulus: int = 100,
) -> DataFrame:
    """EXACT stratified train/val/test split: within every group (language,
    source, domain…) the split fractions hold to ±1 row, not just in
    expectation — the guarantee ``assign_splits``'s pure hash bucketing
    can't give small groups (a 12-doc language can easily land 12/0/0 by
    hash luck, starving eval).

    Mechanism: rows are ranked INSIDE their group by (hash, key) — a
    deterministic, engine-replayable shuffle order — and consecutive rank
    ranges map to splits via integer cuts rn ≤ (n·pct_cum)/modulus (floor
    division, so the SQL twin lands on identical boundaries). Appending
    rows CAN migrate earlier rows between splits (ranks shift) — that is
    the price of exactness; use assign_splits when append-stability
    matters more than per-group precision (both are exposed).

    Scale shape: one shuffle on the group key (the ranking window) — group
    counts ride the same window, no second pass. Adds (split) to the
    input's columns.
    """
    from pyspark.sql import Window as W

    sizes = [pct for _, pct in splits]
    if sum(sizes) != modulus:
        raise ValueError(f"split sizes {sizes} must sum to modulus={modulus}")
    h = md5_hash60(F.col(key_col).cast("string"))
    wrank = W.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    wall = W.partitionBy(group_col)
    rn = F.row_number().over(wrank).cast("long")
    n = F.count(F.lit(1)).over(wall).cast("long")
    acc = 0
    expr = None
    cases = []
    for name, pct in splits[:-1]:
        acc += pct
        cases.append((rn <= (n * acc) / F.lit(modulus), name))
    expr = F.lit(splits[-1][0])
    for cond, name in reversed(cases):
        expr = F.when(cond, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def balanced_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n_shards: int,
    bucket_width: int,
) -> DataFrame:
    """Assign rows to ``n_shards`` training shards with near-equal total
    weight (token counts) WITHOUT a global sort: rows are bucketed by
    ``weight div bucket_width`` (a narrow projection), ranked INSIDE each
    bucket (window partitioned by bucket — parallel across buckets, never
    a single-partition global window), and dealt round-robin with a
    per-bucket phase offset so every bucket's largest rows don't all land
    on shard 0:  ``shard = (rank - 1 + bucket) % n_shards``.

    Balance bound: within a bucket, any two shards differ by at most one
    row whose weight < bucket's upper edge, so across-shard total-weight
    spread ≤ n_buckets × bucket_width — a constant independent of corpus
    size. The greedy/LPT bin-packing this approximates needs a sequential
    pass; this form is deterministic, one bucket-key shuffle, and
    replayable in any SQL engine (the oracle replays the exact window).

    Adds ``shard`` (0..n_shards-1); ties rank by ``id_col`` for
    determinism.
    """
    bucket = (F.col(weight_col) / F.lit(bucket_width)).cast("long")
    w = W.partitionBy(bucket).orderBy(
        F.col(weight_col).desc(), F.col(id_col).asc()
    )
    shard = (F.row_number().over(w) - 1 + bucket) % n_shards
    return df.withColumn("shard", shard.cast("int"))


def temperature_sample_rates(
    counts: dict, target_total: int, modulus: int = 10000
) -> dict:
    """Per-group keep rates (integer basis points) for temperature-based
    corpus mixing at α = 0.5 (mT5/XLM-R style: sample probability ∝
    n_g^α, upweighting low-resource groups): rate_g = target ·
    isqrt(n_g) / (Σ isqrt · n_g), ALL integer arithmetic — isqrt =
    floor(sqrt) of an integer is engine-exact (IEEE sqrt is correctly
    rounded), so any SQL engine replays the rates bit-for-bit. Arbitrary
    α keeps the same shape with driver-computed rates. Rates cap at
    ``modulus`` (keep-all)."""
    import math

    isq = {g: math.isqrt(int(n)) for g, n in counts.items()}
    denom = sum(isq.values())
    rates = {}
    for g, n in counts.items():
        if n <= 0 or denom == 0:
            rates[g] = 0
            continue
        rates[g] = min(modulus, (int(target_total) * isq[g] * modulus) // (denom * int(n)))
    # Monotone envelope (running min over groups in ascending-n order):
    # isqrt(n)/n is NOT monotone in n (isqrt(3)/3 = 1/3 < 2/4 =
    # isqrt(4)/4), so a LARGER group could draw a higher rate than a
    # smaller one — violating the α<1 upweighting contract. Repairing
    # DOWNWARD (clamp each group to the min rate of all smaller-or-equal
    # groups) can only lower rates, so the expected-take budget bound is
    # preserved; repairing upward would not be (the floored denominator
    # makes true rates overshoot the budget). Replayed in SQL as
    # min(rate) OVER (ORDER BY n ASC).
    best = modulus
    for g in sorted(counts, key=lambda k: (int(counts[k]), str(k))):
        if counts[g] > 0:
            best = min(best, rates[g])
            rates[g] = best
    return rates


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    target_total: int,
    modulus: int = 10000,
) -> DataFrame:
    """α=0.5 temperature sampling: one count agg (≤ #groups rows to the
    driver), rates via ``temperature_sample_rates``, then the repo's
    deterministic hash gate (md5-60bit of the id, so the SAME rows are
    kept on any cluster layout / rerun — reproducible training mixes).
    Adds ``keep_rate_bp`` and ``sampled`` columns; zero shuffles beyond
    the count agg, the gate fuses into the scan."""
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = temperature_sample_rates(counts, target_total, modulus)
    rate = F.lit(0)
    for g, bp in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(bp)).otherwise(rate)
    keep = (md5_hash60(F.col(id_col).cast("string")) % modulus) < rate
    return df.withColumn("keep_rate_bp", rate.cast("long")).withColumn(
        "sampled", keep
    )


def assign_contiguous_ids(
    df: DataFrame,
    order_cols: list,
    id_col: str = "row_id",
    n_buckets: int = 64,
) -> DataFrame:
    """0-based CONTIGUOUS ids in ``order_cols`` order — the training-data
    primitive behind sample manifests, sequence packing, and resumable
    shard layouts ("row 3,172,884,101 of the corpus") — WITHOUT the
    single-partition global sort that ``row_number() OVER (ORDER BY …)``
    costs at corpus scale.

    Distributed prefix-sum (the same shape as the zipf rank rewrite,
    generalized): bucket rows by a MONOTONE pure function of the leading
    order column (approxQuantile cuts → a CASE chain of ``x > cut``
    comparisons), count per bucket (≤ ``n_buckets`` rows of driver
    metadata), broadcast the bucket-offset prefix sums back, and
    row_number WITHIN each bucket. Monotone + pure means equal keys can
    never straddle a bucket boundary, so the result is independent of
    where the (approximate!) cuts landed — cut skew costs balance, never
    correctness. One shuffle on the bucket key, one tiny agg; every sort
    is per-bucket.

    Requirements: ``order_cols[0]`` numeric and non-null (use a hash
    column for arbitrary keys); the full ``order_cols`` tuple must be a
    total order (unique) for the ids to be deterministic — append a
    unique id column as the tie-break. Size ``n_buckets`` to the
    cluster's parallelism.
    """
    first = order_cols[0]
    # r14: eager cut of the (already key-projected) input — the quantile
    # probe, the per-bucket count, and the final ranked plan are THREE
    # full passes that would each replay the source scan + key derivation
    # (shuffle_ids' md5 ran 3x). The callers pass metadata-scale (id, key)
    # projections, so the checkpoint is bounded. Cuts computed from the
    # materialized blocks are identical to cuts from the source: same
    # rows, same approxQuantile sketch.
    df = cut(df)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # n_buckets=1 -> no cuts, one bucket (approxQuantile rejects an empty
    # probability list)
    cuts = (
        df.stat.approxQuantile(first, qs, 0.01) if qs else []
    )  # bounded driver metadata
    bucket = F.lit(0)
    for c in sorted(set(cuts)):
        bucket = bucket + (F.col(first) > F.lit(float(c))).cast("int")
    d = df.withColumn("_bkt", bucket)
    counts = {
        r["_bkt"]: r["n"]
        for r in d.groupBy("_bkt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(int(b), int(o)) for b, o in offsets.items()], "_bkt int, _off long"
    )
    w = W.partitionBy("_bkt").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        d.join(F.broadcast(off_df), "_bkt")
        .withColumn(id_col, (F.col("_off") + F.row_number().over(w) - 1).cast("long"))
        .drop("_bkt", "_off")
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """Per-document DSIR importance log-weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score every
    raw document by how target-like its hashed n-gram profile is, so a
    100 TB crawl can be resampled toward a small high-quality target
    domain without training a classifier.

    Features are word uni+bigrams hashed into ``n_buckets`` buckets
    (hashing fixes the feature space regardless of vocabulary size — the
    whole point at web scale). Bucket unigram models with add-one
    smoothing over target vs raw:

        lw(d) = sum_{g in grams(d)} ln p_target(b(g)) - ln p_raw(b(g))

    Exactness: the per-bucket log-ratio is micro-rounded to an integer
    once (``term_micro``), and per-document weights are integer dot
    products ``sum(count_b * term_micro_b)`` — order-free, so the result
    is shuffle-deterministic and oracle-replayable.

    Dataflow: one explode → (id, bucket) counts (narrow-key shuffle) →
    a ``n_buckets``-row stats table joined back via broadcast → one
    integer agg per document. No pass ever shuffles document text.
    Documents with zero tokens produce no grams and are excluded.

    Returns (id_col, is_target, n_grams, weight_micro), one row per
    document with ≥1 token.
    """
    from ..functions.text_functions import tokens, word_shingles

    base = df.select(
        F.col(id_col),
        is_target.alias("is_target"),
        tokens(F.col(text_col)).alias("toks"),
    ).filter(F.size("toks") >= 1)
    grams = base.select(
        id_col,
        "is_target",
        F.explode(
            F.concat(F.col("toks"), word_shingles(F.col("toks"), 2))
        ).alias("g"),
    )
    # r14: eager cut at the (doc, bucket, count) table — the bucket
    # log-ratio chain and the final per-doc dot product would each replay
    # the corpus tokenize+shingle+explode otherwise
    doc_b = cut(
        grams.groupBy(
            id_col, "is_target", F.pmod(md5_hash60(F.col("g")), n_buckets).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bs = doc_b.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias("ct"),
    )
    tot = bs.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log((F.col("ct") + 1) / (F.col("nt") + F.lit(n_buckets)))
                - F.log((F.col("cr") + 1) / (F.col("nr") + F.lit(n_buckets)))
            )
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("term_micro"),
    )
    return (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy(id_col, "is_target")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("term_micro")).cast("long").alias("weight_micro"),
        )
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement via exponential
    keys (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    reservoir"): each row gets key = ln(u)/w with u uniform in (0,1]; the
    k LARGEST keys are a weight-proportional sample. The standard way to
    draw a DSIR/importance-weighted training subset from a 100 TB corpus
    in ONE distributed pass: no sequential reservoir, no per-partition
    state — just a top-k, which Spark executes as TakeOrderedAndProject
    (per-partition heaps + driver merge, never a global sort).

    Determinism/oracle parity: u derives from the portable md5 hash of
    the id ((h+1)/2^60, never 0), and keys are micro-rounded BEFORE the
    cut with id as the tie-break, so the selected SET is identical across
    engines instead of hinging on float ulps at the boundary.

    Rows with weight <= 0 are excluded (zero-weight rows must never be
    sampled; ln(u)/w flips sign there).
    """
    u = (md5_hash60(F.col(id_col).cast("string")) + 1) / F.lit(float(1 << 60))
    key = F.floor(F.log(u) / weight * 1e6 + 0.5).cast("long")
    return (
        df.filter(weight > 0)
        .select(
            F.col(id_col),
            weight.alias("weight"),
            key.alias("key_micro"),
        )
        .orderBy(F.col("key_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str,
    size_col: str,
    budget: int,
    epochs: int = 1,
) -> DataFrame:
    """Budget-capped uniform mixture allocation (the UniMax scheme,
    Chung et al. 2023): split a total training budget as evenly as
    possible across sources, capping each source at ``epochs`` passes
    over its available data and waterfilling the surplus into the
    larger sources.

    Closed form, all integer arithmetic (exact oracle parity): order
    sources by cap = epochs * size ascending (group name tie-break);
    source at rank j (of k) is CAPPED iff

        cap_j * (k - j + 1) <= budget - prefix_cap_{j-1}

    (its cap is at most the even share of what's left — the capped set
    is prefix-closed, the standard waterfilling pivot); every uncapped
    source gets the integer waterline
    floor((budget - sum of capped caps) / n_uncapped). The waterline is
    <= every uncapped cap by the pivot condition, and the divisor floor
    under-allocates by at most n_uncapped - 1 units (documented, never
    redistributed — determinism beats exactness-to-the-last-token).

    The allocator runs on the AGGREGATED groups table (|sources| rows),
    so its single-partition windows are bounded by group cardinality,
    never corpus size — the per-row work at 100 TB is only the groupBy
    feeding it.

    Returns (group_col, avail, cap, alloc, capped) ordered by group.
    """
    from pyspark.sql import Window as W

    sizes = df.groupBy(group_col).agg(F.sum(size_col).cast("long").alias("avail"))
    cap = (F.col("avail") * epochs).cast("long")
    w = W.orderBy(F.col("cap").asc(), F.col(group_col).asc())
    ranked = (
        sizes.withColumn("cap", cap)
        .withColumn("j", F.row_number().over(w))
        .withColumn("k", F.count(F.lit(1)).over(W.partitionBy()))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("cap").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
            ),
        )
        .withColumn(
            "capped",
            F.col("cap") * (F.col("k") - F.col("j") + 1)
            <= F.lit(int(budget)) - F.col("prefix"),
        )
    )
    totals = ranked.agg(
        F.sum(F.when(F.col("capped"), F.col("cap")).otherwise(0)).alias("capped_sum"),
        F.sum(F.when(F.col("capped"), 0).otherwise(1)).alias("n_uncapped"),
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            "avail",
            "cap",
            F.when(F.col("capped"), F.col("cap"))
            .otherwise(
                F.floor(
                    (F.lit(int(budget)) - F.col("capped_sum")) / F.col("n_uncapped")
                ).cast("long")
            )
            .alias("alloc"),
            "capped",
        )
        .orderBy(group_col)
    )


def neyman_allocation(
    df: DataFrame, stratum_col: str, value_col: str, budget: int
) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934) of a fixed QC-sampling
    budget across strata: n_h ∝ N_h·S_h — the minimum-variance way to
    spend a fixed number of human-review slots across heterogeneous
    strata (a big low-variance stratum needs FEWER samples than a small
    chaotic one; proportional allocation wastes budget on the former).
    The third member of the allocation family: UniMax caps by budget,
    temperature reweights by power, Neyman spends by variance.

    Exactness: values micro-round to integers first, so Σv and Σv² are
    EXACT (Σv² in DECIMAL(38,0) — v²·rows overflows int64); the std then
    computes in doubles from identical integer inputs with an identical
    operation sequence on both engines, and IEEE sqrt is correctly
    rounded — bit-identical cross-engine. Weights micro-round back to
    integers before the largest-remainder (Hamilton) apportionment:
    floor quotas + remainders ranked (remainder desc, stratum asc), so
    Σ alloc == budget EXACTLY and every step is integer-replayable.

    Scale shape: one partial-agg'd moments pass (the only corpus-sized
    stage) to a |strata|-row table; windows run on that metadata table.
    Returns (stratum, n_rows, std_micro, alloc), Σ alloc = budget.
    """
    vm = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("long")
    per = (
        df.select(F.col(stratum_col).alias("stratum"), vm.alias("vm"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("vm").cast("long").alias("_s1"),
            F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).alias("_s2"),
        )
    )
    std = F.expr(
        "CASE WHEN n_rows < 2 THEN 0.0 ELSE"
        " sqrt((CAST(_s2 AS DOUBLE) - (CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE))"
        "       / CAST(n_rows AS DOUBLE)) / (CAST(n_rows AS DOUBLE) - 1.0)) END"
    )
    weighted = per.select(
        "stratum",
        "n_rows",
        F.floor(std + F.lit(0.5)).cast("long").alias("std_micro"),
        F.floor(F.col("n_rows") * std + F.lit(0.5)).cast("long").alias("_w"),
    )
    wall = W.partitionBy()
    # degenerate fallback: if EVERY stratum has zero variance there is no
    # Neyman signal — fall back to proportional-to-size weights so the
    # Σ alloc == budget invariant still holds
    quotas = weighted.select(
        "stratum",
        "n_rows",
        "std_micro",
        F.when(F.sum("_w").over(wall) == 0, F.col("n_rows"))
        .otherwise(F.col("_w"))
        .alias("_w2"),
    ).select(
        "stratum",
        "n_rows",
        "std_micro",
        F.sum("_w2").over(wall).alias("_wsum"),
        F.col("_w2"),
    ).select(
        "stratum",
        "n_rows",
        "std_micro",
        F.expr(f"CASE WHEN _wsum = 0 THEN 0 ELSE ({budget} * _w2) div _wsum END")
        .cast("long")
        .alias("_base"),
        F.expr(f"CASE WHEN _wsum = 0 THEN 0 ELSE ({budget} * _w2) % _wsum END")
        .cast("long")
        .alias("_rem"),
    )
    give = F.lit(budget) - F.sum("_base").over(wall)
    rk = F.row_number().over(
        W.orderBy(F.col("_rem").desc(), F.col("stratum").asc())
    )
    return (
        quotas.select(
            "stratum",
            "n_rows",
            "std_micro",
            "_base",
            give.alias("_give"),
            rk.alias("_rk"),
        )
        .select(
            "stratum",
            "n_rows",
            "std_micro",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_give"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("stratum")
    )
