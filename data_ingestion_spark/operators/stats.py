"""Distributional quality-control operators: per-key z-score anomaly
flagging.

In a training-data pipeline this is the metrics-sanity stage: flag events
(or per-document metrics) that sit far outside their entity's own
distribution — spam bursts, scraper loops, corrupted values — before they
skew downstream mixing weights.

Reference parity note: the reference (/root/reference/src) has no
statistics layer; this is a §2.5 extension designed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut


def zscore_outliers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Rows whose value is more than ``threshold`` population standard
    deviations from their key-group mean.

    Scale shape: one micro-quantization narrow map, one per-key aggregate
    [the only shuffle — partial-agg'd, key cardinality = #groups], one
    broadcast-able join of group stats back onto the rows (AQE picks
    broadcast when #groups is small; at 100 TB with high-cardinality keys
    it degrades gracefully to a co-partitioned shuffle join that REUSES
    the aggregate's hash partitioning — no extra exchange on the big
    side).

    Value parity (repo rule #1 — never order-dependent double sums):
    values are quantized to integer micro-units FIRST
    (floor(v·1e6 + 0.5)::BIGINT — an engine-exact double op), then the
    group sums are exact integer/DECIMAL(38,0) sums, so mean/variance
    derive from identical integers in both engines; the z expression is a
    fixed-order double computation on those integers. Σv fits BIGINT to
    ~9e12 rows·values; Σv² is summed as DECIMAL(38,0) (per-row square ≤
    ~1e17 fits BIGINT, the sum would not).

    Output: (id, key, value_micro, z_milli) for |z| > threshold, where
    z_milli = floor(z·1000 + 0.5).
    """
    vm = F.floor(F.col(value_col).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    rows = df.select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key"), vm.alias("vm")
    )
    stats = rows.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("s1"),
        F.sum((F.col("vm") * F.col("vm")).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("vm").cast("double") - mean) / sigma
    return (
        rows.join(stats, "key")
        .filter((F.col("n") > 1) & (sigma > F.lit(0.0)))
        .filter(F.abs(z) > F.lit(float(threshold)))
        .select(
            "id",
            "key",
            F.col("vm").alias("value_micro"),
            F.floor(z * F.lit(1000.0) + F.lit(0.5)).cast("long").alias("z_milli"),
        )
    )


def join_cardinality(a, b, key_cols) -> "DataFrame":
    """Pre-flight join-cardinality check: the EXACT output row count of
    ``a ⋈ b`` on ``key_cols`` computed WITHOUT running the join —
    Σ_key (count_a(key) · count_b(key)) over the two per-key count
    aggregates. At 100 TB this is the guardrail that catches an
    accidental many-to-many explosion (a fact-fact join on a low-card
    key can emit 10^15 rows) while the inputs are still two cheap
    partial-agg'd counts; production runs it on a hash-sample or a CMS
    sketch of the keys — the algebra is identical, only the counts
    become estimates.

    Returns one row: (est_join_rows, n_join_keys, max_key_fanout).
    """
    from pyspark.sql import functions as F

    keys = list(key_cols)
    ca = a.groupBy(*keys).agg(F.count(F.lit(1)).alias("_na"))
    cb = b.groupBy(*keys).agg(F.count(F.lit(1)).alias("_nb"))
    j = ca.join(cb, keys)
    prod = F.col("_na") * F.col("_nb")
    return j.agg(
        F.sum(prod).cast("long").alias("est_join_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
        F.max(prod).cast("long").alias("max_key_fanout"),
    )


def winsorize_by_group(
    df, group_col: str, value_col: str, lo: float = 0.05, hi: float = 0.95
):
    """Per-group winsorization: clip values to the group's exact
    [P_lo, P_hi] percentile band — the robust-statistics tamer for
    heavy-tailed metrics (a handful of 10^6× outliers otherwise dominate
    any mean/sum the pipeline reports). Exact linear-interpolation
    percentiles (one value-counts aggregation buffer serving both cuts),
    then the clip rejoins by group key — a ≤ #groups row side that AQE
    broadcasts. Adds ``value_w`` (clipped), ``clipped_low``/
    ``clipped_high`` flags. At corpus scale swap the exact percentile for
    approx_percentile; the join shape is identical.
    """
    from pyspark.sql import functions as F

    p = df.groupBy(group_col).agg(
        F.percentile(value_col, F.array(F.lit(lo), F.lit(hi))).alias("_p")
    ).select(
        group_col,
        F.element_at("_p", 1).alias("_plo"),
        F.element_at("_p", 2).alias("_phi"),
    )
    v = F.col(value_col)
    return (
        df.join(p, group_col)
        .withColumn("value_w", F.least(F.greatest(v, F.col("_plo")), F.col("_phi")))
        .withColumn("clipped_low", v < F.col("_plo"))
        .withColumn("clipped_high", v > F.col("_phi"))
        .drop("_plo", "_phi")
    )


def psi_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_pow: int = 20,
) -> DataFrame:
    """Population Stability Index of each group's ``value_col``
    distribution against the whole-corpus distribution — the standard
    drift monitor (credit-scoring lineage; in a training-data pipeline it
    flags a source whose length/score profile shifted between crawls
    before that shift skews mixing weights). PSI = Σ_bins (p−q)·ln(p/q);
    rule of thumb: <0.10 stable, 0.10–0.25 drifting, >0.25 shifted.

    Bins are power-of-two buckets computed with INTEGER comparisons only
    (bucket = Σ_k [value ≥ 2^k], k = 0..max_pow−1 — a monotone CASE
    chain, no float log), so bin assignment is engine-exact. Both sides
    are add-one smoothed over the SAME dense bucket universe
    0..max_pow (so empty bins are defined and PSI is finite), and each
    bin's contribution is micro-rounded to BIGINT before the final
    integer sum — order-free, exactly SQL-replayable.

    Scale shape: one map-side-combined agg to (group, bucket) counts —
    ≤ |groups|·(max_pow+1) rows of metadata — then everything (dense
    universe cross join, baseline join, PSI formula) runs on that tiny
    table. Nothing after the first agg touches row-scale data.

    Output: (group, n_rows, psi_micro), one row per group.
    """
    v = F.col(value_col)
    bucket = F.lit(0)
    for k in range(max_pow):
        bucket = bucket + (v >= F.lit(2 ** k)).cast("int")
    # r15 (duplicate-scan audit tail): base, the grp universe, grp_n, and
    # the dense left join each replayed the corpus scan + bucket agg, and
    # df.count() was a separate driver action over a FIFTH scan. One eager
    # cut of the ≤|groups|·(max_pow+1)-row count table feeds everything,
    # and the total folds into the same plan as a broadcast scalar
    # (Σ counts ≡ df.count(); (n_total + n_bins) cast to double is the
    # bit-identical divisor float(n_total + n_bins) was).
    # No A/B timing was recorded.
    counts = cut(
        df.select(F.col(group_col).alias("grp"), bucket.alias("bkt"))
        .groupBy("grp", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    base = counts.groupBy("bkt").agg(F.sum("c").alias("cq"))
    nt = counts.agg(F.sum("c").cast("long").alias("n_total"))
    n_bins = max_pow + 1
    universe = (
        counts.select("grp")
        .distinct()
        .crossJoin(
            counts.sparkSession.range(n_bins).select(
                F.col("id").cast("int").alias("bkt")
            )
        )
    )
    grp_n = counts.groupBy("grp").agg(F.sum("c").alias("n_rows"))
    dense = (
        universe.join(counts, ["grp", "bkt"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .join(F.broadcast(base), "bkt", "left")
        .withColumn("cq", F.coalesce(F.col("cq"), F.lit(0)))
        .join(F.broadcast(grp_n), "grp")
        .crossJoin(F.broadcast(nt))
    )
    p = (F.col("c") + F.lit(1)).cast("double") / (
        F.col("n_rows") + F.lit(n_bins)
    ).cast("double")
    q = (F.col("cq") + F.lit(1)).cast("double") / (
        F.col("n_total") + F.lit(n_bins)
    ).cast("double")
    term = F.floor((p - q) * F.log(p / q) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    return (
        dense.withColumn("term_micro", term)
        .groupBy("grp")
        .agg(
            F.max("n_rows").cast("long").alias("n_rows"),
            F.sum("term_micro").alias("psi_micro"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "psi_micro",
        )
    )


def wilson_lower_bound(
    df: DataFrame,
    group_col: str,
    success: "F.Column",
    z: float = 1.96,
) -> DataFrame:
    """Per-group Wilson score interval lower bound (Wilson 1927) on a
    boolean quality predicate — the standard way to RANK domains/sources
    by quality when group sizes differ wildly (a 5/5 source must not
    outrank a 4800/5000 one; the raw pass-rate says it does, the Wilson
    lower bound says it doesn't).

        lb = (p + z²/2n − z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n)

    In a web-corpus pipeline this decides which domains survive a
    per-domain quality cut: one count-based aggregation per group, so a
    100 TB corpus reduces to |groups| rows before any float math. The
    bound is micro-rounded once per group (integer output) — exactly
    oracle-replayable.

    Returns (group_col, n_rows, n_pass, wilson_lb_micro).
    """
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(success.cast("long")).alias("n_pass"),
    )
    n = F.col("n_rows").cast("double")
    p = F.col("n_pass") / n
    z2 = float(z) * float(z)
    lb = (
        p
        + F.lit(z2) / (2 * n)
        - F.lit(float(z))
        * F.sqrt(p * (1 - p) / n + F.lit(z2) / (4 * n * n))
    ) / (1 + F.lit(z2) / n)
    return agg.select(
        group_col,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_pass").cast("long").alias("n_pass"),
        F.floor(lb * 1e6 + 0.5).cast("long").alias("wilson_lb_micro"),
    )


def ks_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic vs the whole
    corpus: D_g = sup_v |ECDF_g(v) − ECDF_all(v)| — the rank-based drift
    monitor that catches distribution-SHAPE changes psi_by_group's fixed
    power-of-two bins smooth over (a median shift inside one PSI bin is
    invisible to PSI; KS sees it).

    Exactness: both ECDFs are step functions, so the sup is attained on
    the union of jump points — evaluated here on the full distinct-value
    grid. The comparison stays in INTEGER cross-multiplied form
    (|cum_g·n_all − cum_all·n_g|) until one final division, micro-rounded
    — exact oracle parity, no float ECDFs.

    Scale shape: one (group, value) count agg, a dense grid of
    |groups| × |distinct values| rows (cross join against the DISTINCT
    value list, not the corpus), per-group cumulative windows partitioned
    by group, one max agg. For continuous metrics with unbounded distinct
    values, pre-bucket to quantiles first (the grid is the cost knob);
    for discrete metrics (lengths, counts) the grid is naturally small.
    The integer cross-products are bounded by n_g·n_all, which overflows
    a signed 64-bit long past ~3e9 rows per side — at that scale
    pre-bucket (which also caps the counts) or lift the products to
    decimal; the exactness argument is unchanged.

    Returns (group_col, n_rows, ks_micro) per group.
    """
    from pyspark.sql import Window as W

    # r15 (duplicate-scan audit tail): vals, groups, the grid's left join,
    # and n_all each replayed the corpus scan + (group, value) agg — 4-5
    # scans in one plan → 1 behind an eager cut of the
    # |groups|·|distinct values|-row count table (metadata-scale by the
    # docstring's own grid argument). No A/B timing was recorded.
    gv = cut(df.groupBy(F.col(group_col).alias("grp"), F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    ))
    vals = gv.groupBy("v").agg(F.sum("c").alias("c_all"))
    groups = gv.groupBy("grp").agg(F.sum("c").alias("n_g"))
    n_all = vals.agg(F.sum("c_all").alias("n_all"))
    grid = (
        groups.crossJoin(vals)
        .join(gv, ["grp", "v"], "left")
        .select(
            "grp",
            "v",
            "n_g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "c_all",
        )
    )
    wg = W.partitionBy("grp").orderBy(F.col("v").asc())
    cum = grid.select(
        "grp",
        "n_g",
        F.sum("c").over(wg).alias("cum_g"),
        F.sum("c_all").over(wg).alias("cum_all"),
    )
    return (
        cum.crossJoin(F.broadcast(n_all))
        .groupBy("grp", "n_g", "n_all")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_g") * F.col("n_all") - F.col("cum_all") * F.col("n_g")
                )
            ).alias("num")
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_g").cast("long").alias("n_rows"),
            F.floor(
                F.col("num") / (F.col("n_g") * F.col("n_all")) * 1e6 + 0.5
            )
            .cast("long")
            .alias("ks_micro"),
        )
    )


def chi_square_independence(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Pearson chi-square statistic for independence of two categorical
    columns, from the full contingency table — the data-quality test
    behind "is quality correlated with source?" / "did the label
    distribution shift per shard?" questions.

        X² = Σ_cells (observed − expected)² / expected,
        expected = row_total · col_total / n

    Exactness: observed counts, row/col totals, and n are integers; each
    cell's term is micro-rounded once and the statistic is their integer
    sum — order-free and oracle-replayable. Zero-count cells contribute
    (0−e)²/e = e, so the dense row×col grid matters: absent combinations
    are real evidence of dependence, not missing data (grid built by
    cross-joining the DISTINCT level sets, never corpus rows).

    Scale shape: one (a, b) count agg; everything after runs on the
    |levels_a| × |levels_b| contingency grid. Returns one row:
    (n_rows, n_cells, dof, chi2_micro).
    """
    # r15 (duplicate-scan audit tail): ra, cb, n, and the grid's left join
    # each replayed the corpus scan + contingency agg — 4 scans in one
    # plan → 1 behind an eager cut of the |levels_a|·|levels_b|-row
    # table. No A/B timing was recorded.
    ab = cut(df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    ))
    ra = ab.groupBy("a").agg(F.sum("c").alias("ra"))
    cb = ab.groupBy("b").agg(F.sum("c").alias("cb"))
    n = ab.agg(F.sum("c").alias("n"))
    grid = (
        ra.crossJoin(cb)
        .join(ab, ["a", "b"], "left")
        .select("a", "b", "ra", "cb", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .crossJoin(F.broadcast(n))
    )
    # cast BEFORE the multiply: ra*cb in 64-bit overflows past ~3e9 rows
    # per side (doubles stay exact to 2^53, far beyond any n where the
    # micro-rounded statistic is still meaningful)
    e = F.col("ra").cast("double") * F.col("cb").cast("double") / F.col("n")
    term = F.floor((F.col("c") - e) * (F.col("c") - e) / e * 1e6 + 0.5).cast("long")
    return grid.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("a") - 1) * (F.countDistinct("b") - 1)
        ).cast("long").alias("dof"),
        F.sum(term).cast("long").alias("chi2_micro"),
    )


def join_size_sampled(a, b, key_cols, mod: int = 8) -> "DataFrame":
    """Sampled join-cardinality estimate via CORRELATED sampling
    (Vengerov et al., VLDB 2015): both inputs keep only keys whose shared
    deterministic hash lands in the same 1/``mod`` gate, per-key counts
    are aggregated on the surviving keys, and the sampled inner product
    scales back up by ``mod``:

        est = mod · Σ_{h(key) % mod == 0} count_a(key) · count_b(key)

    Sampling KEYS (not rows) with the SAME hash on both sides is what
    makes the estimator work: a sampled key keeps its exact per-side
    frequencies, so each term of the true inner product is either fully
    present or fully absent — Bernoulli row sampling would need a 1/p²
    correction and blows up the variance on heavy keys.

    This is the at-scale tier of ``join_cardinality`` (whose docstring
    promises exactly this swap): each side scans once but aggregates and
    shuffles only ~1/``mod`` of the key space. The estimate is exact-
    replayable in SQL (md5 hash gate), so the oracle checks the ESTIMATE
    itself, and the contract query runs it next to the exact pre-flight.

    Returns one row: (est_join_rows_sampled, n_sampled_keys).
    """
    from pyspark.sql import functions as F

    from ..functions.text_functions import md5_hash60

    keys = list(key_cols)

    def gate(df):
        h = md5_hash60(
            F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
        )
        return df.filter(h % mod == 0)

    ca = gate(a).groupBy(*keys).agg(F.count(F.lit(1)).alias("_na"))
    cb = gate(b).groupBy(*keys).agg(F.count(F.lit(1)).alias("_nb"))
    j = ca.join(cb, keys)
    return j.agg(
        (F.lit(mod) * F.sum(F.col("_na") * F.col("_nb")))
        .cast("long")
        .alias("est_join_rows_sampled"),
        F.count(F.lit(1)).cast("long").alias("n_sampled_keys"),
    )


def pareto_frontier_2d(df, x_col: str, y_col: str) -> "DataFrame":
    """2-D skyline / Pareto frontier (Börzsönyi et al., ICDE 2001):
    the points not dominated under (minimize ``x_col``, maximize
    ``y_col``) — multi-objective data selection (e.g. the best quality
    score achievable at each document length, the classic
    cost-vs-benefit readout).

    Two dimensions admit the sort-free collapse: group to the
    per-distinct-x maximum of y (this alone eliminates every within-x
    domination), then one running-max window over the x-ascending grid —
    a grid row survives iff its y strictly exceeds every smaller-x
    row's y. The window is unpartitioned BUT runs on the collapsed
    |distinct x| grid, not the corpus (the AUC distinct-score-grid
    idiom); the corpus-sized stage is one partial-agg'd groupBy.

    Returns (x_col, best_<y_col>) frontier rows, x ascending. Ties on x
    collapse to the grid max; equal-y-at-larger-x rows are dominated
    (strict-in-x dominance) and drop.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    grid = df.groupBy(F.col(x_col).alias("x")).agg(
        F.max(y_col).alias("y")
    )
    w = W.orderBy(F.col("x").asc()).rowsBetween(W.unboundedPreceding, -1)
    return (
        grid.select("x", "y", F.max("y").over(w).alias("_prev"))
        .filter(F.col("_prev").isNull() | (F.col("y") > F.col("_prev")))
        .select(F.col("x").alias(x_col), F.col("y").alias(f"best_{y_col}"))
        .orderBy(x_col)
    )
