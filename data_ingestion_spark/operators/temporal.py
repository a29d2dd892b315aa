"""Temporal joins Spark lacks natively: as-of and range (interval) joins.

Both are expressed as compositions of existing DataFrame ops (the brief's
preferred tier for custom operators) — no UDFs, no cartesian products:

- **As-of join** — the union-merge formulation: tag both sides, union,
  one window per key ordered by time carrying the right side's columns
  forward with ``last(ignorenulls)``. Cost: ONE shuffle on the join key
  (the window), regardless of how many right rows precede each left row.
  The naive inequality-join formulation Spark would otherwise plan is a
  BroadcastNestedLoopJoin — O(n·m) per key — which this avoids entirely.
- **Range join** — equi-join on a time-bin key (bin width = interval
  length, so any qualifying pair shares a bin or adjacent bins), exact
  interval predicate applied post-join. Turns an inequality join into a
  hash join with bounded fan-out ×2.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import cut


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_values: Sequence[str],
    tolerance: str | None = None,
) -> DataFrame:
    """For each left row: columns of the latest right row with
    ``right_ts <= left_ts`` and the same ``key`` (inclusive, like DuckDB's
    ``ASOF JOIN ... ON l.ts >= r.ts``). Left rows with no prior right row
    keep nulls (left-join semantics).

    ``tolerance`` (e.g. ``'7 days'``) additionally requires
    ``left_ts - right_ts <= tolerance``, nulling out stale matches —
    pandas.merge_asof's tolerance semantics.
    """
    lcols = left.columns
    tagged_left = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_values],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_rt"),
    )
    tagged_right = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            tagged_left.schema["_lrow"].dataType
        ).alias("_lrow"),
        *[F.col(c) for c in right_values],
        F.col(right_ts).alias("_rt"),
    )
    # right rows sort BEFORE left rows at equal timestamps → inclusive <=
    merged = tagged_left.unionByName(tagged_right)
    w = (
        W.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.select(
        "_k",
        "_t",
        "_side",
        "_lrow",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in right_values],
        F.last("_rt", ignorenulls=True).over(w).alias("_rt"),
    ).filter(F.col("_side") == 1)
    if tolerance is not None:
        stale = F.col("_t") > F.col("_rt") + F.expr(f"INTERVAL {tolerance}")
        carried = carried.select(
            "_k",
            "_t",
            "_side",
            "_lrow",
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in right_values
            ],
            "_rt",
        )
    return carried.select(
        *[F.col(f"_lrow.{c}").alias(c) for c in left.columns], *right_values
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_start: str,
    interval_seconds: int,
) -> DataFrame:
    """Inner join on ``key`` where
    ``right_start <= left_ts < right_start + interval_seconds``.

    Bin width == interval length ⇒ any qualifying (left, right) pair has
    ``left_bin ∈ {right_bin, right_bin + 1}``; the right side explodes ×2
    into both bins and the exact predicate filters after the hash join.
    """
    binw = F.lit(interval_seconds)
    lbin = (F.unix_timestamp(F.col(left_ts)) / binw).cast("long")
    rbin = (F.unix_timestamp(F.col(right_start)) / binw).cast("long")
    lt = left.withColumn("_bin", lbin)
    rt = right.withColumn(
        "_bin", F.explode(F.array(rbin, rbin + 1))
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l._bin") == F.col("r._bin"))
        & (F.col(f"l.{left_ts}") >= F.col(f"r.{right_start}"))
        & (
            F.unix_timestamp(F.col(f"l.{left_ts}"))
            < F.unix_timestamp(F.col(f"r.{right_start}")) + binw
        )
    )
    out = lt.alias("l").join(rt.alias("r"), cond)
    return out.select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}") for c in right.columns if c != key],
    )


def gapfill_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    bucket_seconds: int = 21600,
) -> DataFrame:
    """Regular-grid gap filling with last-observation-carried-forward — the
    time-series densification pass (hypertable rollup / sensor downsampling):
    bucket events per key, synthesize the key's full bucket grid, and fill
    empty buckets with the most recent non-empty bucket's aggregate.

    Engine parity notes: the per-bucket aggregate is a DECIMAL(38,8) sum
    (exact, order-independent — the float-avg hash-instability fix this repo
    standardizes on) and buckets are epoch-second integers. LOCF is
    ``last(ignorenulls)`` over a rows-unbounded-preceding window.

    Scale shape: one groupBy on (key, bucket), one per-key span aggregate
    whose grid explode emits (hi-lo)/step rows per key, one equi left-join
    grid⋈buckets, one window per key. Everything keys on (key, bucket) —
    no inequality joins, no driver-side time math.

    Output: (key, bucket [epoch s], n_events [0 for gaps], filled_sum).
    """
    step = int(bucket_seconds)
    bucket = (
        F.floor(F.col(ts_col).cast("long") / step).cast("long") * step
    ).alias("bucket")
    b = (
        df.select(F.col(key_col).alias("key"), bucket, F.col(val_col).alias("v"))
        .groupBy("key", "bucket")
        .agg(
            F.sum(F.col("v").cast("decimal(38,8)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    grid = (
        b.groupBy("key")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "key",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(step).cast("long"))
            ).alias("bucket"),
        )
    )
    j = grid.join(b, ["key", "bucket"], "left")
    w = (
        W.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "key",
        "bucket",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_events"),
        # the DECIMAL sum is exact, so the final double cast is the same
        # IEEE value in every engine (and pandas-friendly for compares)
        F.last("s", ignorenulls=True).over(w).cast("double").alias("filled_sum"),
    )


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    eff_from: str = "eff_from",
    eff_to: str = "eff_to",
) -> DataFrame:
    """Point-in-time (temporal) join: each fact row pairs with the
    dimension VERSION that was valid at its timestamp —
    ``eff_from ≤ ts < eff_to`` (NULL ``eff_to`` = the open current
    version). The correctness backbone of any warehouse built on SCD2
    dimensions (scd2_apply's output plugs in directly): joining facts to
    the CURRENT dimension silently backdates attribute changes; this join
    doesn't.

    Shape: a plain equi-join on the business key with the interval
    predicate fused into the join condition. Per key the right side holds
    one row per VERSION (SCD2 history), so fan-out is bounded by
    versions-per-key — small by construction — and Catalyst plans a hash
    join on the key, never a nested loop. Each fact matches exactly one
    version (SCD2 intervals partition time).
    """
    keys = list(key_cols)
    d = dim
    for c in keys:
        d = d.withColumnRenamed(c, f"_d_{c}")
    cond = [facts[k] == d[f"_d_{k}"] for k in keys]
    ts = facts[ts_col]
    cond.append(ts >= d[eff_from])
    cond.append(d[eff_to].isNull() | (ts < d[eff_to]))
    joined = facts.join(d, cond, "left")
    return joined.drop(*[f"_d_{c}" for c in keys])


def assemble_trajectories(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    step_col: str,
    max_steps: int = 50,
    sep: str = "|",
) -> DataFrame:
    """Per-entity ordered event trajectories — the behavioral-sequence
    primitive that turns an event log into training sequences (user
    session → action string for a behavior model, tool-use log → agent
    trace). Collect each key's events, order by (ts, tie) — the tie
    column makes the sequence a TOTAL order, so the output is
    engine-deterministic — truncate to the first ``max_steps``, join
    with ``sep`` and fingerprint.

    Scale shape: one shuffle on the entity key (map-side partial
    collect_list), then sort_array + slice run per-row on the collected
    array — no window, no global sort; a hot key costs one big array,
    not a repartition. Cap ``max_steps`` (and pre-filter the event
    window) so per-key arrays stay bounded at web scale.

    Output: (key, n_events, n_steps, traj_md5) — the fingerprint rather
    than the raw string keeps the result compact while pinning content
    AND order.
    """
    collected = (
        df.select(
            F.col(key_col).alias("key"),
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(tie_col).alias("tie"),
                F.col(step_col).alias("step"),
            ).alias("s"),
        )
        .groupBy("key")
        .agg(F.collect_list("s").alias("steps"))
    )
    ordered = F.expr("transform(array_sort(steps), x -> x.step)")
    traj = F.array_join(F.slice(ordered, 1, max_steps), sep)
    return collected.select(
        F.col("key").alias(key_col),
        F.size("steps").cast("long").alias("n_events"),
        F.least(F.size("steps"), F.lit(max_steps)).cast("long").alias("n_steps"),
        F.md5(traj).alias("traj_md5"),
    )


def ewma_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Per-key exponentially-weighted moving average of a value sequence —
    the recency-weighting primitive behind freshness-weighted sampling and
    drift-sensitive per-entity monitors (yesterday's crawl should count
    more than last year's).

    Closed form of the zero-seeded recursion s_i = α·v_i + (1−α)·s_{i−1}:

        ewma = Σ_i α · (1−α)^(n−i) · v_i      (i in arrival order)

    Exactness: each term is micro-rounded to an integer BEFORE the sum, so
    the per-key total is an order-free integer sum (the repo's standard
    float-parity idiom) — shuffle-deterministic and oracle-replayable;
    terms older than ~50 steps round to 0 micro, which IS the decay
    semantics. One window per key (partitioned — never global) plus one
    grouped agg; at 100 TB the work per key is its own event count.

    Returns (key_col, n_events, ewma_micro) per key.
    """
    w = W.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    n = F.count(F.lit(1)).over(W.partitionBy(key_col))
    rn = F.row_number().over(w)
    decay = F.pow(F.lit(1.0 - alpha), (n - rn).cast("double"))
    term = F.floor(
        F.lit(alpha) * decay * F.col(value_col) * 1e6 + 0.5
    ).cast("long")
    return (
        df.select(F.col(key_col), term.alias("term_micro"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("term_micro").cast("long").alias("ewma_micro"),
        )
    )


def _funnel_stream(events: DataFrame, user_col: str, type_col: str,
                   ts_col: str, steps: Sequence[str]) -> DataFrame:
    """The funnel's ``(u, et, t)`` stream of step events, cut eagerly: every
    stage's right side re-scanned the event source otherwise (the combo
    query funnel_windowfunnel_exact_events held 13 event scans in one plan)."""
    return cut(events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("et"),
        F.col(ts_col).alias("t"),
    ).filter(F.col(type_col).isin(list(steps))))


def funnel_steps(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: Sequence[str],
    window: str = "7 days",
) -> DataFrame:
    """Ordered-step conversion funnel — a greedy funnel anchored at each
    user's EARLIEST step-0 event, a deliberate RESTRICTION of ClickHouse
    ``windowFunnel`` semantics (windowFunnel slides the window anchor
    across EVERY step-0 event and reports the best chain; this anchors
    once — ``test_greedy_anchor_is_first_view`` pins a case where the two
    disagree; ``window_funnel_exact`` below is the full-fidelity
    sliding-anchor variant). For each user, walk the ordered ``steps``
    sequence
    greedily from that first step-0 event — step *i* matches the
    first event of that type STRICTLY after the matched step *i−1* event
    and no later than step-0's timestamp + ``window``. Returns one row per
    funnel stage: ``(step_idx, step_name, n_users, conv_from_first_micro)``.

    Spark-first shape (no per-user sequential scan, no UDFs): the greedy
    walk is a chain of conditional min-aggregations — stage 0 is one
    per-user ``min(ts)`` agg; each later stage joins the (|users|-row)
    reached table back to the narrow ``(user, type, ts)`` stream and takes
    ``min(ts)`` under the order/deadline predicate. Every join and agg
    keys on the user column, so the shuffle partitioning is reused across
    stages, and each stage's right side is pre-filtered to ONE event type
    before the join. The final stage table is |users| rows; the funnel
    summary is a single scalar agg + a literal unpivot.

    Single-anchor greedy-min matching (not windowFunnel's every-anchor
    scan) is what makes the operator deterministic AND join-chain-shaped
    (hence oracle-replayable): min() over a fixed predicate has no tie
    ambiguity, and one anchor per user keeps every stage |users|-rows.
    """
    ev = _funnel_stream(events, user_col, type_col, ts_col, steps)
    reached = (
        ev.filter(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t0"))
        .withColumn("deadline", F.col("t0") + F.expr(f"INTERVAL {window}"))
    )
    for i in range(1, len(steps)):
        nxt = (
            ev.filter(F.col("et") == steps[i])
            .join(reached.select("u", F.col(f"t{i-1}").alias("_prev"), "deadline"), "u")
            .filter((F.col("t") > F.col("_prev")) & (F.col("t") <= F.col("deadline")))
            .groupBy("u")
            .agg(F.min("t").alias(f"t{i}"))
        )
        reached = reached.join(nxt, "u", "left")
    counts = reached.agg(
        *[
            F.count(F.col(f"t{i}")).cast("long").alias(f"c{i}")
            for i in range(len(steps))
        ]
    )
    stack = ", ".join(
        f"{i}L, '{steps[i]}', c{i}" for i in range(len(steps))
    )
    return counts.select(
        F.expr(
            f"stack({len(steps)}, {stack}) AS (step_idx, step_name, n_users)"
        )
    ).select(
        "step_idx",
        "step_name",
        "n_users",
        F.expr(
            "CASE WHEN first(n_users) OVER (ORDER BY step_idx"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0 THEN 0"
            " ELSE (1000000 * n_users) div first(n_users) OVER (ORDER BY step_idx"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END"
        )
        .cast("long")
        .alias("conv_from_first_micro"),
    ).orderBy("step_idx")


def window_funnel_exact(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: Sequence[str],
    window: str = "7 days",
) -> DataFrame:
    """EXACT ClickHouse ``windowFunnel('strict_increase')`` semantics:
    the anchor slides across EVERY step-0 event — a user reaches step *i*
    iff ANY of their step-0 events starts a strictly-increasing chain of
    the first *i* step types finishing within ``window`` of that anchor.
    Mode fidelity, stated precisely (r9, was an r8 ADVICE finding): the
    ``t > prev`` predicate is ClickHouse's opt-in ``strict_increase``
    mode; DEFAULT windowFunnel also chains equal-timestamp events
    (``t >= prev`` across distinct events). Swap the inequality to ``>=``
    for default-mode parity — kept strict here because equal-timestamp
    chains make greedy min-matching tie-ambiguous across engines. This is
    the full-fidelity sibling of ``funnel_steps`` (which deliberately
    anchors once, at the earliest step-0 event;
    ``test_greedy_anchor_is_first_view`` pins a case where the two
    disagree).

    Correctness: for a FIXED anchor, greedy min-matching is optimal (the
    exchange argument — taking the earliest valid next event can only
    leave more room for later steps), so per-anchor chained
    min-aggregations decide reachability exactly; a user reaches step i
    iff any anchor row survives to stage i.

    Scale shape: stage tables are keyed by (user, anchor_ts) instead of
    funnel_steps' (user) — per-user work is #step-0-events × #step-i
    events (the price ClickHouse pays inside its per-user array scan),
    parallel across users, with every join/agg reusing the user-keyed
    shuffle. Returns one row per stage: (step_idx, step_name, n_users)
    where n_users counts DISTINCT users reaching the stage from any
    anchor.
    """
    ev = _funnel_stream(events, user_col, type_col, ts_col, steps)
    reached = (
        ev.filter(F.col("et") == steps[0])
        .select("u", F.col("t").alias("t0"))
        .dropDuplicates(["u", "t0"])
        .withColumn("deadline", F.col("t0") + F.expr(f"INTERVAL {window}"))
    )
    stage_counts = [
        reached.agg(F.countDistinct("u").cast("long").alias("c0"))
    ]
    prev = "t0"
    for i in range(1, len(steps)):
        reached = (
            ev.filter(F.col("et") == steps[i])
            .join(
                reached.select(
                    "u", F.col(prev).alias("_prev"), "t0", "deadline"
                ),
                "u",
            )
            .filter((F.col("t") > F.col("_prev")) & (F.col("t") <= F.col("deadline")))
            .groupBy("u", "t0", "deadline")
            .agg(F.min("t").alias(f"t{i}"))
        )
        prev = f"t{i}"
        stage_counts.append(
            reached.agg(F.countDistinct("u").cast("long").alias(f"c{i}"))
        )
    counts = stage_counts[0]
    for c in stage_counts[1:]:
        counts = counts.crossJoin(c)
    stack = ", ".join(f"{i}L, '{steps[i]}', c{i}" for i in range(len(steps)))
    return counts.select(
        F.expr(f"stack({len(steps)}, {stack}) AS (step_idx, step_name, n_users)")
    )
