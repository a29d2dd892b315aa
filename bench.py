"""Benchmark harness for the driver (BENCH_r{N}.json).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output contract (round 4 — the driver's tail capture is ~2,000 chars, and
round 3's single line with 68 per-query timings exceeded it, so the driver
recorded ``parsed: null`` and the round's bench was invisible): the FINAL
stdout line is a compact summary JSON guaranteed well under 1.5 kB (total,
n_queries, sf, reps, canary, worst-5 queries, regression count); the full
per-query map is written to ``BENCH_DETAIL.json`` next to this file.

Canary calibration: cross-round per-query comparisons showed ~1.2-1.3x
diffuse drift on UNCHANGED code (the driver regenerates /root/testdata
every round with fresh random content, and ambient machine load varies).
``canary_sec`` times one fixed query over data generated IN-PROCESS from
``spark.range`` (pinned constants, independent of /root/testdata), so the
regression gate can normalize real per-query times by ambient drift:
adjusted_now = now / (canary_now / canary_prev).

Each query is timed to full materialization on the driver (Arrow-batched
``toPandas()``) so the figure includes scan + shuffle + result transfer,
matching how the DuckDB oracle side is measured (``con.sql(...).df()`` is
also a to-pandas materialization). One warm-up action runs first so
JVM/session startup is not billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_ingestion_spark.queries import merged_queries  # noqa: E402
from data_ingestion_spark.session import get_spark, load_table  # noqa: E402

# Round 7: the headline set is NO LONGER a hand-maintained allowlist — the
# r6 review found it had silently drifted to 130 of 188 registered queries,
# leaving the whole TPC-H battery and the relational/window basics without
# per-round perf regression coverage. The bench now runs EVERY registered
# query except an explicit, reason-carrying exclusion list (emitted into
# BENCH_DETAIL.json as "excluded"), so a new query is benched by default
# and nothing can fall out of coverage without a named rationale.
#
# NOTE for cross-round totals: this change grows n_queries from 130 to ~177
# (r7). The total is NOT comparable to r6 raw; the regression gate is
# per-query and unaffected.
EXCLUDED = {
    "dedup_embedding_recall": (
        "deliberately quadratic brute-force recall anchor that validates the"
        " ANN tiers; excluded by design (SCALING.md), not a production path"
    ),
    "dedup_embedding_pairs_stress": (
        "r9: the old threshold-0.4 narrow-band geometry (16 x 3-bit bands,"
        " 4x-tier growth 5.5 - the candidate stream is the quadratic);"
        " kept value-checked as a stress anchor beside"
        " dedup_embedding_recall, while dedup_embedding_pairs benches the"
        " realistic wide-band c>=0.9 regime (SCALING.md)"
    ),
    "ingest_csv_docs": "fixture-file parser: input is a KB-scale temp file independent of sf; timing measures tmpfile IO, not engine throughput",
    "ingest_json_docs": "fixture-file parser (see ingest_csv_docs)",
    "ingest_txt_docs": "fixture-file parser (see ingest_csv_docs)",
    "ingest_xml_docs": "fixture-file parser (see ingest_csv_docs)",
    "ingest_excel_docs": "fixture-file parser (see ingest_csv_docs)",
    "ingest_audit_log": "fixture-scale audit-log lifecycle demo (2 rows)",
    "ingest_logfmt_docs": "fixture-file parser (see ingest_csv_docs)",
    "ingest_orc_docs": "fixture-file parser (see ingest_csv_docs)",
    "ingest_avro_docs": "fixture-file parser (see ingest_csv_docs)",
}


def run_canary(spark) -> float:
    """One fixed mid-weight query over in-process data: 3M rows of
    ``spark.range`` → md5 + modulo key → hash agg over 9,973 keys →
    full shuffle → top-20. Pinned constants, zero dependence on
    /root/testdata content, so its time moves ONLY with the machine/JVM
    ambient state — the per-run drift normalizer. Min of 3."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(3_000_000)
            .select(
                (F.col("id") % 9973).alias("k"),
                F.md5(F.col("id").cast("string")).alias("h"),
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.min("h").alias("lo"), F.max("h").alias("hi"))
            .orderBy(F.col("lo").asc())
            .limit(20)
            .toPandas()
        )
        return time.perf_counter() - t0

    once()  # warm (codegen/JIT for this exact plan)
    return round(min(once() for _ in range(3)), 3)


def main() -> None:
    # Mute the WindowExec "No Partition Defined" logger for BENCH runs only
    # (the documented metadata-scale windows flood the log ~110 lines/run);
    # everywhere else the warning stays live — see session.get_spark.
    os.environ.setdefault("SPARK_GRAFT_MUTE_WINDOWEXEC", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark("bench")
    registry = merged_queries()

    # Bench-by-default: every registered query, registry order, minus the
    # named exclusions. A typo in EXCLUDED would silently re-include a
    # query (harmless) — but an EXCLUDED name missing from the registry is
    # a stale exclusion and must fail loudly.
    stale = [n for n in EXCLUDED if n not in registry]
    if stale:
        raise KeyError(f"EXCLUDED names not in registry: {stale}")
    headline = [n for n in registry if n not in EXCLUDED]

    # Warm-up: touch the biggest table so JVM spin-up and parquet footer
    # reads are excluded from per-query timings.
    load_table(spark, sf_dir, "lineitem").count()

    # JIT/codegen warm-up (NOT billed, disclosed here): run every headline
    # query once at sf0.001 first. WholeStageCodegen caches generated classes
    # by plan structure and HotSpot compiles them on first execution, so
    # without this pass each sf0.1 timing below would bill one-time JVM
    # compilation (2-4x the steady-state cost) instead of query throughput.
    # On a long-running 1000-executor cluster that compilation is amortized
    # to zero; the warm figures are the scale-relevant ones. No sf0.1 data
    # or results are cached by this pass — it runs on a 100x smaller copy.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir.rstrip("/"):
        for name in headline:
            fn, _sql = registry[name]
            try:
                fn(spark, warm_dir).toPandas()
            except Exception as exc:  # warm-up must never fail the bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # PINNED METHODOLOGY (BASELINE.md "Bench methodology"): each query is
    # timed REPS times (default 2) and the MINIMUM is reported — the
    # standard steady-state measurement (disclosed in the output JSON as
    # reps/agg): a single shot on a busy 32-thread JVM shows +-30% noise
    # from GC/compilation interleaving, which is scheduler luck, not query
    # cost. Queries whose best-of-2 still exceeds HEAVY_SEC get ONE extra
    # rep (min-of-3) — the >2s queries dominate the total, so their min
    # deserves the extra sample. Queries under FAST_SEC get TWO extra reps
    # (min-of-4): sub-second timings showed ±2x session-to-session swings
    # on identical data/code (round-4 measurement), and extra fast reps
    # are nearly free. Round-over-round comparisons are valid from round 2
    # onward under this recipe (fast-rep refinement added round 4 — it can
    # only lower minima).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    heavy_sec = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_SEC", "2.0"))
    fast_sec = float(os.environ.get("SPARK_GRAFT_BENCH_FAST_SEC", "1.0"))
    timings: dict[str, float] = {}
    total = 0.0
    for name in headline:
        fn, _sql = registry[name]
        best = None
        for _ in range(max(reps, 1)):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        if best > heavy_sec:
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        elif best < fast_sec:
            # sub-second queries carry the most scheduler/GC noise relative
            # to their cost (observed ±2x between same-data sessions) and
            # extra reps are nearly free — take min-of-4 for them
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).toPandas()
                best = min(best, time.perf_counter() - t0)
        dt = round(best, 3)
        timings[name] = dt
        total += dt
        print(f"# {name}: {dt}s", file=sys.stderr)

    canary_sec = run_canary(spark)

    # Self-auditing regression gate: compare shared queries against the
    # previous run's full detail file (BENCH_DETAIL.json, committed each
    # round — BENCH_r{N}.json no longer carries the full map) falling back
    # to the newest BENCH_r{N}.json that does. Times are normalized by the
    # canary ratio when both runs have one, so ambient machine/data drift
    # (measured at ~1.2-1.3x across rounds on unchanged code) doesn't
    # masquerade as a plan regression.
    here = os.path.dirname(os.path.abspath(__file__))
    prev_queries: dict[str, float] = {}
    prev_canary = None
    prev_file = None
    candidates = [os.path.join(here, "BENCH_DETAIL.json")] + [
        os.path.join(here, f"BENCH_r{n:02d}.json") for n in range(20, 0, -1)
    ]
    for cand in candidates:
        if not os.path.isfile(cand):
            continue
        try:
            with open(cand) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        # driver-recorded rounds nest the bench line under "parsed"
        q = doc.get("queries") or (doc.get("parsed") or {}).get("queries") or {}
        prev_sf = doc.get("sf", (doc.get("parsed") or {}).get("sf"))
        if prev_sf is not None and prev_sf != sf_val:
            continue  # different scale factor: times aren't comparable
        if q:
            prev_queries = q
            prev_canary = doc.get("canary_sec") or (doc.get("parsed") or {}).get(
                "canary_sec"
            )
            prev_file = cand
            break
    drift = (
        canary_sec / prev_canary
        if prev_canary and prev_canary > 0
        else None
    )
    # Second normalizer (round 6): the MEDIAN now/prev ratio over shared
    # queries. The canary alone under-measures content drift (the driver
    # regenerates document text every round, which moves text-heavy
    # queries the canary never sees — round 4 recorded 101 false-positive
    # "regressions" from exactly this). With most code unchanged between
    # rounds, the median shared ratio IS the ambient+content drift; a real
    # plan regression is a per-query outlier above it. The gate divides by
    # the LARGER of the two normalizers — conservative against false
    # positives, while a genuine regression still clears 1.2x of its own
    # round's median. Round 8: the ≥1.0 clamp is GONE — the norm now
    # scales both directions, so a faster-than-prev environment tightens
    # the threshold symmetrically instead of freezing at raw times. The
    # false-flag mode the clamp papered over (sub-second scatter on a
    # faster run: 27 flags on a 0.91-median run, 34 on a same-day
    # baseline) is handled at the CAUSE by the retry-confirm stage below:
    # every would-be flag must survive two fresh min-samples, and the
    # final flag set is restricted to names that were suspects under BOTH
    # the pre- and post-retry norms, so a recomputed norm can never mint
    # flags that skipped the confirmation pass.
    shared = [
        t / prev_queries[name]
        for name, t in timings.items()
        if name in prev_queries and prev_queries[name] > 0.1
    ]
    median_ratio = (
        round(sorted(shared)[len(shared) // 2], 3) if shared else None
    )
    norm = max(drift or 1.0, median_ratio or 1.0)

    # Retry-confirm (round 7): even min-of-4 sub-second sampling showed
    # ±40% same-day scatter (34 false flags against a same-day baseline
    # while the canary measured the machine FASTER). A flag must now
    # survive two fresh samples taken after the whole suite ran (warm
    # JVM, settled load) — min can only drop, so a genuine regression
    # keeps flagging while a jittered sample gets corrected. The median
    # normalizer is then recomputed from the corrected timings, and the
    # final flag set is RESTRICTED to the suspect set: retried min-samples
    # can only lower timings, which can lower the recomputed norm, which
    # could otherwise flag queries that never went through the two-sample
    # confirmation — exactly the false-flag mode this stage removes.
    suspect = [
        name
        for name, t in timings.items()
        if name in prev_queries
        and prev_queries[name] > 0.1
        and (t / norm) > 1.2 * prev_queries[name]
    ]
    for name in suspect:
        fn, _sql = registry[name]
        best = timings[name]
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    if suspect:
        total = round(sum(timings.values()), 3)
        shared = [
            t / prev_queries[name]
            for name, t in timings.items()
            if name in prev_queries and prev_queries[name] > 0.1
        ]
        median_ratio = (
            round(sorted(shared)[len(shared) // 2], 3) if shared else None
        )
        norm = max(drift or 1.0, median_ratio or 1.0)

    suspect_set = set(suspect)
    # Final flags need BOTH the norm-adjusted excess AND a raw increase
    # (now > 1.05×prev). The raw guard closes the one false-flag mode the
    # unclamped norm re-opens that retry-confirm cannot cure: on a
    # faster-than-prev environment (norm < 1) a fixed-overhead-bound
    # query legitimately stays FLAT in raw terms, its adjusted time
    # inflates past 1.2×, and two fresh samples re-measure the same true
    # fixed cost (min can't drop below it). A genuinely regressed query
    # on a faster machine that still runs at or under its old raw time is
    # at worst a missed marginal case — a query that got no slower in
    # absolute terms is not an actionable regression.
    regressions = {
        name: {
            "prev": prev_queries[name],
            "now": t,
            "now_norm_adj": round(t / norm, 3),
        }
        for name, t in timings.items()
        if name in suspect_set  # only two-sample-confirmed flags survive
        and (t / norm) > 1.2 * prev_queries[name]
        and t > 1.05 * prev_queries[name]  # raw guard: no absolute slowdown, no flag
    }

    detail = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        # headline set GROWS round over round — normalize cross-round
        # totals by n_queries or compare per-query.
        "n_queries": len(headline),
        "reps": reps,
        "agg": "min",
        "heavy_extra_rep_above_sec": heavy_sec,
        "canary_sec": canary_sec,
        "canary_drift_vs_prev": round(drift, 3) if drift else None,
        "median_shared_ratio_vs_prev": median_ratio,
        "n_shared_with_prev": len(shared),
        "norm_used": round(norm, 3),
        "regress_vs": os.path.basename(prev_file) if prev_file else None,
        "regressions_gt_1.2x_norm_adj": regressions,
        "n_registered": len(registry),
        "n_registered_not_benched": len(registry) - len(headline),
        # every non-benched query is named here with its rationale — no
        # silent caps (r6 review item #1)
        "excluded": EXCLUDED,
        "queries": timings,
        "sf": sf_val,
    }
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    worst5 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    # Tail hygiene (r12, an r11 verdict note): stop the session BEFORE the
    # final line and hard-exit right after it. Spark's async shutdown
    # occasionally logs a benign ERROR stack trace (DAGScheduler
    # "attempted to access non-existent accumulator" during
    # post-completion stage cleanup) — on a clean rc=0 run with every
    # timing recorded, that trace landing AFTER the summary made the
    # driver's tail capture read like a crash (BENCH_r11). Stopping first
    # flushes any such noise above the summary; os._exit prevents JVM
    # shutdown races from printing below it. os._exit also SKIPS atexit,
    # which would reintroduce the r10 scratch-dir leak for bench runs —
    # run the scratch cleanup explicitly first.
    from data_ingestion_spark.operators import stores as _stores

    _stores._cleanup_scratch()
    spark.stop()
    # FINAL LINE: compact summary only (<1.5 kB) — the driver tail-captures
    # ~2,000 chars, and a full per-query map overflows it (BENCH_r03).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "n_queries": len(headline),
                "reps": reps,
                "agg": "min",
                "canary_sec": canary_sec,
                "canary_drift_vs_prev": round(drift, 3) if drift else None,
                "median_shared_ratio_vs_prev": median_ratio,
                "n_regressions_gt_1.2x_norm_adj": len(regressions),
                "n_registered": len(registry),
                "worst5": worst5,
                "detail_file": "BENCH_DETAIL.json",
                "sf": sf_val,
            }
        )
    )
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
