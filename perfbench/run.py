"""Benchmark of ``data_ingestion_spark`` on its public API.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_small_files --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``), each a closed loop with one caller on
``local[nproc]``:

- ``ingest_small_files``: KB-scale CSV/JSON/TXT files plus an unroutable key,
  drained through ``streaming.SqsFrontDoorLoop``. Fixed per-file costs
  dominate: audit-log appends, parse probes, the replay guard, S3-event
  decode and micro-batch overhead.
- ``query_mix``: registry queries over the repository's sf0.01 test tables
  (a copy under ``tables/``), materialised with Arrow ``toPandas()``. The
  only workload that exercises ``session`` and ``queries``/``operators``;
  the ingest layers are idle in it.

A run generates the ingest inputs from ``--seed`` (the query tables are the
same for every seed), starts Spark, measures set-up, runs ``WARMUP_PASSES``
untimed passes, then measures a fixed number of passes,
``round(seconds / NOMINAL_PASS_S)`` and at least ``MIN_PASSES``, and reports
medians. Every pass gets fresh output directories, and its outputs are
checked outside the timed region. The detail line's ``steal_share`` is the
share of CPU time the hypervisor took during the measured passes.

End-to-end metrics, each with a bound in BENCHMARK.json: ``setup_s`` is
``get_spark`` plus a first action, the cost a user pays at process start,
JVM launch included, measured once per run. ``jobs_per_pass`` and
``tasks_per_pass`` are the Spark jobs a pass runs and their stages' tasks
(the counts the Spark UI shows), medians over the measured passes.

Times of a pass are printed on the lines before the result, without a
bound: ``pass_s`` (wall), ``pass_cpu_s`` (work CPU: the CPU seconds the
driver, the JVM and its Python workers spend in the pass, less the JIT
compiler threads', see ``workloads.Meter``), ``latency_p50_s`` (a file's
audit-row ``end_time - start_time``, or one query's construction plus
``toPandas``) and ``rows_per_s`` (rows sunk into target tables, or result
rows materialised, per second of pass time). On a shared host they move
with the neighbours' load: over ten consecutive runs of query_mix on a
4-vCPU VM the middle half of ``pass_s`` spread 26% of its median and that
of ``pass_cpu_s`` 22%, while the counts do not move at all.

The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` installs spans
around each layer's public calls (``spans.py``) and reports the per-layer
metrics, normalised per measured pass. The lines before it print every
metric with its unit, including the workload-specific ones (``files_per_s``,
``mb_per_s``, ``failed_share``, ...). Exit status 1 means an output check
failed; 2 means the package is not importable from the checkout.

The environment is pinned here, before Spark starts: ``SPARK_GRAFT_CPUS``
= nproc, ``SPARK_GRAFT_DRIVER_MEM`` = ``DRIVER_MEM`` (``get_spark`` defaults
to 48g), ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under ``.bench_work/``, JIT
compiler threads that live as long as the JVM, and the
repository root on ``PYTHONPATH`` so Arrow Python workers import the package
from any working directory. All files a run writes stay under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

DRIVER_MEM = "4g"
#: untimed passes after set-up: the cold one. The count is fixed, not
#: "until two passes agree", so every run measures the same stretch of the
#: JIT's warm-up, which goes on for more than eight passes of query_mix; a
#: count that varied with the host's load would move the measured passes
#: along that curve.
WARMUP_PASSES = 1
#: a warm pass of either workload on 4 vCPUs; ``--seconds`` buys
#: ``round(seconds / NOMINAL_PASS_S)`` measured passes, at least MIN_PASSES,
#: the same number on every run
NOMINAL_PASS_S = 6.0
MIN_PASSES = 2

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
#: metric name -> unit, as BENCHMARK.json declares them
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
WORKLOAD_NAMES = tuple(w["name"] for w in _BENCH["workloads"])

#: the span names install() and the workloads record (layers.json maps
#: each to its metrics)
with open(os.path.join(HERE, "layers.json")) as _f:
    SPANS = ("pass", *json.load(_f)["spans"])


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="one warm-up and one measured pass")
    return p.parse_args(argv)


def pin_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_MUTE_WINDOWEXEC"] = "1"  # as bench.py runs
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads" pyspark-shell'
    )


def start_session():
    """``session.get_spark`` plus the first action."""
    from data_ingestion_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]):
    """Share of CPU time the hypervisor took from this machine between two
    readings: a slow host, not a slow program, when it is high."""
    if not before or not after or sum(after) == sum(before):
        return None
    return (after[7] - before[7]) / (sum(after) - sum(before))


def span_table(spans, n_passes: int) -> dict[str, float]:
    """``{span}_s``, ``{span}_self_s``, ``{span}_jobs`` and ``{span}_calls``
    summed over the measured passes' spans, per pass."""
    table = {f"{n}_{k}": 0.0 for n in SPANS for k in ("s", "self_s", "jobs", "calls")}
    for sp in spans:
        if sp.pass_index is None:
            continue
        table[f"{sp.name}_s"] += sp.duration
        table[f"{sp.name}_self_s"] += sp.self_s
        table[f"{sp.name}_jobs"] += sp.jobs
        table[f"{sp.name}_calls"] += 1
    return {k: v / n_passes for k, v in table.items()}


def _parts(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def layer_metrics(tracer, measured, table) -> dict[str, float]:
    n = len(measured)
    m = {k: table[k] for k in PER_LAYER if k in table}
    m["trace.pass_s"] = statistics.median(r.pass_s for r in measured)
    m["trace.pass_cpu_s"] = statistics.median(r.cpu_s for r in measured)
    m["pipeline.self_s"] = table["pipeline.process_file_self_s"]
    m["sinks.rows"] = sum(
        sp.attrs.get("rows", 0) for sp in tracer.spans if sp.pass_index is not None
    ) / n
    log_parts, sink_parts = [], []
    for r in measured:
        wh = r.extra.get("warehouse")
        if wh and os.path.isdir(wh):
            for t in os.listdir(wh):
                (log_parts if t == "ingestion_logs" else sink_parts).extend(_parts(os.path.join(wh, t)))
    m["logs.files_written"] = len(log_parts) / n
    m["sinks.files_written"] = len(sink_parts) / n
    m["sinks.bytes_written"] = sum(os.path.getsize(p) for p in sink_parts) / n
    batches, batch_ms = 0, 0.0
    for idx, query in tracer.streams:
        if idx is None:
            continue
        for prog in query.recentProgress:
            dur = prog.durationMs if hasattr(prog, "durationMs") else prog["durationMs"]
            batches += 1
            batch_ms += dur.get("triggerExecution", 0)
    m["streaming.batches"] = batches / n
    m["streaming.batch_s"] = batch_ms / 1000.0 / n
    return {k: m[k] for k in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_ingestion_spark", "__init__.py")):
        print(f"no data_ingestion_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work)
    os.chdir(work)  # spark-warehouse and friends land in the work dir
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

    from spans import NullTracer, Tracer, dump, finalize, install

    from workloads import WORKLOADS, count_tasks

    workload = WORKLOADS[args.workload](work, args.seed)

    # one cold start per run: another, in a new JVM, costs ~11 s on 4 cores,
    # as much as the measured passes, and the run budget holds one
    spark, setup_s = start_session()

    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        install(tracer)

    errors: list[str] = []
    warm: list[float] = []
    for _ in range(WARMUP_PASSES):
        r = workload.run_pass(spark, tracer)
        errors += r.errors
        warm.append(r.pass_s)
        if args.trace:
            tracer.count_jobs()

    steal0 = cpu_ticks()
    measured = []
    n_passes = 1 if args.smoke else max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S))
    while len(measured) < n_passes:
        tracer.pass_index = len(measured)
        r = workload.run_pass(spark, tracer)
        tracer.pass_index = None
        errors += r.errors
        measured.append(r)
        if args.trace:
            tracer.count_jobs()

    total_s = sum(r.pass_s for r in measured)
    latencies = [x for r in measured for x in r.latencies]
    attempted = sum(r.attempted for r in measured)
    failed = sum(r.failed for r in measured)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "setup_s": setup_s,
        "warmup_pass_s": warm,
        "pass_s": statistics.median(r.pass_s for r in measured),
        "passes": [r.pass_s for r in measured],
        "pass_cpu_s": statistics.median(r.cpu_s for r in measured),
        "cpu_passes": [r.cpu_s for r in measured],
        "jit_cpu_passes": [r.extra["jit_s"] for r in measured],
        "jobs_per_pass": statistics.median(len(r.job_ids) for r in measured),
        "tasks_per_pass": statistics.median(count_tasks(spark, r.job_ids) for r in measured),
        "latency_p50_s": statistics.median(latencies),
        "latency_samples": len(latencies),
        "rows_per_s": sum(r.rows for r in measured) / total_s,
        "failed_share": failed / attempted,
        "wall_s": time.perf_counter() - T_START,
        "steal_share": steal_share(steal0, cpu_ticks()),
    }
    if "query_s" in measured[0].extra:
        detail["query_s"] = {
            q: statistics.median(r.extra["query_s"][q] for r in measured)
            for q in measured[0].extra["query_s"]
        }
    units = dict(END_TO_END, pass_s="s", pass_cpu_s="s", latency_p50_s="s",
                 rows_per_s="rows/s", failed_share="failed/attempted")
    if args.workload == "ingest_small_files":
        detail["files_per_s"] = attempted / total_s
        detail["mb_per_s"] = sum(r.input_bytes for r in measured) / 1e6 / total_s
        detail["file_p50_s"] = detail["latency_p50_s"]
        units.update(files_per_s="files/s", mb_per_s="MB/s", file_p50_s="s")
        # a p90 needs 10 samples beyond it, i.e. 100 files in one pass
        per_pass = len(measured[0].latencies)
        if per_pass >= 100:
            detail["file_p90_s"] = statistics.quantiles(latencies, n=10)[8]
            units["file_p90_s"] = "s"
        else:
            print(f"file_p90_s: not reported, {per_pass} files per pass")

    if args.trace:
        errors += finalize(tracer.spans)
        table = span_table(tracer.spans, len(measured))
        metrics = layer_metrics(tracer, measured, table)
        units = dict(PER_LAYER)
        with open(os.path.join(WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"detail": detail, "metrics": metrics, "span_table": table,
                       "spans": dump(tracer.spans)}, f, indent=1)
    else:
        metrics = {k: detail[k] for k in END_TO_END}

    stop_spark(spark)
    for e in errors:
        print(f"CHECK FAILED: {e}")
    for k, v in (metrics if args.trace else detail).items():
        if k in units:
            print(f"{k:32s} {v:14.6g} {units[k]}")
    print("detail: " + json.dumps(detail))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
