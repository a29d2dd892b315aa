"""Self-tests of the benchmark, run from the repository root::

    python3 perfbench/selftest.py

1. A smoke run (one warm-up and one measured pass) of every workload,
   untraced and traced, prints every metric BENCHMARK.json declares, with
   its unit, and passes its output checks.
2. Each traced span's call count is > 0 on the workloads ``layers.json``
   marks active and == 0 on those it marks idle.
3. Deleting one sunk part file makes the ingest check fail.
4. Run from a directory holding only BENCHMARK.json and the benchmark's
   files, the command exits non-zero without printing a result.

Exit status 0 when every test passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
LAYERS = json.load(open(os.path.join(HERE, "layers.json")))["spans"]
SEED = 7


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace),
    ]
    if cwd == ROOT:
        cmd.append("--smoke")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def test_smoke_and_call_predictions(failures: list[str]) -> None:
    declared = {0: BENCH["end_to_end"], 1: BENCH["per_layer"]}
    for w in (w["name"] for w in BENCH["workloads"]):
        for trace in (0, 1):
            rc, lines = run(ROOT, w, trace)
            if rc != 0 or not lines:
                failures.append(f"{w} trace={trace}: exit {rc}")
                continue
            out = json.loads(lines[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"} or not out["correct"]:
                failures.append(f"{w} trace={trace}: bad result {lines[-1][:200]}")
            want = {m["name"]: m["unit"] for m in declared[trace]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics {got} != declared {want}")
            for name, unit in want.items():
                if not any(line.split()[:1] == [name] and line.split()[-1] == unit for line in lines):
                    failures.append(f"{w} trace={trace}: {name} not printed with {unit}")
        record = json.load(open(os.path.join(ROOT, ".bench_work", f"trace-{w}-seed{SEED}.json")))
        for span, spec in LAYERS.items():
            calls = record["span_table"][f"{span}_calls"]
            if w in spec["active"] and not calls > 0:
                failures.append(f"{w}: {span} recorded {calls} calls, predicted > 0")
            if w in spec["idle"] and calls != 0:
                failures.append(f"{w}: {span} recorded {calls} calls, predicted 0")


def test_deleted_part_fails_check(failures: list[str]) -> None:
    sys.path[:0] = [ROOT, HERE]
    import run as bench
    from spans import NullTracer
    from workloads import SmallFileIngest, check_sunk_rows

    work = os.path.join(bench.WORK_ROOT, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench.pin_env(work)
    spark, _ = bench.start_session()
    try:
        wl = SmallFileIngest(work, SEED)
        res = wl.run_pass(spark, NullTracer())
        if res.errors:
            failures.append(f"intact pass failed its check: {res.errors}")
        wh = res.extra["warehouse"]
        part = next(
            os.path.join(d, f)
            for d, _, files in os.walk(os.path.join(wh, "csv_data"))
            for f in files
            if f.endswith(".parquet")
        )
        os.remove(part)
        expected = {f"bench/{k}": n for k, n in wl.inputs.expected_rows.items()}
        if not check_sunk_rows(spark, wh, wl._targets(), expected):
            failures.append("deleting a sunk part file did not fail the ingest check")
    finally:
        bench.stop_spark(spark)


def test_fails_without_package(failures: list[str]) -> None:
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run(bare, BENCH["workloads"][0]["name"], 0)
    if rc == 0 or (lines and lines[-1].startswith("{")):
        failures.append(f"package-less run: exit {rc}, last line {lines[-1:]}")
    shutil.rmtree(bare)


def main() -> int:
    failures: list[str] = []
    for test in (test_fails_without_package, test_smoke_and_call_predictions,
                 test_deleted_part_fails_check):
        n = len(failures)
        test(failures)
        print(f"{'ok  ' if len(failures) == n else 'FAIL'} {test.__name__}", flush=True)
    for f in failures:
        print(f"  {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
