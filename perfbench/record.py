"""Write the traced-run record, ``records/trace-record.json``.

Run from the repository root::

    python3 perfbench/record.py [--seed 601]

Per workload it runs the benchmark untraced, traced, traced and untraced,
back to back on one seed. The record holds, per span kind, the total and
self seconds, inclusive Spark jobs and calls per measured pass of the first
traced run; that run's per-layer metrics; whether the ``*_jobs`` metrics
repeat exactly in the second traced run; and the tracing overhead, median
traced minus median untraced ``pass_s`` (wall) and ``pass_cpu_s`` (work CPU).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPANS = json.load(open(os.path.join(HERE, "layers.json")))["spans"]


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not json.loads(lines[-1])["correct"]:
        sys.exit(f"{' '.join(cmd)}: exit {p.returncode}\n" + "\n".join(lines[-20:]))
    out = {"result": json.loads(lines[-1])["metrics"], "detail": json.loads(lines[-2][len("detail: "):])}
    if trace:
        with open(os.path.join(ROOT, ".bench_work", f"trace-{workload}-seed{seed}.json")) as f:
            out["trace"] = json.load(f)
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=601)
    seed = p.parse_args().seed
    record = {
        "seed": seed,
        "command": " ".join(BENCH["command"]) + f" --workload W --seed {seed}"
        f" --seconds {BENCH['run_seconds']} --trace 1",
        "about": " ".join(__doc__.split("\n\n")[3].split()),
        "host": {
            "cpus": len(os.sched_getaffinity(0)),
            "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "python": platform.python_version(),
        },
        "workloads": {},
    }
    for w in (w["name"] for w in BENCH["workloads"]):
        untraced_a, traced_a, traced_b, untraced_b = (
            run(w, seed, t) for t in (0, 1, 1, 0)
        )
        table = traced_a["trace"]["span_table"]
        jobs = lambda r: {k: v["value"] for k, v in r["result"].items() if k.endswith("_jobs")}  # noqa: E731
        overhead = {
            k: statistics.median(r["detail"][k] for r in (traced_a, traced_b))
            - statistics.median(r["detail"][k] for r in (untraced_a, untraced_b))
            for k in ("pass_s", "pass_cpu_s")
        }
        record["workloads"][w] = {
            "spans_per_pass": {
                s: {
                    "total_s": round(table[f"{s}_s"], 4),
                    "self_s": round(table[f"{s}_self_s"], 4),
                    "jobs": table[f"{s}_jobs"],
                    "calls": table[f"{s}_calls"],
                }
                for s in ("pass", *SPANS)
            },
            "per_layer_metrics": {k: v["value"] for k, v in traced_a["result"].items()},
            "untraced": {k: [r["detail"][k] for r in (untraced_a, untraced_b)]
                         for k in ("pass_s", "pass_cpu_s", "steal_share")},
            "traced": {k: [r["detail"][k] for r in (traced_a, traced_b)]
                       for k in ("pass_s", "pass_cpu_s", "steal_share")},
            "tracing_overhead": overhead,
            "job_counts_repeat": jobs(traced_a) == jobs(traced_b),
            "job_counts": jobs(traced_a),
        }
        print(w, json.dumps(record["workloads"][w]["tracing_overhead"]), flush=True)
    with open(os.path.join(HERE, "records", "trace-record.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
