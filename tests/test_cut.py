"""``session.cut`` is the package's only lineage-cut mechanism.

Every eager or lazy cut goes through it, so a change of how lineage is
cut (a reliable checkpoint, per-cut metrics) is a change to one
function. The scan below keeps it that way; the behavioural test pins
what callers rely on: the job count at call time and unchanged rows.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_ingestion_spark")


def _violations():
    found = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                    continue
                a = fn.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg == "materialize":
                        found.append(f"{rel}:{fn.lineno} parameter 'materialize'")
            in_cut = set()
            if rel == "session.py":
                for fn in tree.body:
                    if isinstance(fn, ast.FunctionDef) and fn.name == "cut":
                        in_cut = {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("localCheckpoint", "checkpoint")
                        and id(node) not in in_cut):
                    found.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    return found


def test_no_lineage_cut_outside_session_cut():
    assert _violations() == []


def test_cut_job_counts_and_rows(spark):
    from data_ingestion_spark.session import cut

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    df = spark.range(0, 200, numPartitions=4).selectExpr("id", "id % 7 AS k")
    want = sorted(map(tuple, df.collect()))

    j0 = sched.nextJobId()
    eager = cut(df)
    assert sched.nextJobId() - j0 == 1

    j0 = sched.nextJobId()
    lazy = cut(df, eager=False)
    assert sched.nextJobId() - j0 == 0

    assert sorted(map(tuple, eager.collect())) == want
    assert sorted(map(tuple, lazy.collect())) == want
