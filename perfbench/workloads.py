"""The benchmark's workloads: one pass over a fixed input set, plus the
output checks that run after the timed region.

Each workload is a closed loop with one caller. A pass is timed from the
first call into the package to the return of the last one; input
generation, fresh directories and the checks are outside it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from gen import IngestInputs, make_ingest_inputs, write_queue

HERE = os.path.dirname(os.path.abspath(__file__))
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file, None once gone."""
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return None
    return st[st.index("(") + 1 : st.rindex(")")], st[st.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the Spark JVM and its Python workers): user + system time of the live
    ones plus what they reaped. Hypervisor steal is not in it."""
    parent, cpu = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        st = _stat(f"/proc/{pid}/stat")
        if st:
            parent[int(pid)] = int(st[1][1])
            cpu[int(pid)] = sum(int(x) for x in st[1][11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return sum(cpu[p] for p in tree) / _TICK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads (kept alive
    by ``-XX:-UseDynamicNumberOfCompilerThreads``, so none of their time
    leaves with an exited thread)."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        st = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if st and "CompilerThre" in st[0]:
            total += int(st[1][11]) + int(st[1][12])
    return total / _TICK


class Meter:
    """Wall time, work CPU time and Spark jobs of one timed region.

    Work CPU is the process tree's CPU time less the JIT compiler threads':
    compilation still runs through the measured passes (on query_mix it
    falls from 14 to 7 CPU seconds per pass over passes 2-4) and when it
    lands depends on the host's load, while the remaining work CPU holds
    within a few percent under load that makes wall time 45% longer."""

    def __init__(self, spark) -> None:
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self._jvm = spark.sparkContext._gateway.proc.pid

    def __enter__(self) -> "Meter":
        self._jobs0, self._jit0, self._cpu0 = (
            self._sched.nextJobId(), jit_cpu_s(self._jvm), tree_cpu_s()
        )
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.jit_s = jit_cpu_s(self._jvm) - self._jit0
        self.cpu_s = tree_cpu_s() - self._cpu0 - self.jit_s
        self.job_ids = range(self._jobs0, self._sched.nextJobId())


def count_tasks(spark, job_ids: range) -> int:
    """Tasks of the given Spark jobs' stages, skipped stages included."""
    # the status store is fed by the listener bus, which runs behind the
    # scheduler
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    return sum(
        tracker.getStageInfo(stage).numTasks
        for job in job_ids
        for stage in tracker.getJobInfo(job).stageIds
    )


@dataclass
class PassResult:
    pass_s: float
    cpu_s: float  # work CPU seconds in the timed region (see Meter)
    job_ids: range  # the Spark jobs run in the timed region
    #: one latency per operation: a file's audit-row end - start, or one
    #: query's construction + execution
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rows: int = 0  # rows sunk into target tables, or result rows materialised
    input_bytes: int = 0
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# ingest_small_files
# --------------------------------------------------------------------------
class SmallFileIngest:
    """KB-scale files drained through ``SqsFrontDoorLoop``: one S3-event
    body per file, at most ``PER_RECEIVE`` bodies per queue file (one SQS
    receive)."""

    name = "ingest_small_files"
    #: files per pass by kind, and bodies per receive: two receives, so the
    #: second micro-batch's replay guard rereads the first one's audit rows.
    #: On 4 cores a file costs about 1.6 s warm and a single pass varies by
    #: up to 15% from the next, so a run measures the median of three; with
    #: a cold start (~11 s), a cold pass (~17 s) and a warm-up pass, four
    #: files keep a run near a minute.
    FILES = dict(n_csv=1, n_json=1, n_txt=1, n_unroutable=1)
    PER_RECEIVE = 2

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.inputs: IngestInputs = make_ingest_inputs(
            os.path.join(work_dir, "landing"), seed, **self.FILES
        )
        self._n = 0

    def run_pass(self, spark, tracer) -> PassResult:
        from data_ingestion_spark.pipeline import IngestionPipeline
        from data_ingestion_spark.streaming.ingest_stream import SqsFrontDoorLoop

        # a fresh warehouse, checkpoint and queue per pass: a carried-over
        # audit log would grow the replay guard's reread pass after pass
        pass_dir = os.path.join(self.work_dir, f"pass-{self._n:03d}")
        self._n += 1
        write_queue(os.path.join(pass_dir, "queue"), self.inputs.keys, self.PER_RECEIVE)
        pipeline = IngestionPipeline(
            spark, os.path.join(pass_dir, "warehouse"), base_dir=self.inputs.landing_dir
        )
        loop = SqsFrontDoorLoop(
            pipeline,
            os.path.join(pass_dir, "queue"),
            os.path.join(pass_dir, "checkpoint"),
            max_files_per_trigger=1,
        )
        with tracer.span("pass"), Meter(spark) as m:
            loop.run_available()
        res = PassResult(m.wall_s, m.cpu_s, m.job_ids, attempted=len(self.inputs.keys))
        res.extra["jit_s"] = m.jit_s
        res.input_bytes = self.inputs.input_bytes
        res.rows = sum(r.rows for r in loop.results)
        res.extra["warehouse"] = pipeline.warehouse_dir
        self._check(spark, pipeline, loop, res)
        return res

    def _check(self, spark, pipeline, loop, res: PassResult) -> None:
        from gen import BUCKET

        name = lambda key: f"{BUCKET}/{key}"  # noqa: E731
        good = {name(k): n for k, n in self.inputs.expected_rows.items()}
        bad = {name(k) for k in self.inputs.unroutable}
        ok = {r.file_name for r in loop.results if r.status == "Success"}
        res.failed = len((set(good) - ok) | ({f for f, _ in loop.failures} - bad))
        res.errors += [f"{f}: not ingested" for f in sorted(set(good) - ok)]
        res.errors += [f"{f}: unexpected failure {m}" for f, m in loop.failures if f not in bad]
        res.errors += [f"{f}: routed, expected no rule" for f in sorted(bad & ok)]

        status = pipeline.log.current_status().collect()
        by_file: dict[str, list] = {}
        for r in status:
            by_file.setdefault(r["file_name"], []).append(r)
        for f in good:
            rows = by_file.get(f, [])
            if len(rows) != 1 or rows[0]["status"] != "Success" or rows[0]["end_time"] is None:
                res.errors.append(f"{f}: audit rows {[(r['status'], r['end_time']) for r in rows]}")
            else:
                res.latencies.append((rows[0]["end_time"] - rows[0]["start_time"]).total_seconds())
        for f in bad:
            rows = by_file.get(f, [])
            if [r["status"] for r in rows] != ["Failed"]:
                res.errors.append(f"{f}: audit rows {[r['status'] for r in rows]}, want one Failed")
        res.errors += check_sunk_rows(spark, pipeline.warehouse_dir, self._targets(), good)

    def _targets(self) -> list[str]:
        from data_ingestion_spark.rules import DEFAULT_RULES

        # match(), not match_or_raise(): the traced run counts the latter's calls
        return sorted({DEFAULT_RULES.match(k).target_table for k in self.inputs.expected_rows})


def check_sunk_rows(spark, warehouse: str, tables: list[str], expected: dict[str, int]) -> list[str]:
    """Rows per file_name across the target tables must equal the rows
    generated for that file."""
    from functools import reduce

    from pyspark.errors import AnalysisException
    from pyspark.sql import DataFrame

    from data_ingestion_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, warehouse)
    frames, errors = [], []
    for t in tables:
        if not sink.table_exists(t):
            continue
        try:
            frames.append(sink.read_table(t).select("file_name"))
        except AnalysisException as ex:  # e.g. a table left with no part files
            errors.append(f"{t}: unreadable ({type(ex).__name__})")
    got = {}
    if frames:
        counts = reduce(DataFrame.unionByName, frames).groupBy("file_name").count().collect()
        got = {r["file_name"]: r["count"] for r in counts}
    return errors + [
        f"{f}: {got.get(f, 0)} rows sunk, generated {n}"
        for f, n in sorted(expected.items())
        if got.get(f, 0) != n
    ] + [f"{f}: sunk but never generated" for f in sorted(set(got) - set(expected))]


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------
#: Construction-heavy (quantile_merge_summaries_docs runs its eager cuts
#: inside fn()), relational with several load_table calls
#: (tpch_q3_shipping_priority, agg_pricing_summary) and LLM-data operators
#: (text_quality_docs, knn_ivf_topk), each with a DuckDB oracle. The list
#: keeps a run near a minute on 4 cores: pagerank_supplier_graph (12.5 s
#: cold, 3.7 s warm), golden_record_customers (5.3 s / 3.3 s) and
#: dedup_minhash_docs (7.5 s / 1.2 s) would triple the warm-up.
QUERIES = (
    "quantile_merge_summaries_docs",
    "tpch_q3_shipping_priority",
    "agg_pricing_summary",
    "text_quality_docs",
    "knn_ivf_topk",
)
#: a copy of the repository's synthetic sf0.01 test tables (TESTDATA.md),
#: kept with the benchmark so a run reads only files of its checkout
SF_DIR = os.path.join(HERE, "tables", "sf0.01")


class QueryMix:
    """Registry queries over the sf0.01 tables, materialised with Arrow
    ``toPandas()`` as ``bench.py`` does; results are compared with each
    query's DuckDB oracle using ``tools/check_oracle.py``'s compare. The
    tables are fixed, so every seed runs the same work."""

    name = "query_mix"

    def __init__(self, work_dir: str, seed: int) -> None:
        self.sf_dir = SF_DIR
        self._oracle: dict = {}

    def _oracle_frames(self) -> dict:
        if not self._oracle:
            import duckdb

            from data_ingestion_spark.queries import merged_queries

            reg = merged_queries()
            con = duckdb.connect()
            for f in os.listdir(self.sf_dir):
                path = os.path.join(self.sf_dir, f)
                con.sql(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM read_parquet('{path}')")
            self._oracle = {q: con.sql(reg[q][1]).df() for q in QUERIES}
            con.close()
        return self._oracle

    def run_pass(self, spark, tracer) -> PassResult:
        from data_ingestion_spark.queries import merged_queries

        reg = merged_queries()
        results, latencies, errors = {}, [], []
        with tracer.span("pass"), Meter(spark) as m:
            for q in QUERIES:
                q0 = time.perf_counter()
                try:
                    with tracer.span("queries.construct"):
                        df = reg[q][0](spark, self.sf_dir)
                    with tracer.span("queries.execute"):
                        results[q] = df.toPandas()
                except Exception as ex:  # noqa: BLE001 - a failed query is counted, not fatal
                    errors.append(f"{q}: {type(ex).__name__}: {ex}")
                latencies.append(time.perf_counter() - q0)
        res = PassResult(m.wall_s, m.cpu_s, m.job_ids, latencies, attempted=len(QUERIES),
                         failed=len(errors), errors=errors)
        res.extra["query_s"] = dict(zip(QUERIES, latencies))
        res.extra["jit_s"] = m.jit_s
        res.rows = sum(len(r) for r in results.values())
        res.errors += self._check(results)
        return res

    def _check(self, results: dict) -> list[str]:
        from check_oracle import compare

        errors = []
        for q, want in self._oracle_frames().items():
            if q in results:
                errors += [f"{q}: {e}" for e in compare(q, results[q], want)]
        return errors


WORKLOADS = {w.name: w for w in (SmallFileIngest, QueryMix)}
