"""The stateful streaming guards: running totals, exact dedup, SimHash
near-dup, heavy hitters and rate-limit admission.

Each guard is a ``writeStream.foreachBatch`` processor over a keyed
state TABLE kept in the repo's versioned table format. Every processor
goes through one replay guard, ``guarded``, which owns the whole
transaction group under the processor's ``root``:

- ``state``: the guard's keyed state after the last applied batch;
- ``out``: the rows one applied batch emitted (guards that emit rows);
- ``applied``: the ledger of applied ``(query_id, batch_id)`` keys, each
  with the ``out`` version it wrote.

Per micro-batch the guard reads the state and ledger PINNED by the last
``tableformat.commit_atomic`` transaction, returns at once when this
``(query id, batch_id)`` is already in the ledger (a foreachBatch
redelivery), and otherwise commits the new state, the output and the
ledger entry as one transaction. A crash between member commits and the
transaction flip leaves only unpinned orphan versions; the replayed
batch recomputes from the pinned state. The query id is Spark's
``sql.streaming.queryId``: stable across restarts from one checkpoint,
new for a new checkpoint, so a second query over the same root applies
its own batch 0 instead of skipping it. Calls made outside a stream
share one fixed key.

Semantics are batch-granular: a key's replay counter is resolved once
per micro-batch, and the near-dup guard's within-batch pass flags a doc
that matches ANY earlier state-kept arrival of the same batch (the rare
chain case, doc C matching only an already-flagged doc B, is flagged
too). Flagged docs are never stored.

Scale shape: per micro-batch, one keyed agg of the batch, one keyed join
against the state table and one commit. State lives in parquet snapshots
(object store at scale), not executor memory. The ledger gains one row
per applied batch. A watermark-bounded dedup horizon is
``stream_joins.dedup_events`` (``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokens
from ..operators import dedup, tableformat
from ..session import cut

#: ledger key of a processor called outside a streaming query
_DIRECT_QUERY = "direct"
_LEDGER_SCHEMA = "query_id string, batch_id long, out_v long"


def guarded(root: str, state_schema: str, step):
    """The one replay guard: wrap ``step(batch_df, state) -> (new_state,
    out or None)`` as a foreachBatch processor over the transaction group
    at ``root`` (see the module docstring). Output rows are stamped with
    the ``batch_id`` that produced them."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        query = (
            spark.sparkContext.getLocalProperty("sql.streaming.queryId")
            or _DIRECT_QUERY
        )
        if os.path.exists(tableformat._txn_path(root)):
            ledger = [
                tuple(r)
                for r in tableformat.read_atomic(spark, root, "applied").collect()
            ]
            if any(q == query and b == batch_id for q, b, _ in ledger):
                return  # micro-batch replay: the pinned txn already has it
            state = tableformat.read_atomic(spark, root, "state")
        else:
            ledger, state = [], spark.createDataFrame([], state_schema)
        new_state, out = step(batch_df, state)
        members = {"state": ("plain", new_state)}
        out_v = None
        if out is not None:
            out_v = tableformat.next_version(os.path.join(root, "out"))
            members["out"] = (
                "plain", out.withColumn("batch_id", F.lit(int(batch_id)))
            )
        ledger.append((query, int(batch_id), out_v))
        members["applied"] = ("plain", spark.createDataFrame(ledger, _LEDGER_SCHEMA))
        tableformat.commit_atomic(root, members)

    return process


def read_output(spark: SparkSession, root: str) -> DataFrame:
    """Every applied micro-batch's output rows, each batch once: the
    ``out`` versions the pinned ledger names (a torn commit's orphan
    version is never named)."""
    out_root = os.path.join(root, "out")
    versions = sorted(
        r["out_v"]
        for r in tableformat.read_atomic(spark, root, "applied").collect()
        if r["out_v"] is not None
    )
    return reduce(
        DataFrame.unionByName,
        [tableformat.read_version(spark, out_root, v) for v in versions],
    )


def run_stream(stream_df: DataFrame, process, checkpoint: str):
    """Wire a processor as a real Structured Streaming query:
    readStream → foreachBatch(process) with a checkpoint, so replays and
    batch ids behave exactly as in production."""
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Running totals
# ---------------------------------------------------------------------------
def running_totals_batch(root: str):
    """Per-user running totals as keyed state (user_id, total, n_events)."""

    def step(batch_df: DataFrame, state: DataFrame):
        delta = batch_df.groupBy("user_id").agg(
            F.sum("value").alias("d_total"), F.count(F.lit(1)).alias("d_n")
        )
        merged = state.join(delta, "user_id", "full_outer").select(
            "user_id",
            (F.coalesce("total", F.lit(0.0)) + F.coalesce("d_total", F.lit(0.0))).alias("total"),
            (F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n_events"),
        )
        return merged, None

    return guarded(root, "user_id long, total double, n_events long", step)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def dedup_batch(root: str):
    """First-arrival-wins exact dedup by content fingerprint ``fp``.

    State: (fp, winner_id, n_dup). Within a batch the winner is the MIN
    doc_id. Emits every input row with ``kept`` and the key's replay
    counter after this batch."""

    def step(batch_df: DataFrame, state: DataFrame):
        agg = batch_df.groupBy("fp").agg(
            F.min("doc_id").alias("winner_b"), F.count(F.lit(1)).alias("n_b")
        )
        resolved = agg.join(state, "fp", "left").select(
            "fp",
            F.coalesce("winner_id", F.col("winner_b")).alias("winner_id"),
            (
                F.coalesce("n_dup", F.lit(0))
                + F.col("n_b")
                - F.when(F.col("winner_id").isNull(), 1).otherwise(0)
            ).alias("n_dup"),
            F.col("winner_id").isNull().alias("fp_is_new"),
        )
        out = batch_df.join(resolved, "fp").select(
            "fp",
            "doc_id",
            (F.col("fp_is_new") & (F.col("doc_id") == F.col("winner_id"))).alias("kept"),
            "n_dup",
        )
        new_state = state.join(agg, "fp", "left_anti").unionByName(
            resolved.select("fp", "winner_id", "n_dup")
        )
        return new_state, out

    return guarded(root, "fp string, winner_id long, n_dup long", step)


# ---------------------------------------------------------------------------
# SimHash near-dup guard
# ---------------------------------------------------------------------------
#: 4 bands of 15 bits: any pair within hamming 3 shares a band (pigeonhole)
_BANDS, _BAND_BITS, _MAX_HAMMING = 4, 15, 3
#: stored members per band bucket; a hot bucket degrades to first-N compares
_MAX_BUCKET = 64


def neardup_batch(root: str):
    """Banded SimHash near-dup guard (signatures from ``dedup.simhash``).

    State: (bk, id, simhash) member rows per pigeonhole band. A doc is
    flagged iff ANY of its bands holds a member (stored, or an earlier
    state-kept arrival of the same batch) within hamming 3. Kept docs
    append to their bands up to 64 members (capped docs are kept but not
    stored). Docs with no tokens have no signature and emit no row."""

    def step(batch_df: DataFrame, state: DataFrame):
        sig = cut(dedup.simhash(batch_df, "doc_id", "text"))  # feeds 4 reads
        banded = sig.select(
            "id",
            "simhash",
            F.explode(dedup.band_keys(F.col("simhash"), _BANDS, _BAND_BITS)).alias("bk"),
        )

        def near(a, b):
            xor = F.col(f"{a}.simhash").bitwiseXOR(F.col(f"{b}.simhash"))
            return F.bit_count(xor) <= _MAX_HAMMING

        # pass 1: vs stored members
        vs_state = (
            banded.alias("x").join(state.alias("m"), "bk")
            .filter(near("x", "m")).select("x.id").distinct()
        )
        # pass 2: vs earlier state-kept arrivals of this batch
        clean = banded.join(vs_state, "id", "left_anti")
        vs_batch = (
            clean.alias("x").join(clean.alias("e"), "bk")
            .filter((F.col("e.id") < F.col("x.id")) & near("x", "e"))
            .select("x.id").distinct()
        )
        flagged = vs_state.unionByName(vs_batch).distinct()
        out = sig.join(flagged.withColumn("kept", F.lit(False)), "id", "left").select(
            F.col("id").alias("doc_id"), F.coalesce("kept", F.lit(True)).alias("kept")
        )
        # pass 3: append kept docs' bands, respecting the bucket cap
        counts = state.groupBy("bk").agg(F.count(F.lit(1)).alias("n_m"))
        rn = F.row_number().over(Window.partitionBy("bk").orderBy("id"))
        admitted = (
            banded.join(flagged, "id", "left_anti")
            .join(counts, "bk", "left")
            .withColumn("rn", rn)
            .filter(F.col("rn") + F.coalesce("n_m", F.lit(0)) <= _MAX_BUCKET)
            .select("bk", "id", "simhash")
        )
        return state.unionByName(admitted), out

    return guarded(
        root, "bk struct<band: int, key: bigint>, id bigint, simhash bigint", step
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters (sharded weighted Misra-Gries)
# ---------------------------------------------------------------------------
def _mg_merge(counters: dict, token: str, weight: int, k: int) -> None:
    """Weighted Misra-Gries insert: add, then while the table exceeds k,
    subtract the minimum counter from everything and drop zeros — each
    pass removes at least one entry, and total decrement mass is bounded
    by shard_total/(k+1) (the standard weighted-MG argument)."""
    counters[token] = counters.get(token, 0) + weight
    while len(counters) > k:
        m = min(counters.values())
        for t in list(counters):
            counters[t] -= m
            if counters[t] <= 0:
                del counters[t]


def heavy_hitters_batch(root: str, n_shards: int = 8, k: int = 16):
    """Sharded weighted Misra-Gries: state (shard, token, count_lb).

    Tokens shard by hash, so every occurrence of a token lands in ONE
    shard and a token's within-shard frequency IS its global frequency:
    the per-shard MG support guarantee (any token with freq >
    shard_total/(k+1) survives) is a guarantee about GLOBAL heavy
    hitters, and counts are lower bounds (decrements only subtract).
    State is O(k·n_shards), independent of the stream length.

    Per micro-batch, one distributed (shard, token) count agg; the counts
    and the state are collected to the driver for the merge — fine at
    per-batch distinct-token scale. A count merge is not idempotent, so
    the replay guard is what keeps count_lb a lower bound."""
    schema = "shard long, token string, count_lb long"

    def step(batch_df: DataFrame, state: DataFrame):
        tables: dict = {}
        for r in state.collect():
            tables.setdefault(int(r["shard"]), {})[r["token"]] = int(r["count_lb"])
        counts = (
            batch_df.select(F.explode(tokens(F.col("text"))).alias("token"))
            .withColumn(
                "shard", F.pmod(F.xxhash64("token"), F.lit(n_shards)).cast("long")
            )
            .groupBy("shard", "token")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for r in counts:
            _mg_merge(
                tables.setdefault(int(r["shard"]), {}), str(r["token"]), int(r["n"]), k
            )
        rows = [
            (shard, tok, cnt)
            for shard, tab in tables.items()
            for tok, cnt in tab.items()
        ]
        return batch_df.sparkSession.createDataFrame(rows, schema), None

    return guarded(root, schema, step)


# ---------------------------------------------------------------------------
# Per-key quota / rate-limit admission
# ---------------------------------------------------------------------------
#: event-time window of the quota: one hour, in microseconds
_WINDOW_US = 3_600_000_000


def rate_limit_batch(root: str, cap: int = 3):
    """Admission control: at most ``cap`` events per (user_id, event-time
    hour) are ADMITTED; the rest are emitted flagged ``admitted = false``
    — the ingest-side quota guard (API rate caps, per-user sampling
    ceilings, abuse throttles) in front of the pipeline, so downstream
    never sees an unbounded hot key. Within a batch the admission order
    is deterministic — (ts, event_id) — and across batches the
    per-(user, window) admitted count is the keyed state. Everything is
    executor-side (one window rank + one state join per batch); state is
    O(active user·window keys) and old windows age out with vacuum.

    Window ids use pure long arithmetic —
    ``unix_micros - pmod(unix_micros, window_us)`` — i.e. true floor
    bucketing, so pre-1970 timestamps land in their own window rather
    than truncating toward zero into the next one.

    ``tableformat.read_atomic(spark, root, "out")`` is the last applied
    batch's output; ``read_output`` is the whole feed."""

    def step(batch_df: DataFrame, state: DataFrame):
        us = F.unix_micros(F.col("ts"))
        ev = batch_df.select(
            "event_id",
            "user_id",
            "ts",
            (us - F.pmod(us, F.lit(_WINDOW_US))).alias("win_start"),
        )
        w = Window.partitionBy("user_id", "win_start").orderBy("ts", "event_id")
        prior = state.withColumnRenamed("admitted", "prior")
        scored = (
            ev.withColumn("rnk", F.row_number().over(w))
            .join(prior, ["user_id", "win_start"], "left")
            .select(
                "event_id",
                "user_id",
                "win_start",
                (F.coalesce(F.col("prior"), F.lit(0)) + F.col("rnk") <= F.lit(cap)).alias(
                    "admitted"
                ),
            )
        )
        new_counts = (
            scored.groupBy("user_id", "win_start")
            .agg(F.sum(F.col("admitted").cast("long")).alias("d"))
            .join(prior, ["user_id", "win_start"], "full_outer")
            .select(
                "user_id",
                "win_start",
                (F.coalesce(F.col("prior"), F.lit(0)) + F.coalesce(F.col("d"), F.lit(0)))
                .cast("long")
                .alias("admitted"),
            )
        )
        return new_counts, scored

    return guarded(root, "user_id long, win_start long, admitted long", step)
