"""foreachBatch fallback tier for the stateful streaming guards.

``transformWithStateInPandas`` (dedup_stream / neardup_stream /
running_totals) is the per-row tier, but its Python worker speaks
protobuf to the state server — an install-time dependency this container
lacks. This module is the SAME guards re-expressed as the other
production pattern: ``writeStream.foreachBatch`` + a keyed state TABLE
committed per micro-batch through the repo's versioned table
(tableformat.commit_version — crash-safe pointer-flip commits, so a died
micro-batch never tears the state; together with the stream checkpoint's
batch-id replay this is the classic Delta-MERGE streaming-dedup shape).

Semantics vs the tws tier (documented deviations, both batch-granular):
- replay counters are resolved per micro-batch (one value per key per
  batch), not per input row;
- the near-dup guard's WITHIN-batch pass flags a doc that matches ANY
  earlier state-kept arrival of the same batch — a conservative
  over-flag of the rare chain case (doc C matching only an
  already-flagged doc B) that the row-sequential tws tier admits.
  Flagged docs are never persisted, so state converges identically.

Scale shape: per micro-batch, one keyed agg of the batch + one keyed
join against the state table + one commit. State lives in parquet
snapshots (object store at scale), not executor memory; the join prunes
to touched keys once the state table is bucketed/partitioned by key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import tableformat
from ..session import cut
from .neardup_stream import band_keys, simhash_expr


def _state_or_empty(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """Latest committed state snapshot, or an empty frame before the
    first commit."""
    if os.path.exists(tableformat._manifest_path(root)):
        return tableformat.read_version(spark, root)
    return spark.createDataFrame([], schema)


# ---------------------------------------------------------------------------
# Running totals
# ---------------------------------------------------------------------------
def running_totals_batch(state_root: str):
    """foreachBatch processor: per-user running totals as a versioned
    state table (user_id, total, n_events)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _state_or_empty(
            spark, state_root, "user_id long, total double, n_events long"
        )
        delta = batch_df.groupBy("user_id").agg(
            F.sum("value").alias("d_total"), F.count(F.lit(1)).alias("d_n")
        )
        merged = (
            state.join(delta, "user_id", "full_outer")
            .select(
                "user_id",
                (F.coalesce("total", F.lit(0.0)) + F.coalesce("d_total", F.lit(0.0))).alias("total"),
                (F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n_events"),
            )
        )
        tableformat.commit_version(merged, state_root)

    return process


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def dedup_batch(state_root: str, out_root: str):
    """foreachBatch processor for first-arrival-wins exact dedup.

    State: (fp, winner_id, n_dup). Within a batch the winner is the
    MIN doc_id (the deterministic variant dedup_stream's docstring
    recommends). Emits every input row to ``out_root`` with kept +
    the key's replay counter after this batch."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _state_or_empty(
            spark, state_root, "fp string, winner_id long, n_dup long"
        )
        agg = batch_df.groupBy("fp").agg(
            F.min("doc_id").alias("winner_b"), F.count(F.lit(1)).alias("n_b")
        )
        resolved = (
            agg.join(state, "fp", "left")
            .select(
                "fp",
                F.coalesce("winner_id", F.col("winner_b")).alias("winner_id"),
                (
                    F.coalesce("n_dup", F.lit(0))
                    + F.col("n_b")
                    - F.when(F.col("winner_id").isNull(), 1).otherwise(0)
                ).alias("n_dup"),
                F.col("winner_id").isNull().alias("fp_is_new"),
            )
        )
        out = (
            batch_df.join(resolved, "fp")
            .select(
                "fp",
                "doc_id",
                (F.col("fp_is_new") & (F.col("doc_id") == F.col("winner_id"))).alias("kept"),
                "n_dup",
            )
        )
        out.write.mode("append").parquet(out_root)
        new_state = state.join(agg, "fp", "left_anti").unionByName(
            resolved.select("fp", "winner_id", "n_dup")
        )
        tableformat.commit_version(new_state, state_root)

    return process


def run_dedup_fallback_stream(
    stream_df: DataFrame, state_root: str, out_root: str, checkpoint: str
):
    """Wire the guard as a real Structured Streaming query:
    readStream → foreachBatch(dedup_batch) with a checkpoint, so replays
    and batch ids behave exactly as in production."""
    return (
        stream_df.writeStream.foreachBatch(dedup_batch(state_root, out_root))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# SimHash near-dup guard
# ---------------------------------------------------------------------------
def neardup_batch(
    state_root: str, out_root: str, max_hamming: int = 3, max_bucket: int = 64
):
    """foreachBatch processor for the banded SimHash guard.

    State: (band_key, doc_id, simhash) member rows per pigeonhole band.
    A doc is flagged iff ANY of its bands holds a member (stored, or an
    earlier state-kept arrival of the same batch) within ``max_hamming``.
    Kept docs append to their bands up to ``max_bucket`` members (capped
    docs are kept but not stored — same knob as the tws tier)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _state_or_empty(
            spark, state_root, "band_key string, doc_id long, simhash long"
        )
        banded = cut(  # feeds 3 passes below
            batch_df.select(
                F.col("doc_id"), simhash_expr(F.col("text")).alias("simhash")
            )
            .filter(F.col("simhash").isNotNull())
            .select(
                "doc_id",
                "simhash",
                F.explode(band_keys(F.col("simhash"))).alias("band_key"),
            )
        )
        ham = lambda a, b: F.bit_count(a.bitwiseXOR(b))  # noqa: E731

        # pass 1: vs stored members
        vs_state = (
            banded.alias("x")
            .join(state.alias("m"), "band_key")
            .filter(ham(F.col("x.simhash"), F.col("m.simhash")) <= max_hamming)
            .select(F.col("x.doc_id").alias("doc_id"))
            .distinct()
        )
        # pass 2: vs earlier state-kept arrivals of this batch
        clean = banded.join(vs_state, "doc_id", "left_anti")
        vs_batch = (
            clean.alias("x")
            .join(clean.alias("e"), "band_key")
            .filter(
                (F.col("e.doc_id") < F.col("x.doc_id"))
                & (ham(F.col("x.simhash"), F.col("e.simhash")) <= max_hamming)
            )
            .select(F.col("x.doc_id").alias("doc_id"))
            .distinct()
        )
        flagged = vs_state.unionByName(vs_batch).distinct()
        docs = banded.select("doc_id").distinct()
        out = docs.join(flagged.withColumn("kept", F.lit(False)), "doc_id", "left").select(
            "doc_id", F.coalesce("kept", F.lit(True)).alias("kept")
        )
        out.write.mode("append").parquet(out_root)

        # pass 3: append kept docs' bands, respecting the bucket cap
        from pyspark.sql import Window

        kept_bands = banded.join(out.filter("kept"), "doc_id", "left_semi")
        counts = state.groupBy("band_key").agg(F.count(F.lit(1)).alias("n_m"))
        rn = F.row_number().over(
            Window.partitionBy("band_key").orderBy("doc_id")
        )
        admitted = (
            kept_bands.join(counts, "band_key", "left")
            .withColumn("rn", rn)
            .filter(F.col("rn") + F.coalesce("n_m", F.lit(0)) <= max_bucket)
            .select("band_key", "doc_id", "simhash")
        )
        tableformat.commit_version(state.unionByName(admitted), state_root)

    return process


def run_neardup_fallback_stream(
    stream_df: DataFrame,
    state_root: str,
    out_root: str,
    checkpoint: str,
    max_hamming: int = 3,
    max_bucket: int = 64,
):
    return (
        stream_df.writeStream.foreachBatch(
            neardup_batch(state_root, out_root, max_hamming, max_bucket)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters (sharded weighted Misra-Gries)
# ---------------------------------------------------------------------------
def heavy_hitters_batch(state_root: str, n_shards: int = 8, k: int = 16):
    """foreachBatch tier of heavy_hitters_stream: per micro-batch, one
    distributed (shard, token) count agg, then each shard's weighted-MG
    table (the SAME _mg_merge logic as the tws tier) is updated and
    committed through the versioned state table. Honest limitation vs
    the tws tier, stated: the per-batch (shard, token) counts are
    collected to the driver for the merge — fine at per-batch
    distinct-token scale, whereas the tws tier keeps the merge
    executor-side per shard; the MG guarantee and lower-bound contract
    are identical because the merge math is shared.

    Replay idempotency (r9, was an r8 ADVICE finding): foreachBatch
    redelivers a micro-batch after a failure between sink commit and
    checkpoint advance, and a count MERGE is not idempotent — re-merging
    double-counts tokens and breaks the count_lb ≤ exact-frequency
    lower-bound contract. The highest applied batch_id rides INSIDE the
    committed snapshot as a sentinel row (shard = -1, token =
    '_applied_batch_id', count_lb = batch_id), so state and high-water
    mark flip in the same atomic commit; process() no-ops on any
    batch_id ≤ the recorded one. Readers use read_heavy_hitters_state,
    which strips the sentinel."""
    from ..functions import tokens
    from .heavy_hitters_stream import _mg_merge

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _state_or_empty(
            spark, state_root, "shard long, token string, count_lb long"
        )
        state_rows = state.collect()
        applied = max(
            (int(r["count_lb"]) for r in state_rows if int(r["shard"]) == -1),
            default=-1,
        )
        if batch_id <= applied:
            return  # micro-batch replay: already folded into this state
        counts = (
            batch_df.select(F.explode(tokens(F.col("text"))).alias("token"))
            .withColumn(
                "shard", F.pmod(F.xxhash64("token"), F.lit(n_shards)).cast("long")
            )
            .groupBy("shard", "token")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        tables: dict = {}
        for r in state_rows:
            if int(r["shard"]) == -1:
                continue
            tables.setdefault(int(r["shard"]), {})[r["token"]] = int(r["count_lb"])
        for r in counts:
            _mg_merge(
                tables.setdefault(int(r["shard"]), {}),
                str(r["token"]),
                int(r["n"]),
                k,
            )
        rows = [
            (shard, tok, cnt)
            for shard, tab in tables.items()
            for tok, cnt in tab.items()
        ]
        rows.append((-1, "_applied_batch_id", int(batch_id)))
        tableformat.commit_version(
            spark.createDataFrame(rows, "shard long, token string, count_lb long"),
            state_root,
        )

    return process


def read_heavy_hitters_state(spark: SparkSession, state_root: str) -> DataFrame:
    """The committed heavy-hitters state WITHOUT the idempotency sentinel
    (shard = -1) — the read path every consumer should use."""
    return tableformat.read_version(spark, state_root).filter(F.col("shard") >= 0)


# ---------------------------------------------------------------------------
# Per-key quota / rate-limit admission (r9)
# ---------------------------------------------------------------------------
def rate_limit_batch(
    root: str, cap: int = 3, window_us: int = 3_600_000_000
):
    """foreachBatch admission control: at most ``cap`` events per
    (user_id, event-time window) are ADMITTED; the rest are emitted
    flagged ``admitted = false`` — the ingest-side quota guard (API rate
    caps, per-user sampling ceilings, abuse throttles) in front of the
    pipeline, so downstream never sees an unbounded hot key. Within a
    batch the admission order is deterministic — (ts, event_id) — and
    across batches the per-(user, window) admitted count is the keyed
    state. Everything is executor-side (one window rank + one state join
    per batch); state is O(active user·window keys) and old windows age
    out with vacuum.

    Torn-window atomicity (r10, was an r9 ADVICE finding): output and
    state commit as ONE ``tableformat.commit_atomic`` transaction —
    members ``out`` and ``state`` under ``root``, one atomic _txn.json
    flip. The replay sentinel AND the prior quota counts are read from
    the txn-PINNED state (``read_atomic``), never a member's own current
    pointer, so a crash between a member commit and the txn flip leaves
    only unpinned orphan member versions: the replayed batch recomputes
    from the last pinned state and commits fresh members, and consumers
    reading through ``read_atomic`` (or the batch_id-stamped ``out``
    versions) neither double-admit nor double-emit. The previous design
    (two independent commit_version calls) could commit the same rows as
    two output versions across a crash+replay.

    Window ids use pure long arithmetic —
    ``unix_micros - pmod(unix_micros, window_us)`` — i.e. true floor
    bucketing, so pre-1970 timestamps land in their own window rather
    than truncating toward zero into the next one (r9 ADVICE low).

    Returns the process closure; read the consistent pair via
    ``tableformat.read_atomic(spark, root, "out" | "state")``; feed
    consumers of ``<root>/out`` versions dedupe on the ``batch_id``
    column (replayed content is deterministic and byte-identical)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state_schema = "user_id long, win_start long, admitted long"
        if os.path.exists(tableformat._txn_path(root)):
            state = tableformat.read_atomic(spark, root, "state")
        else:
            state = spark.createDataFrame([], state_schema)
        applied = (
            state.filter(F.col("user_id") == -1)
            .agg(F.max("admitted").alias("m"))
            .collect()[0]["m"]
        )
        if applied is not None and batch_id <= int(applied):
            return  # micro-batch replay: txn already pins this batch
        from pyspark.sql import Window as W

        us = F.unix_micros(F.col("ts"))
        ev = batch_df.select(
            "event_id",
            "user_id",
            "ts",
            (us - F.pmod(us, F.lit(window_us))).alias("win_start"),
        )
        w = W.partitionBy("user_id", "win_start").orderBy("ts", "event_id")
        ranked = ev.withColumn("rnk", F.row_number().over(w))
        prior = state.filter(F.col("user_id") >= 0).select(
            "user_id", "win_start", F.col("admitted").alias("prior")
        )
        scored = ranked.join(prior, ["user_id", "win_start"], "left").select(
            "event_id",
            "user_id",
            "ts",
            "win_start",
            (
                F.coalesce(F.col("prior"), F.lit(0)) + F.col("rnk")
                <= F.lit(cap)
            ).alias("admitted"),
        )
        out = scored.select(
            "event_id",
            "user_id",
            "win_start",
            "admitted",
            F.lit(int(batch_id)).alias("batch_id"),
        )
        new_counts = (
            scored.groupBy("user_id", "win_start")
            .agg(F.sum(F.col("admitted").cast("long")).alias("d"))
            .join(prior, ["user_id", "win_start"], "full_outer")
            .select(
                "user_id",
                "win_start",
                (
                    F.coalesce(F.col("prior"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0))
                ).cast("long").alias("admitted"),
            )
        )
        sentinel = spark.createDataFrame(
            [(-1, 0, int(batch_id))], state_schema
        )
        tableformat.commit_atomic(
            root,
            {
                "out": ("plain", out),
                "state": ("plain", new_counts.unionByName(sentinel)),
            },
        )

    return process
