"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState``.

``F.session_window`` (event_time.session_window_agg) covers gap-merged
sessions declaratively; this module is the escape hatch the brief calls for
when built-ins genuinely can't express the semantics — arbitrary per-key
state machines. The example operator closes a session when the event gap
exceeds ``gap_seconds`` and emits one row per CLOSED session; the open
session survives in the state store across micro-batches.

Scale notes: state is partitioned by key (user_id) across the cluster; each
Arrow batch carries one key group. State size is O(open sessions) = O(keys),
bounded; use GroupStateTimeout to reap idle keys in production streams.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

#: open-session state: (start_epoch_us, last_epoch_us, n_events)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = None
        n = 0
    gap_us = gap_seconds * 1_000_000
    closed: list[tuple[int, int, int, int]] = []

    for pdf in pdfs:
        # normalize to epoch MICROseconds regardless of the arrow→pandas
        # datetime resolution (ns in older pandas, us in 2.x)
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").sort_values()
        for t in ts_us:
            t = int(t)
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > gap_us:
                closed.append((user_id, start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1

    if start_us is not None:
        state.update((start_us, last_us, n))
    if closed:
        out = pd.DataFrame(
            closed, columns=["user_id", "session_start", "session_end", "n_events"]
        )
        out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
        out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
        yield out


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Emit closed per-user sessions from a STREAMING events DataFrame."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Any:
        return _sessionize_group(key, pdfs, state, gap_seconds)

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
