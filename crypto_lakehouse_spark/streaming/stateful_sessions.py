"""Custom stateful streaming operator: gap-based sessionization with
`applyInPandasWithState` (the (a)->(b) escalation of SURVEY §7:
semantics Spark's built-in streaming operators can't express — session
state must live *across* micro-batches keyed by user).

State per user: the open session (start, last ts, count, value sum).
Each micro-batch appends its events (event-time ordered chunks); a
gap > `gap_minutes` closes the open session — closed sessions are
emitted downstream, the open one stays in state. This is exactly the
unbounded-stream scale path: state is O(active users), emission is
append-only.

Deterministic test harness: the events table is staged into N
time-ordered parquet chunks (`file_stream.stage_time_chunks`) and
replayed one file per micro-batch, so state genuinely carries across
micro-batches; results are compared against the batch `sessionize`
operator (closed sessions must agree).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crypto_lakehouse_spark.io import load_table
from crypto_lakehouse_spark.streaming.file_stream import (
    drain,
    replay,
    stage_time_chunks,
)

OUTPUT_SCHEMA = (
    "user_id BIGINT, session_seq BIGINT, session_start_us BIGINT, "
    "session_end_us BIGINT, n_events BIGINT, value_sum DOUBLE"
)
STATE_SCHEMA = (
    "session_seq BIGINT, start_us BIGINT, last_us BIGINT, "
    "n_events BIGINT, value_sum DOUBLE"
)


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        seq, start_us, last_us, n, vsum = state.get
    else:
        seq, start_us, last_us, n, vsum = 0, None, None, 0, 0.0

    closed: list[dict[str, Any]] = []
    rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    for ts_us, value in zip(rows["ts_us"], rows["value"]):
        ts_us = int(ts_us)
        if start_us is None:
            seq, start_us, last_us, n, vsum = seq + 1, ts_us, ts_us, 1, float(value)
        elif ts_us // 1_000_000 - last_us // 1_000_000 > gap_seconds:
            closed.append(
                {
                    "user_id": user_id,
                    "session_seq": seq,
                    "session_start_us": start_us,
                    "session_end_us": last_us,
                    "n_events": n,
                    "value_sum": vsum,
                }
            )
            seq, start_us, last_us, n, vsum = seq + 1, ts_us, ts_us, 1, float(value)
        else:
            last_us, n, vsum = ts_us, n + 1, vsum + float(value)

    state.update((seq, start_us, last_us, n, vsum))
    yield pd.DataFrame(
        closed,
        columns=[
            "user_id",
            "session_seq",
            "session_start_us",
            "session_end_us",
            "n_events",
            "value_sum",
        ],
    )


def stage_time_ordered_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    extra_cols: list | None = None,
) -> str:
    """Events as (event_id, ts_us, *extra_cols) staged into N
    contiguous ts_us ranges (`file_stream.stage_time_chunks`).

    `extra_cols` selects the payload columns carried alongside
    (event_id, ts_us) — defaults to the sessionizer's (user_id,
    value); the stateful CUSUM passes its own projection instead of
    duplicating this staging protocol (review finding)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        *(extra_cols if extra_cols is not None else ["user_id", "value"]),
    )
    return stage_time_chunks(ev, "ts_us", n_chunks)


def run_stateful_sessionization(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30, n_chunks: int = 4
) -> DataFrame:
    """Replay events in N micro-batches through the stateful operator;
    returns CLOSED sessions (open sessions remain in state — on a live
    stream they'd emit via timeout)."""
    feed = stage_time_ordered_chunks(spark, sf_dir, n_chunks)
    gap_seconds = gap_minutes * 60
    out = replay(spark, feed).groupBy("user_id").applyInPandasWithState(
        lambda key, pdfs, state: _sessionize_group(key, pdfs, state, gap_seconds),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return drain(out, "append")


# --- transformWithStateInPandas twin (Spark 4 arbitrary-state API) ---------
# Same sessionization semantics on the NEW stateful API: a
# StatefulProcessor with an explicit named ValueState instead of the
# single implicit GroupState blob. Beyond parity, this is the API the
# engine standardizes on going forward: typed state variables
# (value/list/map), timers, and TTL make multi-state operators
# (e.g. sessions + per-user rate counters) expressible where
# applyInPandasWithState forces one packed tuple. The equivalence
# test proves both paths emit identical closed sessions under the
# same chunked replay.
#
# Environment gate: Spark's transformWithState Python worker talks to
# the JVM state server over a protobuf protocol, so it needs
# `google.protobuf` at runtime (applyInPandasWithState does not).
# Containers without protobuf get HAS_TWS=False and the test skips.
#
# SCOPE: where protobuf is absent (this build environment), this twin
# is a documented UNPROVEN SEAM, not claimed operator surface — the
# equivalence test has never run here, and SURVEY §8 excludes it from
# the feature counts. The applyInPandasWithState path above is the
# proven, claimed sessionizer. On a protobuf-equipped cluster the
# skipped test is the activation switch: green there promotes this
# path to claimed surface.
try:  # pragma: no cover - environment probe
    import google.protobuf  # noqa: F401

    HAS_TWS = True
except ImportError:
    HAS_TWS = False

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class SessionProcessor(StatefulProcessor):
    """Gap-based sessionizer: ValueState holds the open session;
    closed sessions are emitted append-only (state O(active users),
    the unbounded-stream scale contract)."""

    def __init__(self, gap_seconds: int):
        self._gap = gap_seconds

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._open = handle.getValueState("open_session", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        if self._open.exists():
            seq, start_us, last_us, n, vsum = self._open.get()
        else:
            seq, start_us, last_us, n, vsum = 0, None, None, 0, 0.0

        closed: list[dict[str, Any]] = []
        batch = pd.concat(list(rows)).sort_values(["ts_us", "event_id"])
        for ts_us, value in zip(batch["ts_us"], batch["value"]):
            ts_us = int(ts_us)
            if start_us is None:
                seq, start_us, last_us, n, vsum = seq + 1, ts_us, ts_us, 1, float(value)
            elif ts_us // 1_000_000 - last_us // 1_000_000 > self._gap:
                closed.append(
                    {
                        "user_id": user_id,
                        "session_seq": seq,
                        "session_start_us": start_us,
                        "session_end_us": last_us,
                        "n_events": n,
                        "value_sum": vsum,
                    }
                )
                seq, start_us, last_us, n, vsum = seq + 1, ts_us, ts_us, 1, float(value)
            else:
                last_us, n, vsum = ts_us, n + 1, vsum + float(value)

        self._open.update((seq, start_us, last_us, n, vsum))
        yield pd.DataFrame(
            closed,
            columns=[
                "user_id",
                "session_seq",
                "session_start_us",
                "session_end_us",
                "n_events",
                "value_sum",
            ],
        )

    def close(self) -> None:
        pass


def run_tws_sessionization(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30, n_chunks: int = 4
) -> DataFrame:
    """transformWithStateInPandas replay — same contract as
    run_stateful_sessionization (closed sessions only)."""
    feed = stage_time_ordered_chunks(spark, sf_dir, n_chunks)
    out = replay(spark, feed).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(gap_minutes * 60),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    return drain(out, "append")
