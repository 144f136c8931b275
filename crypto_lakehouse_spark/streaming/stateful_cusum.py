"""Custom stateful streaming operator: Page CUSUM drift alarms with
`applyInPandasWithState` — the monitoring chart running ON the stream
instead of over nightly batches. Semantics Spark's built-in streaming
aggregations can't express: the chart statistic is a running
fold (cumulative sum against its own running extremum) whose state
must live across micro-batches keyed by event_type.

Exactness contract (what lets a STREAMING stateful operator carry a
full value oracle): every quantity is an INTEGER — values are scaled
to micro-units with floor(v * 1e6 + 0.5) (floor, not round: Python,
Spark and DuckDB all floor identically, while their double-round
half-rules differ on negatives), the slack K and threshold H are
integer constants, and the chart uses the prefix identity
  S+_t = C+_t - min(0, min_{s<=t} C+_s),
  S-_t = max(0, max_{s<=t} C-_s) - C-_t
(no reset variant — the same closed form the batch
cusum_mean_shift_daily uses, which is what makes the recursion
expressible as two batch window passes for the oracle). The stream is
replayed as N event-time-ordered chunks, one per micro-batch
(`file_stream.stage_time_chunks`, the stateful sessionizer's
harness), so state genuinely carries across micro-batches and the
fold order equals the batch window order (ts, event_id).

Scale shape: state is O(|event types|) integers; each batch's work is
one sort + one linear fold per key — the unbounded-stream path. Each
batch emits the running totals row; the final totals per key are the
max-n row (monotone in n by construction).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from crypto_lakehouse_spark.streaming.file_stream import drain, replay
from crypto_lakehouse_spark.streaming.stateful_sessions import (
    stage_time_ordered_chunks,
)


# Micro-unit slack and alarm threshold (0.5 and 5.0 value units).
K_MICRO = 500_000
H_MICRO = 5_000_000

OUTPUT_SCHEMA = (
    "event_type STRING, n_events BIGINT, n_alarms_up BIGINT, "
    "n_alarms_down BIGINT, max_sp BIGINT, max_sm BIGINT"
)
STATE_SCHEMA = (
    "cp BIGINT, cm BIGINT, min_cp BIGINT, max_cm BIGINT, n BIGINT, "
    "au BIGINT, ad BIGINT, msp BIGINT, msm BIGINT"
)


def _cusum_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        cp, cm, min_cp, max_cm, n, au, ad, msp, msm = state.get
    else:
        cp = cm = min_cp = max_cm = n = au = ad = msp = msm = 0

    rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    for vi in rows["vi"]:
        vi = int(vi)
        cp += vi - K_MICRO
        cm += vi + K_MICRO
        min_cp = min(min_cp, cp)
        max_cm = max(max_cm, cm)
        sp = cp - min(min_cp, 0)
        sm = max(max_cm, 0) - cm
        n += 1
        if sp > H_MICRO:
            au += 1
        if sm > H_MICRO:
            ad += 1
        msp = max(msp, sp)
        msm = max(msm, sm)

    state.update((cp, cm, min_cp, max_cm, n, au, ad, msp, msm))
    yield pd.DataFrame(
        [(event_type, n, au, ad, msp, msm)],
        columns=[
            "event_type",
            "n_events",
            "n_alarms_up",
            "n_alarms_down",
            "max_sp",
            "max_sm",
        ],
    )


def _stage_typed_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """Time-ordered replay chunks carrying (event_type, integer
    micro-value) — the shared staging protocol of
    stateful_sessions.stage_time_ordered_chunks with the CUSUM
    projection."""
    return stage_time_ordered_chunks(
        spark,
        sf_dir,
        n_chunks,
        extra_cols=[
            F.col("event_type"),
            F.floor(F.col("value") * 1_000_000 + 0.5)
            .cast("bigint")
            .alias("vi"),
        ],
    )


def run_streaming_cusum(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Replay events in N micro-batches through the stateful CUSUM;
    returns one final totals row per event_type (the max-n emission —
    n is monotone across batches)."""
    feed = _stage_typed_chunks(spark, sf_dir, n_chunks)
    out = replay(spark, feed).groupBy("event_type").applyInPandasWithState(
        _cusum_group,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    sink = drain(out, "append")
    w = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    )
    return (
        sink.withColumn("rn", w)
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            "n_events",
            "n_alarms_up",
            "n_alarms_down",
            F.round(F.col("max_sp") / 1_000_000.0, 9).alias("max_s_plus"),
            F.round(F.col("max_sm") / 1_000_000.0, 9).alias("max_s_minus"),
        )
        .orderBy("event_type")
    )
