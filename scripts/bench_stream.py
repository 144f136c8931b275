"""Streaming ingest throughput bench (VERDICT r8 item 5): the batch
suite never timed the T1-T3 path, so the structured-streaming ingest
had correctness evidence but no perf discipline. This measures
`run_stream_ingest` (trade-feed replay -> foreachBatch -> bronze
append + DLQ, checkpointed, availableNow) at sf1 and reports rows/sec.

Protocol: run 1 stages the replay files AND drains them (warm-up +
staging, excluded from the measurement); each timed run then reuses
the SAME stage dir with a FRESH checkpoint + warehouse, so the wall
clock covers exactly the drain: stream read -> observe -> foreachBatch
ingest (bronze write + DLQ routing) -> commit. Best of N runs, one
JSON line to stdout and BENCH_STREAM.json.

Gate (declared in BASELINE.md): rows/sec within 2x of the recorded
value, same discipline as the batch suite.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crypto_lakehouse_spark.session import get_spark_session
from crypto_lakehouse_spark.streaming.file_stream import (
    drain,
    replay,
    run_stream_ingest,
)

SF = os.environ.get("SPARK_GRAFT_STREAM_SF_DIR", "/tmp/spark_graft_sf1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
STATEFUL_CHUNKS = 8


def bench_stateful(spark, root: str) -> dict:
    """Stateful drain (VERDICT r9 item 8): watermark + 1-hour windowed
    aggregation in APPEND mode over the sf1 events table — a real
    state-store workload (window x event_type state rows carried
    across micro-batches, finalized as the watermark passes), unlike
    the stateless ingest path above. Events are staged once into
    STATEFUL_CHUNKS files drained one per micro-batch; each timed run
    gets a fresh checkpoint + memory sink so the wall clock covers the
    full stateful drain (checkpoints are `io.scratch_dir`s, swept at
    exit)."""
    from crypto_lakehouse_spark.io import load_table

    stage = os.path.join(root, "stateful_stage")
    os.makedirs(stage, exist_ok=True)
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    total_rows = ev.count()
    # deterministic chunking by event_id keeps every run identical
    tmp = os.path.join(root, "stateful_tmp")
    (
        ev.withColumn(
            "chunk", (F.abs(F.hash("event_id")) % STATEFUL_CHUNKS)
        )
        .repartition(STATEFUL_CHUNKS, "chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(tmp)
    )
    n = 0
    for sub in sorted(os.listdir(tmp)):
        if not sub.startswith("chunk="):
            continue
        d = os.path.join(tmp, sub)
        for p in sorted(os.listdir(d)):
            if p.endswith(".parquet"):
                os.rename(
                    os.path.join(d, p),
                    os.path.join(stage, f"{n:03d}.parquet"),
                )
                n += 1

    def timed_drain() -> float:
        agg = (
            replay(spark, stage)
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias(
                    "value_sum"
                ),
            )
        )
        t0 = time.perf_counter()
        drain(agg, "append")
        return time.perf_counter() - t0

    timed_drain()  # warm-up (codegen + scan caches), untimed
    best = min(timed_drain() for _ in range(RUNS))
    return {
        "metric": "stream_stateful_window_rows_per_sec",
        "value": round(total_rows / best, 1),
        "unit": "rows/sec",
        "rows": total_rows,
        "drain_wall_s": round(best, 3),
        "micro_batches": STATEFUL_CHUNKS,
        "runs_best_of": RUNS,
        "sf_dir": SF,
    }


def main() -> int:
    if not os.path.isdir(SF):
        print(f"missing {SF}; run scripts/gen_sf1.py first", file=sys.stderr)
        return 1
    spark = get_spark_session("bench-stream")
    root = tempfile.mkdtemp(prefix="bench_stream_")
    stage = os.path.join(root, "stage")
    os.makedirs(stage, exist_ok=True)

    # Staging + warm-up drain (not timed).
    _, metrics = run_stream_ingest(
        spark, SF, os.path.join(root, "wh_warm"), stage_dir=stage,
        ckpt_dir=os.path.join(root, "ckpt_warm"),
    )
    # Input volume: the listener's engine-side per-batch row counts
    # (keys documented in run_stream_ingest); fall back to the rows
    # each batch appended to bronze and the DLQ if the async listener
    # missed.
    total_rows = sum(m.get("engine_input_rows") or 0 for m in metrics)
    if not total_rows:
        total_rows = sum(m.get("bronze", 0) + m.get("dlq", 0) for m in metrics)

    best = float("inf")
    for i in range(RUNS):
        wh = os.path.join(root, f"wh_{i}")
        ckpt = os.path.join(root, f"ckpt_{i}")
        t0 = time.perf_counter()
        run_stream_ingest(spark, SF, wh, stage_dir=stage, ckpt_dir=ckpt)
        best = min(best, time.perf_counter() - t0)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    out = {
        "metric": "stream_ingest_rows_per_sec",
        "value": round(total_rows / best, 1),
        "unit": "rows/sec",
        "rows": total_rows,
        "drain_wall_s": round(best, 3),
        "runs_best_of": RUNS,
        "sf_dir": SF,
    }
    stateful = bench_stateful(spark, root)
    line = json.dumps(out)
    print(line)
    print(json.dumps(stateful))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_STREAM.json"), "w") as f:
        f.write(line + "\n")
        f.write(json.dumps(stateful) + "\n")
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
