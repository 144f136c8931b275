"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the inputs from the seed under
`.perfbench_work/`, starts a local[4] Spark session with 3g of driver
memory, the serial garbage collector and the client JIT compiler, sets
up, measures a fixed number of ops sized to take about S seconds,
checks the program's outputs, stops Spark and prints one JSON object as
the last line:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Traced runs also write their spans to `.perfbench_out/`.
See README.md in this directory for the metrics and the layers they
belong to.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MASTER = "local[4]"
DRIVER_MEMORY = "3g"
# The serial collector sizes the heap from live data alone; G1 also
# grows it on measured pause times, which made the driver's peak RSS
# spread twice as wide between runs. The client (C1) JIT alone finishes
# compiling during set-up; with the server (C2) compiler a run never
# reached steady state, and its compiler threads competed with the four
# task threads: tick times fell up to a quarter over a run's four ticks.
JVM_OPTIONS = "-XX:+UseSerialGC -XX:TieredStopAtLevel=1"
WORKLOADS = ("medallion_hourly", "market_queries")

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "warm_op_s": "s", "peak_rss_mb": "MiB"}

# Every per-layer metric, by the layer that reports it. A workload that
# never enters a layer reports 0 for it.
PER_LAYER = {
    "session.start_s": "s",
    "io.load_table_s": "s",
    "sources.feed_stage_s": "s",
    "streaming.ingest_s": "s",
    "streaming.ingest_jobs": "count",
    "spark.jobs_per_tick": "count",
    "spark.tasks_per_tick": "count",
    "spark.failed_tasks": "count",
    **{
        f"pipeline.{stage}{suffix}": unit
        for stage in ("silver", "ohlcv_1m", "ohlcv_1h", "daily_metrics", "price_latest")
        for suffix, unit in (
            ("_s", "s"),
            ("_jobs", "count"),
            ("_tasks", "count"),
            (".backfill_s", "s"),
            (".backfill_jobs", "count"),
            (".backfill_tasks", "count"),
        )
    },
    "pipeline.prewarm_s": "s",
    "pipeline.tick_slope_ms": "ms",
    "tables.files_written_per_tick": "count",
    "tables.bytes_written_per_tick": "bytes",
    "tables.files_total": "count",
    "tables.storage_amplification": "ratio",
    "queries.plan_s": "s",
    "queries.warm_pass_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "fixtures.cold_build_s": "s",
    "fixtures.builds": "count",
    "trace.overhead_pct": "%",
    "trace.remainder_s": "s",
}


class Context:
    """What a workload needs from the harness: the session, the tracer,
    its directories, and the hooks that mark set-up and measurement."""

    def __init__(self, args, work: str, data_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.data_dir = data_dir
        self.spark = None
        self.tracer = None
        self.jvm_pid = None
        self.setup_s = None
        self.peak_rss = None
        self.setup_layers: dict[str, float] = {}
        self.summary: dict = {}

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START

    def measure_done(self) -> None:
        from meter import peak_rss_mb

        self.peak_rss = peak_rss_mb(self.jvm_pid)
        self.summary["measure_s"] = time.perf_counter() - T_START - self.setup_s

    def traced_op(self, i: int) -> bool:
        """Traced runs alternate traced and untraced ops (traced first)
        so that they can state their own overhead."""
        if not self.trace:
            return False
        self.tracer.enabled = i % 2 == 0
        return self.tracer.enabled


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers must match the driver's interpreter.
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The program's own knobs (width, memory, layout-cache path, sort
    # strip) keep their defaults, whatever the caller's environment holds.
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]


def _start_spark(ctx: Context):
    from pyspark.sql import SparkSession

    from crypto_lakehouse_spark.session import get_spark_session

    (
        SparkSession.builder.master(MASTER)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", JVM_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(ctx.work, "spark-warehouse"))
        .getOrCreate()
    )
    spark = get_spark_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "crypto_lakehouse_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    _isolate(work)
    import inputs
    import medallion
    import querymix
    from meter import JobCounter, Tracer

    data_dir = os.path.join(work, "data")
    ctx = Context(args, work, data_dir)
    wl = medallion if args.workload == "medallion_hourly" else querymix
    t = time.perf_counter()
    inputs.write_tables(args.seed, data_dir, wl.TABLES)
    ctx.summary["inputs_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark = _start_spark(ctx)
    ctx.setup_layers["session.start_s"] = time.perf_counter() - t
    try:
        from pyspark import SparkContext

        ctx.spark = spark
        ctx.jvm_pid = SparkContext._gateway.proc.pid  # noqa: SLF001
        jobs = JobCounter(spark) if ctx.trace else None
        ctx.tracer = Tracer(ctx.trace, jobs)
        out = wl.run(ctx)
        e2e, per, attempted, failed = wl.metrics(ctx, out)
        if jobs is not None:
            jobs.close()
    finally:
        _stop_spark(spark)

    e2e["setup_s"] = ctx.setup_s
    e2e["peak_rss_mb"] = ctx.peak_rss
    per["spark.failed_tasks"] = sum(s.failed_tasks for s in ctx.tracer.spans)
    per.update(ctx.setup_layers)
    ctx.summary["setup_s"] = ctx.setup_s
    ctx.summary["setup_layers"] = ctx.setup_layers
    ctx.summary["total_s"] = time.perf_counter() - T_START
    summary = {"workload": args.workload, "seed": args.seed, **ctx.summary}
    if ctx.trace:
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(path, {"summary": summary})
    print("summary " + json.dumps(summary, default=str))
    values = per if ctx.trace else e2e
    wanted = PER_LAYER if ctx.trace else END_TO_END
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in wanted.items()
    }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
