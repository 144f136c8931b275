"""Timing, tracing and counting helpers for the benchmark.

Everything here measures the program from outside: spans wrap calls
into the program's public functions, job counts come from Spark's
status tracker, and warehouse accounting walks the directory tree.
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


# -- statistics ---------------------------------------------------------------


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    """Geometric mean: every value moves it by the same factor for the
    same relative change, however large or small the value is."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(values: list[float], p: float, beyond: int = 10) -> float | None:
    """The p-th percentile, or None unless at least `beyond` samples lie
    above it: a tail figure resting on fewer samples is noise."""
    if not values:
        return None
    v = percentile(values, p)
    return v if sum(1 for x in values if x > v) >= beyond else None


def slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index (0, 1, ...)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def overhead_pct(samples: list[tuple[float, bool]]) -> float:
    """Median traced op time over median untraced op time, as a percent
    above 100; samples are (seconds, traced). 0 without both kinds."""
    on = [d for d, traced in samples if traced]
    off = [d for d, traced in samples if not traced]
    if not on or not off:
        return 0.0
    return (median(on) / median(off) - 1.0) * 100.0


# -- ops ----------------------------------------------------------------------


def op_count(seconds: float, op_s: float, minimum: int) -> int:
    """Warm ops a run measures: as many as fit in `seconds` at the
    nominal op time `op_s`, at least `minimum`. The count is fixed
    before the run, so every run does the same work and sits at the
    same point of the JVM's warm-up, however fast the machine is."""
    return max(minimum, round(seconds / op_s))


def settle(spark) -> None:
    """Collect garbage in Python and in the driver JVM, between ops and
    outside their timings, so that every op starts from the same heap
    instead of paying for a full collection its predecessors caused."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(children.get(s.id, []), s.start, s.end) for s in spans
    }


class Tracer:
    """Spans kept in memory; written out once, at the end of the run.

    With `enabled` false a span still measures its own wall time (the
    end-to-end figures need it) but is not kept, sets no job group and
    triggers no status-tracker reads, so an untraced run pays two clock
    reads per span and nothing else.
    """

    def __init__(self, enabled: bool, jobs: "JobCounter | None" = None):
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, count_jobs: bool = True):
        """Time the enclosed block. Only spans with `count_jobs` run
        under a job group of their own; give it to the innermost spans,
        around calls into the program."""
        parent = self._stack[-1].id if self._stack else None
        sp = Span(self._next, name, parent, 0.0)
        self._next += 1
        token = None
        if self.enabled and count_jobs and self.jobs is not None:
            token = self.jobs.begin(f"pb-{sp.id}")
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if token is not None:
                self.jobs.end(token, sp)
            if self.enabled:
                self.spans.append(sp)

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def breakdown(self, span: Span) -> dict[str, float]:
        """Self time of each span under `span` (by name), plus the
        remainder of `span` that no child span covers."""
        sub = [span] + self._descendants(span.id)
        st = self_times(sub)
        out: dict[str, float] = {}
        for s in sub[1:]:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
        out["(remainder)"] = st[span.id]
        return out

    def _descendants(self, span_id: int) -> list[Span]:
        out: list[Span] = []
        for c in self.children(span_id):
            out.append(c)
            out.extend(self._descendants(c.id))
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [{**asdict(s), "self": st[s.id]} for s in self.spans],
                },
                f,
            )


# -- Spark job counts -----------------------------------------------------------


class JobCounter:
    """Exact job, stage and task counts per span.

    Each span runs under its own job group, so spans that count jobs
    must not nest. Structured Streaming runs
    its micro-batches on its own thread under the query's run id, so the
    counter also collects the run ids of streams started during the span
    and counts the jobs of those groups. The listener bus is drained
    before counting, so the status store holds every finished job.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_ids: list[str] = []
        self._bus = self.sc._jsc.sc().listenerBus()  # noqa: SLF001
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Runs(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                counter.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):  # noqa: N802
                pass

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Runs()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def begin(self, group: str):
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return (group, len(self.run_ids))

    def end(self, token, span: Span) -> None:
        group, n_runs = token
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._bus.waitUntilEmpty(30_000)
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(group))
        for rid in self.run_ids[n_runs:]:
            ids.update(st.getJobIdsForGroup(rid))
        stages = tasks = failed = 0
        for jid in sorted(ids):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        span.jobs = sorted(ids)
        span.stages, span.tasks, span.failed_tasks = stages, tasks, failed


# -- process and warehouse --------------------------------------------------------


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _hidden(name: str) -> bool:
    """Spark's rule: `.x` and `_x` are bookkeeping, except partition
    directories such as `_trade_date=2024-01-04`."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def walk_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under `root`."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for fn in filenames:
            if _hidden(fn):
                continue
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def per_table(root: str, files: dict[str, tuple[int, int]]) -> dict[str, list[int]]:
    """[files, bytes] per top-level directory (table) under `root`."""
    out: dict[str, list[int]] = {}
    for path, (size, _) in files.items():
        acc = out.setdefault(os.path.relpath(path, root).split(os.sep)[0], [0, 0])
        acc[0] += 1
        acc[1] += size
    return out


def dir_bytes(root: str) -> int:
    """All bytes on disk under `root`, bookkeeping files included."""
    total = 0
    for dirpath, _, filenames in os.walk(root):
        for fn in filenames:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def written_since(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]):
    """(files, bytes) new or rewritten between two `walk_files` views."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)
