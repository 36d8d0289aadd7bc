"""Spans around the engine's layers, with jobs attributed from the Spark
status store.

A ``Tracer`` wraps the public functions of each layer module and rebinds
every name under which the package imported them (``workflow.infer_schema``
is ``operators.infer.infer_schema``), so no package file changes. A span
records its wall interval and the interval of Spark job ids submitted
while it was open, read from the DAG scheduler's job counter. After the
run, one pass over the status store (``sc.statusStore()``, which works
with the UI off) gives every job's call site, tasks, executor run time,
shuffle and spill bytes. Each job goes to the innermost span whose
job-id interval holds it: overlap threads set no job group, but the
benchmark is a single client, so the intervals are unambiguous up to
concurrent sibling spans, where the later-started sibling takes the job.

Self time is a span's duration minus the part of it that its child spans
cover (children may overlap each other: overlap threads).
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from dataclasses import dataclass

# Call-site classes of the job census, tested in this order.
CENSUS = ("schema", "aqe", "checkpoint", "save", "collect", "other")

# Percentiles a latency report may quote, highest first.
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def job_class(name: str, in_sql: bool) -> str:
    """Classify a job by its call-site name. A parquet read's footer job
    and a parquet write share the ``parquet at`` call site; only the
    write runs inside a SQL execution (``in_sql``)."""
    if name.startswith("parquet at "):
        return "save" if in_sql else "schema"
    if "CompletableFuture" in name:
        return "aqe"
    if name.startswith(("localCheckpoint at ", "checkpoint at ")):
        return "checkpoint"
    if name.startswith("save at "):
        return "save"
    if name.startswith(("collect at ", "toPandas at ", "count at ", "head at ",
                        "isEmpty at ", "take at ", "first at ", "toArrow at ")):
        return "collect"
    return "other"


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    t0: float
    j0: int
    t1: float = 0.0
    j1: int = 0


@dataclass
class Job:
    """One Spark job's status-store record, summed over its stages."""

    job_id: int
    name: str
    in_sql: bool = False
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_records: int = 0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each clipped to the parent's interval."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(p.sid, []).append(
                (max(s.t0, p.t0), min(s.t1, p.t1))
            )
    return {
        s.sid: (s.t1 - s.t0) - union_length(
            [(a, b) for a, b in kids.get(s.sid, []) if b > a]
        )
        for s in spans
    }


def attribute_jobs(spans: list[Span], job_ids) -> dict[int, int]:
    """Job id -> id of the innermost span whose job-id interval
    ``[j0, j1)`` holds it; jobs outside every span are left out. Among
    spans holding a job, the one opened last is innermost: a child opens
    after its parent, and of two concurrent siblings the later one is
    still open when the job is submitted (single client)."""
    live = sorted(
        (s for s in spans if s.j1 > s.j0), key=lambda s: (s.j0, s.t0)
    )
    out = {}
    for j in job_ids:
        best = None
        for s in live:
            if s.j0 > j:
                break
            if j < s.j1 and (best is None or (s.j0, s.t0) >= (best.j0, best.t0)):
                best = s
        if best is not None:
            out[j] = best.sid
    return out


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest of ``TAIL_PERCENTILES`` with at least ten samples
    beyond it, or None when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) >= 1000 - 1e-6:
            return p
    return None


class Tracer:
    """Span recorder. ``job_counter`` returns the id the next Spark job
    will get."""

    def __init__(self, job_counter):
        self._job_counter = job_counter
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}

    def next_job_id(self) -> int:
        return self._job_counter()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        # a span opened on an overlap thread hangs under the client's
        # innermost open span
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            span = Span(
                len(self.spans), layer, name,
                parent.sid if parent else None,
                time.perf_counter(), self._job_counter(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.j1 = self._job_counter()
        span.t1 = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counters[counter] = self.counters.get(counter, 0.0) + value

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def install(self, layers: dict[str, object], package: str):
        """Wrap every public function defined in each layer module and
        rebind each name in ``package``'s loaded modules that refers to
        it; ``hadoop_fs.run_concurrent`` also measures its overlap
        (``overlap_wrapper``). Returns a function that restores every
        rebound name."""
        wrapped: dict[int, object] = {}
        for layer, mod in layers.items():
            for name, obj in vars(mod).items():
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                ):
                    continue
                wrapped[id(obj)] = (
                    overlap_wrapper(self, obj)
                    if (layer, name) == ("hadoop_fs", "run_concurrent")
                    else self.wrap(layer, obj)
                )
        rebound = []
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == package or mod_name.startswith(package + ".")
            ):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in wrapped:
                    setattr(mod, name, wrapped[id(obj)])
                    rebound.append((mod, name, obj))

        def restore() -> None:
            for mod, name, obj in rebound:
                setattr(mod, name, obj)

        return restore


def overlap_wrapper(tracer: Tracer, fn):
    """Wrapper for an overlap helper ``fn(*thunks)``: besides its span,
    sums the thunks' own durations, so busy thunk time over the helper's
    wall time is the overlap achieved (1.0 = none)."""
    base = tracer.wrap("hadoop_fs", fn)

    @functools.wraps(fn)
    def traced(*thunks):
        def timed(thunk):
            def run():
                t = time.perf_counter()
                try:
                    return thunk()
                finally:
                    tracer.add("hadoop_fs.thunk_s", time.perf_counter() - t)

            return run

        t = time.perf_counter()
        try:
            return base(*(timed(th) for th in thunks))
        finally:
            tracer.add("hadoop_fs.concurrent_wall_s", time.perf_counter() - t)

    return traced


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def read_jobs(sc) -> dict[int, Job]:
    """Every job of the context from the status store, with stage
    metrics summed per job. A stage listed by several jobs (a
    reused shuffle, skipped in the later jobs) is billed to the first."""
    store = sc._jsc.sc().statusStore()
    jobs: dict[int, Job] = {}
    stage_owner: dict[int, int] = {}
    for jd in _scala_iter(store.jobsList(None)):
        jid = jd.jobId()
        name = jd.name()
        in_sql = name.startswith("parquet at ") and (
            store.jobWithAssociatedSql(jid)._2().isDefined()
        )
        jobs[jid] = Job(jid, name, in_sql, tasks=jd.numCompletedTasks())
        for st in _scala_iter(jd.stageIds()):
            if st not in stage_owner or jid < stage_owner[st]:
                stage_owner[st] = jid
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for sd in _scala_iter(store.stageList(None, False, False, no_quantiles, None)):
        owner = stage_owner.get(sd.stageId())
        if owner is None:
            continue
        job = jobs[owner]
        job.executor_run_s += sd.executorRunTime() / 1000.0
        job.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        job.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        job.output_records += sd.outputRecords()
    return jobs


def job_counter():
    """Callable returning the id the next job of the active Spark
    context will get (0 while no context runs)."""
    from pyspark import SparkContext

    cache: dict = {}

    def next_id() -> int:
        sc = SparkContext._active_spark_context
        if sc is None:
            return 0
        if cache.get("sc") is not sc:
            cache["sc"], cache["dag"] = sc, sc._jsc.sc().dagScheduler()
        return cache["dag"].nextJobId()

    return next_id


LAYER_FIELDS = (
    "calls", "busy_s", "self_s", "jobs", "tasks",
    "executor_run_s", "shuffle_bytes", "spill_bytes",
)


def layer_metrics(
    spans: list[Span], jobs: dict[int, Job], layers
) -> tuple[dict[str, float], dict[str, dict[str, int]]]:
    """Per-layer ``<layer>.<field>`` totals and, per layer, the census of
    its jobs by call-site class. Job counts and stage metrics are
    inclusive (a layer owns the jobs of its nested spans, each job
    counted once per layer); ``self_s`` is exclusive."""
    by_id = {s.sid: s for s in spans}
    selfs = self_times(spans)
    owner = attribute_jobs(spans, sorted(jobs))
    out = {f"{l}.{f}": 0.0 for l in layers for f in LAYER_FIELDS}
    census = {l: {c: 0 for c in CENSUS} for l in layers}
    intervals: dict[str, list[tuple[float, float]]] = {l: [] for l in layers}
    for s in spans:
        if s.layer not in intervals:
            continue
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.self_s"] += selfs[s.sid]
        intervals[s.layer].append((s.t0, s.t1))
    for l in layers:
        out[f"{l}.busy_s"] = union_length(intervals[l])
    for jid, sid in owner.items():
        job, seen = jobs[jid], set()
        s = by_id[sid]
        while s is not None:
            if s.layer in census and s.layer not in seen:
                seen.add(s.layer)
                out[f"{s.layer}.jobs"] += 1
                out[f"{s.layer}.tasks"] += job.tasks
                out[f"{s.layer}.executor_run_s"] += job.executor_run_s
                out[f"{s.layer}.shuffle_bytes"] += job.shuffle_bytes
                out[f"{s.layer}.spill_bytes"] += job.spill_bytes
                census[s.layer][job_class(job.name, job.in_sql)] += 1
            s = by_id.get(s.parent) if s.parent is not None else None
    return out, census


def jobs_of(spans: list[Span], jobs: dict[int, Job], layer: str, name: str):
    """Jobs attributed (inclusively) to spans of ``layer`` named
    ``name``."""
    by_id = {s.sid: s for s in spans}
    owner = attribute_jobs(spans, sorted(jobs))
    hit = []
    for jid, sid in owner.items():
        s = by_id[sid]
        while s is not None:
            if s.layer == layer and s.name == name:
                hit.append(jobs[jid])
                break
            s = by_id.get(s.parent) if s.parent is not None else None
    return hit
