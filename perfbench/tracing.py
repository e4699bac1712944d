"""Per-layer spans for the traced run, recorded from the benchmark only.

Each layer's public function is wrapped where its caller looks it up
(``plans.runner`` imports ``build_profile_and_counts`` by name, so the
wrapper replaces ``runner.build_profile_and_counts``).  A wrapper opens
a span and sets the span id as the Spark job group of the calling
thread for the span's life.  Job groups are thread-local and AQE copies
them into the sub-jobs it submits, so every job a layer starts is
attributed to it, also inside the runner's thread pool.  A job submitted
under no span's group (from a pool thread outside every wrapped layer)
goes to the outermost layer span open at its submission, else to the
op's root span.

A span opened on a thread with no span of its own (a runner pool
thread) takes as parent the innermost span open at that moment on the
thread that started the op, so a layer running in the pool nests under
the layer that submitted it.

After an op, the job and stage records are read from Spark's status
store through the UI's REST API on localhost.  A span's self time is
its share of the op wall: at each instant the time goes to the
innermost open spans, split evenly when several run at once, so the
self times of one op add up to its root span's duration.  What the
spans explain is measured apart: ``unattributed_s`` is the op time
during which no layer span is open and no Spark job runs.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

#: span names and the (module, attribute) each wrapper replaces
PATCHES = {
    "runner.run_validation": [("data_validation_spark.plans.runner",
                               "run_validation")],
    "profile.build_profile_and_counts": [
        ("data_validation_spark.plans.runner", "build_profile_and_counts")],
    "constraints.uniqueness_violation_counts": [
        ("data_validation_spark.plans.runner",
         "uniqueness_violation_counts")],
    "profile.single_job_limit_collect": [
        ("data_validation_spark.plans.runner", "single_job_limit_collect"),
        ("data_validation_spark.operators.profile",
         "single_job_limit_collect")],
    "manifest.write_manifest": [("data_validation_spark.plans.runner",
                                 "write_manifest")],
    "dedup.minhash_near_duplicates": [
        ("data_validation_spark.operators.dedup", "minhash_near_duplicates")],
    "dedup.lsh_candidate_pairs": [("data_validation_spark.operators.dedup",
                                   "lsh_candidate_pairs")],
    "dedup.verify_pairs_jaccard": [("data_validation_spark.operators.dedup",
                                    "verify_pairs_jaccard")],
}
SINK_SPAN = "table_provider.append"
#: the collect that runs the lazy plan ``minhash_near_duplicates`` returns
COLLECT_SPAN = "dedup.result_collect"
ROOT_SPAN = "op"
SPANS = [ROOT_SPAN, *PATCHES, SINK_SPAN, COLLECT_SPAN]
#: spans only a run writing to a sink opens
WRITE_SPANS = (SINK_SPAN + ".", "manifest.write_manifest.")
STATS = {"self_s": "s", "jobs": "count", "tasks": "count",
         "exec_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
         "shuffle_read_mb": "MB", "spill_mb": "MB", "output_mb": "MB"}

_GROUP_KEY = "spark.jobGroup.id"
_MB = 2**20


@dataclass
class Span:
    id: str
    name: str
    parent: "Span | None"
    start: float
    end: float | None = None


@dataclass
class OpTrace:
    """One traced op: its spans and, once collected, its jobs."""
    spans: list[Span] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.op: OpTrace | None = None
        self._root: Span | None = None
        self._main_stack: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = (f"http://localhost:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self._last_job = -1
        self._saved: list[tuple[object, str, object]] = []

    # -- patching ------------------------------------------------------
    def install(self, skip: tuple[str, ...] = ()) -> None:
        """Install every wrapper except the spans named in ``skip``."""
        import importlib
        for name, sites in PATCHES.items():
            if name in skip:
                continue
            for mod_name, attr in sites:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                self._saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(name, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    class _SpanCtx:
        def __init__(self, tracer: "Tracer", name: str):
            self.t, self.name = tracer, name

        def __enter__(self) -> Span:
            t = self.t
            stack = t._stack()
            # a pool thread nests under what the op's thread has open;
            # a slice of the list is one atomic read
            parent = (stack or t._main_stack[-1:] or [t._root])[-1]
            span = Span(f"pb-{next(t._ids)}", self.name, parent, 0.0)
            self.prev = t.sc.getLocalProperty(_GROUP_KEY)
            t.sc.setLocalProperty(_GROUP_KEY, span.id)
            stack.append(span)
            with t._lock:
                t.op.spans.append(span)
            span.start = time.time()
            self.span = span
            return span

        def __exit__(self, *exc) -> None:
            self.span.end = time.time()
            self.t._stack().pop()
            self.t.sc.setLocalProperty(_GROUP_KEY, self.prev)

    def span(self, name: str) -> "_SpanCtx":
        return Tracer._SpanCtx(self, name)

    def begin_op(self) -> None:
        """Open the root span of a traced op (outside its timing)."""
        self._last_job = self._max_job_id()
        self.op = OpTrace()
        self.active = True
        self._root = None
        self._main_stack = self._stack()
        ctx = self.span(ROOT_SPAN)
        self._root_ctx = ctx
        self._root = ctx.__enter__()

    def end_op(self) -> None:
        """Close the root span; call right when the op returns."""
        self._root_ctx.__exit__(None, None, None)
        self.active = False

    def collect(self) -> OpTrace:
        """The finished op with its jobs and stages (outside timing)."""
        self._collect(self.op)
        return self.op

    # -- status store --------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=10) as r:
            return json.load(r)

    def _max_job_id(self) -> int:
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def _collect(self, op: OpTrace) -> None:
        """Read the op's jobs and their stages, once the asynchronous
        listener bus has delivered every event to the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
        op.jobs = sorted(jobs, key=lambda j: j["jobId"])
        wanted = {s for j in jobs for s in j["stageIds"]}
        for st in self._get("/stages"):
            if st["stageId"] in wanted and st["status"] == "COMPLETE":
                op.stages[st["stageId"]] = st


def table_provider(tracer: Tracer | None):
    """The sink class: the engine's ``TableProvider``, or with a tracer a
    subclass whose ``append`` is a span."""
    from data_validation_spark.sources.table_provider import TableProvider
    if tracer is None:
        return TableProvider

    class TracedTableProvider(TableProvider):
        def append(self, df, name, partition_by=None):
            call = tracer.wrap(SINK_SPAN, super().append)
            return call(df, name, partition_by)

    return TracedTableProvider


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z") \
        .replace(tzinfo=timezone.utc).timestamp()


def _self_times(spans: list[Span]) -> tuple[dict[str, float],
                                            list[tuple[float, float]]]:
    """Sweep the op's timeline; each interval goes to the innermost
    open spans, split evenly among them.  Also returns the intervals
    in which only the root span is open."""
    out = {s.id: 0.0 for s in spans}
    bare = []
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_ = [s for s in spans if s.start <= mid < s.end]
        parents = {s.parent.id for s in open_ if s.parent is not None}
        leaves = [s for s in open_ if s.id not in parents]
        for s in leaves:
            out[s.id] += (b - a) / len(leaves)
        if open_ == [spans[0]]:
            bare.append((a, b))
    return out, bare


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def summarize(op: OpTrace) -> dict[str, float]:
    """Per-layer numbers of one traced op, keyed ``<span>.<stat>``."""
    out = {f"{n}.{k}": 0.0 for n in SPANS for k in STATS}
    by_id = {s.id: s for s in op.spans}
    root = op.spans[0]
    self_times, bare = _self_times(op.spans)
    for sid, t in self_times.items():
        out[f"{by_id[sid].name}.self_s"] += t
    outer = [s for s in op.spans if s.parent is root]

    def owner(job: dict, submitted: float | None) -> Span:
        # a job under no span's group comes from a thread no wrapper
        # runs in (the runner's pool): it belongs to the outermost
        # layer span open at its submission, else to the op
        if job.get("jobGroup") in by_id:
            return by_id[job["jobGroup"]]
        return next((s for s in outer if submitted is not None
                     and s.start <= submitted <= s.end), root)

    seen: set[int] = set()
    intervals = []
    for j in op.jobs:
        a, b = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        span = owner(j, a)
        out[f"{span.name}.jobs"] += 1
        if a is not None and b is not None:
            intervals.append((max(a, root.start), min(b, root.end)))
        for sid in j["stageIds"]:
            st = op.stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            p = span.name
            out[f"{p}.tasks"] += st["numCompleteTasks"]
            out[f"{p}.exec_cpu_s"] += st["executorCpuTime"] / 1e9
            out[f"{p}.gc_s"] += st["jvmGcTime"] / 1e3
            out[f"{p}.shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
            out[f"{p}.shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
            out[f"{p}.spill_mb"] += st["diskBytesSpilled"] / _MB
            out[f"{p}.output_mb"] += st["outputBytes"] / _MB
    intervals = [iv for iv in intervals if iv[1] > iv[0]]
    wall = root.end - root.start
    out["op.wall_s"] = wall
    out["op.driver_s"] = wall - _covered(intervals)
    # root-only time that no Spark job covers either: op time no layer
    # span and no job explains
    out["trace.unattributed_s"] = sum(
        (b - a) - _covered([(max(x, a), min(y, b)) for x, y in intervals
                            if x < b and y > a])
        for a, b in bare)
    return out
