"""The traced run's collectors: spans around calls into the repo's modules,
build-time materialization counts, per-phase Spark job/stage/task
counters, and streaming progress counters.

Everything here is installed by the benchmark around the program; nothing
fires a Spark action. Spans stay in memory and are written once at exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import threading
import time
from dataclasses import asdict, dataclass

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

PKG = "bigdata_etl_customer360_spark"

# (module, layer): a layer ending in "." takes the function name as suffix,
# so session.py and testdata.py report per function (tune_session,
# load_table) as the layer map names them.
MODULE_LAYERS = [
    ("session", "session."),
    ("sources.testdata", "sources."),
    ("sources.bucketed", "sources.bucketed"),
    ("sources.sinks", "sources.sinks"),
    ("streaming.windows", "streaming.windows"),
    ("streaming.stateful", "streaming.stateful"),
    ("plans.pipelines", "plans.pipelines"),
] + [
    (f"operators.{m}", f"operators.{m}")
    for m in ("ann_index curation dedup enrich graph ml multimodal quality "
              "relational rollup sampling similarity temporal textstats "
              "util").split()
]

# layers reported as metrics (the others still get spans)
REPORTED_LAYERS = ["session.tune_session", "sources.load_table"] + [
    layer for _, layer in MODULE_LAYERS if not layer.endswith(".")
]

MATERIALIZERS = ("localCheckpoint", "checkpoint", "collect", "count",
                 "toPandas", "take", "first")

PHASES = ("build", "exec")
PHASE_COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                  "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                  "input_mb", "output_mb", "failed_tasks")
STREAM_COUNTERS = ("batches", "input_rows", "add_batch_s", "wal_s",
                   "planning_s", "state_rows")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int
    query: str


class Tracer:
    """Records nested spans. Each thread keeps its own stack; a span opened
    on a thread with an empty stack (a streaming ``foreachBatch`` callback)
    is parented to the main thread's innermost open span, whose work it
    blocks."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query = ""
        self.phase = ""
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else -1
        with self._lock:
            self.spans.append(Span(name, layer, time.perf_counter(), 0.0,
                                   parent, self.query))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        cuts = sorted((max(c.start, s.start), min(c.end, s.end))
                      for c in kids.get(i, ()))
        covered, reach = 0.0, s.start
        for a, b in cuts:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out.append(s.end - s.start - covered)
    return out


def layer_metrics(spans: list[Span], layers: list[str]) -> dict[str, float]:
    """``<layer>.s`` (summed self time) and ``<layer>.calls`` (entries from
    another layer) for each named layer."""
    out = {f"{lay}.{k}": 0 for lay in layers for k in ("s", "calls")}
    for s, own in zip(spans, self_times(spans)):
        if f"{s.layer}.s" not in out:
            continue
        out[f"{s.layer}.s"] += own
        if s.parent < 0 or spans[s.parent].layer != s.layer:
            out[f"{s.layer}.calls"] += 1
    return out


def instrument_modules(tracer: Tracer, extra_namespaces: list[dict]):
    """Wraps every public plain function defined in each ``MODULE_LAYERS``
    module with a span, rebinding the names that other repo modules (and
    ``extra_namespaces``) imported. Returns the function that undoes it.

    ``functools.wraps`` keeps ``__module__``/``__qualname__``, so a wrapper
    that ends up inside a UDF pickles by reference and the Python workers
    run the original function."""
    originals: dict[int, tuple[object, object]] = {}
    for mod_name, layer in MODULE_LAYERS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        for name, fn in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(fn)
                    or hasattr(fn, "__wrapped__")):
                continue
            fn_layer = layer + name if layer.endswith(".") else layer
            originals[id(fn)] = (fn, _wrap(tracer, fn, fn_layer))
    namespaces = [vars(m) for n, m in list(importlib.sys.modules.items())
                  if n == PKG or n.startswith(PKG + ".")] + extra_namespaces
    rebound: list[tuple[dict, str, object]] = []
    for ns in namespaces:
        for name, val in list(ns.items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                ns[name] = hit[1]
                rebound.append((ns, name, val))

    def undo() -> None:
        for ns, name, val in rebound:
            ns[name] = val
    return undo


def _wrap(tracer: Tracer, fn, layer: str):
    label = f"{layer}:{fn.__name__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = tracer.begin(label, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(idx)
    return wrapper


class MaterializeCounter:
    """Counts outermost calls to the DataFrame materializers made while the
    tracer is in the build phase (``first`` calls ``take`` calls
    ``collect``: that is one call)."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.calls = 0
        self._depth = threading.local()
        self._saved: dict[str, object] = {}

    def install(self) -> None:
        for name in MATERIALIZERS:
            orig = DataFrame.__dict__[name]
            self._saved[name] = orig
            setattr(DataFrame, name, self._wrap(orig))

    def uninstall(self) -> None:
        for name, orig in self._saved.items():
            setattr(DataFrame, name, orig)
        self._saved.clear()

    def _wrap(self, orig):
        counter = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            depth = getattr(counter._depth, "n", 0)
            if depth == 0 and counter.tracer.phase == "build":
                counter.calls += 1
            counter._depth.n = depth + 1
            try:
                return orig(*args, **kwargs)
            finally:
                counter._depth.n = depth
        return wrapper


class StreamStats(StreamingQueryListener):
    """Sums streaming progress events; state rows are each run's last
    reported total."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.input_rows = 0
        self.ms = {"add_batch": 0, "wal": 0, "planning": 0}
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        with self._lock:
            self.batches += 1
            self.input_rows += p.numInputRows or 0
            self.ms["add_batch"] += d.get("addBatch", 0)
            self.ms["wal"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            self.ms["planning"] += d.get("queryPlanning", 0)
            self.state_rows[str(p.runId)] = sum(
                s.numRowsTotal for s in (p.stateOperators or []))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def metrics(self) -> dict[str, float]:
        with self._lock:
            return {
                "stream.batches": self.batches,
                "stream.input_rows": self.input_rows,
                "stream.add_batch_s": self.ms["add_batch"] / 1000,
                "stream.wal_s": self.ms["wal"] / 1000,
                "stream.planning_s": self.ms["planning"] / 1000,
                "stream.state_rows": sum(self.state_rows.values()),
            }


def next_job_id(spark) -> int:
    """Id the next Spark job of this application will get: job ids are
    application-wide and increase by one per submitted job, whatever
    thread submits it (stream micro-batches included)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@dataclass
class JobStats:
    job_id: int
    stage_ids: list[int]


def attribute_jobs(jobs: list[JobStats], bounds: list[tuple[str, int, int]]
                   ) -> dict[str, tuple[int, list[int]]]:
    """Splits jobs into phases by job-id range ``[lo, hi)``; each stage
    belongs to the first (lowest-id) job that lists it. Returns
    ``phase -> (job count, stage ids)``."""
    out = {phase: [0, []] for phase, _, _ in bounds}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j.job_id):
        for phase, lo, hi in bounds:
            if lo <= job.job_id < hi:
                out[phase][0] += 1
                for sid in job.stage_ids:
                    if sid not in seen:
                        seen.add(sid)
                        out[phase][1].append(sid)
                break
    return {p: (n, sids) for p, (n, sids) in out.items()}


def phase_counters(spark, bounds: list[tuple[str, int, int]]
                   ) -> dict[str, float]:
    """Job, stage and task counters for each phase, read from the
    application's status store after waiting for the listener bus to
    drain. Skipped stages (never run) count for nothing."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sids = j.stageIds()
        jobs.append(JobStats(j.jobId(), [sids.apply(k) for k in range(sids.size())]))
    out: dict[str, float] = {}
    for phase, (n_jobs, sids) in attribute_jobs(jobs, bounds).items():
        c = dict.fromkeys(PHASE_COUNTERS, 0)
        c["jobs"] = n_jobs
        for sid in sids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: never submitted, nothing to count
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["task_run_s"] += st.executorRunTime() / 1e3
            c["task_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            c["spill_mb"] += st.diskBytesSpilled() / 1e6
            c["input_mb"] += st.inputBytes() / 1e6
            c["output_mb"] += st.outputBytes() / 1e6
        out.update({f"{phase}.{k}": v for k, v in c.items()})
    return out


_EXCHANGE = re.compile(r"^[\s:|+-]*(\*\(\d+\) )?(Exchange|BroadcastExchange)\b")


def count_exchanges(plan_text: str) -> int:
    """Exchange nodes (shuffle and broadcast) in a physical plan's tree
    string; reused exchanges are not new exchanges and do not count."""
    return sum(1 for line in plan_text.splitlines() if _EXCHANGE.match(line))
