"""Per-layer readers for the benchmark, all driven from outside the
package under test.

- ``JobLedger``: exact per-call Spark job, stage and task counters plus
  the stage task metrics, read from the JVM status store by id range
  (so jobs started by stream-execution threads count, and store
  eviction past ``spark.ui.retainedJobs`` cannot make a delta negative).
- ``StreamStats``: a ``StreamingQueryListener`` summing micro-batch
  progress.
- ``Tracer``: spans around the public functions of the package's layer
  modules, with Spark jobs attributed to the span that started them.
- ``OldGenPeak``: the JVM old generation's peak use over a window.
- ``rdd_sizes_mb``: stored size of the persistent RDDs a call left behind
  (found and released with ``caching.persistent_rdd_ids`` and
  ``caching.unpersist_rdd_ids``).
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import threading
import time
import types

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "distributed_mapreduce_spark"

STAGE_FIELDS = (
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


class JobLedger:
    """Reads the jobs and stages created since the previous ``take``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._empty = gw.jvm.java.util.Collections.emptyList()
        self.max_job = -1
        self.max_stage = -1
        self.take(with_stages=False)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def take(self, with_stages: bool = True) -> dict:
        """Counters for every job submitted since the last call.

        Jobs come newest first from the status store; the walk stops at
        the first job already seen."""
        self._drain()
        jobs = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self.max_job:
                break
            sub = j.submissionTime()
            jobs.append(
                {
                    "id": jid,
                    "submit_ms": sub.get().getTime() if sub.isDefined() else 0,
                    "stage_ids": [int(s) for s in _seq(j.stageIds())],
                }
            )
        if jobs:
            self.max_job = max(j["id"] for j in jobs)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "job_list": jobs}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        new_stages = sorted(
            {s for j in jobs for s in j["stage_ids"] if s > self.max_stage}
        )
        if new_stages:
            self.max_stage = new_stages[-1]
        if not with_stages:
            return out
        for sid in new_stages:
            try:
                attempts = _seq(
                    self._store.stageData(
                        sid, False, self._empty, False, self._no_quantiles
                    )
                )
            except Exception:  # skipped stages have no attempt
                continue
            ran = False
            for a in attempts:
                if a.status().toString() == "SKIPPED":
                    continue
                ran = True
                out["tasks"] += a.numCompleteTasks()
                out["task_cpu_s"] += a.executorCpuTime() / 1e9
                out["task_run_s"] += a.executorRunTime() / 1e3
                out["gc_s"] += a.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += a.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += a.shuffleWriteBytes() / 1e6
                out["spill_mb"] += a.diskBytesSpilled() / 1e6
            out["stages"] += ran
        return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning seconds recorded by the
    DataFrame's own QueryExecution (the one ``collect`` runs)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


class OldGenPeak:
    """Peak bytes used in the JVM heap's old generation since `reset`.

    Cached blocks, broadcast data and large arrays (G1 allocates those
    straight into old regions) live there, so it moves with the
    program's retained working memory even when the heap size is fixed."""

    def __init__(self, spark):
        mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if "Old Gen" in p.getName()]

    def reset(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 1e6


def rdd_sizes_mb(spark, ids) -> dict[int, float]:
    """id -> stored MB (memory plus disk) of the given persisted RDDs."""
    sizes = {i: 0.0 for i in ids}
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() in sizes:
            sizes[info.id()] = (info.memSize() + info.diskSize()) / 1e6
    return sizes


class StreamStats(StreamingQueryListener):
    """Sums micro-batch progress across every streaming query."""

    FIELDS = ("addBatch", "walCommit", "commitOffsets", "queryPlanning")

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> dict:
        with self.lock:
            old = getattr(self, "totals", {})
            self.totals = {"batches": 0, "input_rows": 0}
            self.totals.update({f: 0.0 for f in self.FIELDS})
        return old

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.totals["batches"] += 1
            self.totals["input_rows"] += p.numInputRows
            for f in self.FIELDS:
                self.totals[f] += p.durationMs.get(f, 0) / 1e3

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


# ---------------------------------------------------------------- tracing


def layer_of(module_name: str) -> str:
    """`distributed_mapreduce_spark.operators.dedup` -> `operators.dedup`;
    query modules collapse to `queries`, source modules keep their name."""
    rel = module_name[len(PACKAGE) + 1 :]
    if rel.startswith("queries."):
        return "queries"
    return rel


class _Traced:
    """Callable stand-in for a traced function. Pickles as a reference to
    the original module attribute, so a traced function shipped to an
    executor inside a UDF arrives there untraced."""

    def __init__(self, fn, layer, tracer):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        t = self._tracer
        span = t.enter(self._layer + ":" + self._fn.__name__, self._layer)
        try:
            return self._fn(*args, **kwargs)
        finally:
            t.exit(span)

    def __reduce__(self):
        return self._fn.__qualname__


class Tracer:
    """In-memory spans: [id, name, layer, start, end, parent, call, thread].

    Spans nest per thread. Spans opened on another thread (for example a
    foreachBatch callback on a stream-execution thread) hang under the
    call that was running when they opened."""

    def __init__(self):
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.call_id = None
        self.call_span = None
        self.patched: list[tuple[object, str, object]] = []

    def enter(self, name, layer):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.call_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                [sid, name, layer, time.time(), None, parent, self.call_id,
                 threading.get_ident()]
            )
        stack.append(sid)
        return sid

    def exit(self, sid):
        self.spans[sid][4] = time.time()
        self._local.stack.pop()

    def begin_call(self, call_id, name):
        self.call_id = call_id
        self.call_span = None
        self.call_span = self.enter("call:" + name, "call")

    def end_call(self):
        self.exit(self.call_span)
        self.call_span = None

    def install(self) -> None:
        """Wrap every public function defined in a package module; also
        rebind the names other package modules imported it under."""
        pkg = importlib.import_module(PACKAGE)
        mods = []
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            mods.append(importlib.import_module(info.name))
        originals: dict[int, _Traced] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if (
                    isinstance(obj, types.FunctionType)
                    and not name.startswith("_")
                    and obj.__module__ == mod.__name__
                ):
                    originals[id(obj)] = _Traced(obj, layer, self)
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                traced = originals.get(id(obj))
                if traced is not None:
                    setattr(mod, name, traced)
                    self.patched.append((mod, name, obj))

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self.patched):
            setattr(mod, name, obj)
        self.patched.clear()

    def closed_spans(self):
        return [s for s in self.spans if s[4] is not None]

    def self_times(self, call_ids=None) -> dict[str, float]:
        """Layer -> summed self time (span time minus its child spans on
        the same thread)."""
        spans = {s[0]: s for s in self.closed_spans()
                 if call_ids is None or s[6] in call_ids}
        child = {sid: 0.0 for sid in spans}
        for s in spans.values():
            p = s[5]
            if p in spans and spans[p][7] == s[7]:
                child[p] += s[4] - s[3]
        out: dict[str, float] = {}
        for sid, s in spans.items():
            out[s[2]] = out.get(s[2], 0.0) + (s[4] - s[3]) - child[sid]
        return out

    def attribute_jobs(self, jobs) -> dict[str, int]:
        """Layer -> jobs whose submission falls inside one of its spans
        (the innermost, latest-opened span wins)."""
        spans = sorted(self.closed_spans(), key=lambda s: s[3])
        out: dict[str, int] = {}
        for j in jobs:
            t = j["submit_ms"] / 1e3
            owner = None
            for s in spans:
                if s[3] > t:
                    break
                if s[4] >= t:
                    owner = s
            layer = owner[2] if owner else "unattributed"
            j["span"] = owner[0] if owner else None
            out[layer] = out.get(layer, 0) + 1
        return out
