"""Outside-in tracer for the benchmark's traced runs.

Only ``run.py --trace 1`` imports this module.  It measures the package from
outside, without touching its source:

- ``install()`` wraps every public function of ``operators/*``, ``llm/*``,
  ``streaming/*``, ``io``, ``sql`` and ``_cache`` (plus the public methods of
  classes defined there, e.g. ``StreamingFrame``) and rebinds each loaded
  ``polars_net_spark`` / ``__spark_entry__`` module attribute that holds the
  same function object.  Function-local ``from ..operators.distsort import f``
  then resolves to the wrapper too.  ``uninstall()`` restores every binding.
- A wrapper opens a span (layer, start, end, parent) unless the innermost
  open span is of the same layer: nested same-layer calls count toward the
  outermost call.  Only calls on the gate's own thread open spans.
- Jobs per span are the job ids the DAG scheduler hands out between span
  entry and exit, which also catches jobs that stream and broadcast threads
  submit under other job groups.
- After each gate, per-stage metrics of the gate's jobs are read from the
  live status store (works with ``spark.ui.enabled=false``).

A layer is a module path below the package (``operators.distsort``,
``llm.dedup``, ``io``; ``_cache`` is named ``cache``).
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

PACKAGE = "polars_net_spark"
TARGET_PACKAGES = ("operators", "llm", "streaming")
TARGET_MODULES = ("io", "sql", "_cache")
# session conf for traced runs: keep every job/stage/task of a run in the
# status store (defaults drop data after ~1,000 jobs)
STATUS_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
}


def layer_of(modname: str) -> str | None:
    """``polars_net_spark.operators.distsort`` -> ``operators.distsort``;
    None for modules the tracer does not wrap."""
    if not modname.startswith(PACKAGE + "."):
        return None
    rel = modname[len(PACKAGE) + 1:]
    top = rel.split(".", 1)[0]
    if top in TARGET_PACKAGES:
        return rel if "." in rel else None
    if rel in TARGET_MODULES:
        return "cache" if rel == "_cache" else rel
    return None


def load_all_modules() -> None:
    """Import every submodule, so lazily imported operator modules are
    wrapped before a gate's function-local import first loads them."""
    import importlib
    import pkgutil

    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        try:
            importlib.import_module(info.name)
        except ImportError:
            continue  # optional dependency missing: its gates cannot run either


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "job0", "job1", "child_s", "child_jobs")

    def __init__(self, layer, name, start, parent, job0):
        self.layer, self.name, self.start, self.parent, self.job0 = layer, name, start, parent, job0
        self.end = self.job1 = None
        self.child_s = 0.0
        self.child_jobs = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job1 - self.job0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._gateway = sc._gateway
        self._jvm = sc._jvm
        self._bindings: list[tuple[object, str, object]] = []
        self._bc_bindings: list[tuple[object, str, object]] = []
        self._thread = threading.get_ident()
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.broadcasts_created = 0
        self.broadcasts_destroyed = 0

    # -- job ids -------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    # -- install / uninstall ---------------------------------------------
    def _wrap(self, fn, layer: str, qualname: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack
            if threading.get_ident() != tracer._thread or (stack and stack[-1].layer == layer):
                return fn(*args, **kwargs)
            span = Span(layer, qualname, time.perf_counter(),
                        stack[-1] if stack else None, tracer.next_job_id())
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                span.job1 = tracer.next_job_id()
                stack.pop()
                if span.parent is not None:
                    span.parent.child_s += span.dur
                    span.parent.child_jobs += span.jobs
                tracer.spans.append(span)

        return traced

    def install(self) -> int:
        """Wrap and rebind; returns the number of bindings patched."""
        if self._bindings:
            return len(self._bindings)
        load_all_modules()
        mods = [(n, m) for n, m in list(sys.modules.items())
                if m is not None and (n == PACKAGE or n.startswith(PACKAGE + ".")
                                      or n == "__spark_entry__")]
        wrappers: dict[int, object] = {}
        originals: dict[int, object] = {}
        for modname, mod in mods:
            layer = layer_of(modname)
            if layer is None:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == modname:
                    wrappers[id(obj)] = self._wrap(obj, layer, f"{layer}.{name}")
                    originals[id(obj)] = obj
                elif inspect.isclass(obj) and obj.__module__ == modname:
                    for mname, meth in list(vars(obj).items()):
                        if mname.startswith("_") or not inspect.isfunction(meth):
                            continue
                        w = self._wrap(meth, layer, f"{layer}.{name}.{mname}")
                        self._bindings.append((obj, mname, meth))
                        setattr(obj, mname, w)
        for _, mod in mods:
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and originals[id(obj)] is obj:
                    self._bindings.append((mod, name, obj))
                    setattr(mod, name, w)
        return len(self._bindings)

    def count_broadcasts(self) -> None:
        """Count ``sc.broadcast`` values made and destroyed, for
        ``broadcasts_live``; stays on until ``close()``."""
        from pyspark import SparkContext
        from pyspark.broadcast import Broadcast

        tracer = self
        make, destroy = SparkContext.broadcast, Broadcast.destroy

        def broadcast(sc, value):
            tracer.broadcasts_created += 1
            return make(sc, value)

        def destroy_(b, *args, **kwargs):
            tracer.broadcasts_destroyed += 1
            return destroy(b, *args, **kwargs)

        for owner, name, orig, new in ((SparkContext, "broadcast", make, broadcast),
                                       (Broadcast, "destroy", destroy, destroy_)):
            self._bc_bindings.append((owner, name, orig))
            setattr(owner, name, new)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._bindings):
            setattr(owner, name, orig)
        self._bindings.clear()

    def close(self) -> None:
        self.uninstall()
        for owner, name, orig in reversed(self._bc_bindings):
            setattr(owner, name, orig)
        self._bc_bindings.clear()

    # -- per-gate collection ---------------------------------------------
    def begin_gate(self) -> int:
        self._stack.clear()
        self.spans = []
        return self.next_job_id()

    def layer_totals(self, until: float | None = None) -> dict[str, list[float]]:
        """{layer: [calls, self_s, self_jobs]} over the gate's spans (those
        that started before ``until``, when given)."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if until is not None and s.start >= until:
                continue
            t = out.setdefault(s.layer, [0, 0.0, 0])
            t[0] += 1
            t[1] += s.dur - s.child_s
            t[2] += s.jobs - s.child_jobs
        return out

    def span_time(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def stage_metrics(self, job0: int, job1: int) -> dict[str, float]:
        """Sum the status-store metrics of every stage of jobs [job0, job1)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        empty = self._gateway.new_array(self._jvm.double, 0)
        qs = self._gateway.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        m = dict(stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0, gc_s=0.0,
                 input_mb=0.0, shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0,
                 task_skew=1.0)
        seen: set[int] = set()
        for jid in range(job0, job1):
            try:
                it = store.job(jid).stageIds().iterator()
            except Py4JJavaError:
                continue  # no such job in the store (never registered)
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, empty)
                ait = attempts.iterator()
                while ait.hasNext():
                    sd = ait.next()
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped stage: its output was reused
                    m["stages"] += 1
                    m["tasks"] += sd.numCompleteTasks()
                    m["executor_run_s"] += sd.executorRunTime() / 1e3
                    m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    m["gc_s"] += sd.jvmGcTime() / 1e3
                    m["input_mb"] += sd.inputBytes() / 1e6
                    m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                    m["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                    m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
                    if sd.numCompleteTasks() > 1:
                        summ = store.taskSummary(sid, sd.attemptId(), qs)
                        if summ.isDefined():
                            rt = summ.get().executorRunTime()
                            med, mx = float(rt.apply(0)), float(rt.apply(1))
                            if med > 0:
                                m["task_skew"] = max(m["task_skew"], mx / med)
        return m

    # -- session state -----------------------------------------------------
    def session_state(self) -> dict[str, float]:
        infos = self._jsc.getRDDStorageInfo()
        storage = sum(i.memSize() + i.diskSize() for i in infos)
        return {
            "broadcasts_live": self.broadcasts_created - self.broadcasts_destroyed,
            "persisted_rdds": int(self.spark.sparkContext._jsc.getPersistentRDDs().size()),
            "storage_mb": storage / 1e6,
        }

    def jvm_peak_rss_mb(self) -> float:
        proc = getattr(self._gateway, "proc", None)
        if proc is None:
            return float("nan")
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

