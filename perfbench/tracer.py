"""Per-layer tracing from outside the engine.

Nothing here edits the engine. The tracer

* wraps every public function of the engine's layer modules (``operators``,
  ``pipelines``, ``sources.io``, ``streaming.incremental``) and rebinds the
  wrapper under every name that refers to the original in any loaded engine
  module — ``queries.py`` binds operator names at import, so patching only
  the defining module would miss most calls;
* counts py4j *call* commands sent from the main thread (reflection,
  constructor and GC-detach messages are not calls);
* attributes Spark jobs to a request phase through job groups
  (``"<query>:construct"`` / ``"<query>:run"``) and reads job, stage and task
  counts and executor totals from the JVM status store, which works with the
  UI off;
* collects micro-batch progress from a ``StreamingQueryListener``.

Every read of the status store first drains the listener bus so the counts
are exact, and is made with ``internal()`` so the tracer's own py4j traffic
is not counted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "dataengineering_londonhousingmap_spark"
LAYER_MODULES = ("operators", "pipelines", "sources.io", "streaming.incremental")


class Span:
    __slots__ = ("calls", "s", "self_s", "jobs")

    def __init__(self) -> None:
        self.calls, self.s, self.self_s, self.jobs = 0, 0.0, 0.0, 0


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.active = False
        self.group: str | None = None
        self.spans: dict[str, Span] = defaultdict(Span)
        self.py4j_calls = 0
        self.stream = defaultdict(float)
        self._local = threading.local()
        self._main = threading.main_thread()

    # ---- tracer-internal py4j traffic -----------------------------------
    @contextmanager
    def internal(self):
        depth = getattr(self._local, "internal", 0)
        self._local.internal = depth + 1
        try:
            yield
        finally:
            self._local.internal = depth

    def _counting(self) -> bool:
        return (
            self.active
            and threading.current_thread() is self._main
            and not getattr(self._local, "internal", 0)
        )

    def install(self) -> None:
        self._install_py4j_counter()
        self._install_wrappers()
        self._install_stream_listener()

    def _install_py4j_counter(self) -> None:
        cls = type(self.sc._gateway._gateway_client)
        original = cls.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if command.startswith("c\n") and tracer._counting():
                tracer.py4j_calls += 1
            return original(client, command, *args, **kwargs)

        cls.send_command = send_command

    # ---- function wrappers ----------------------------------------------
    def _targets(self) -> dict[object, str]:
        """original function -> "<layer>.<module>.<name>" for every public
        function defined in a layer module."""
        importlib.import_module(f"{PKG}.queries")
        importlib.import_module(f"{PKG}.oracles")
        targets: dict[object, str] = {}
        for layer in LAYER_MODULES:
            mod = importlib.import_module(f"{PKG}.{layer}")
            mods = [mod]
            if hasattr(mod, "__path__"):
                mods = [
                    importlib.import_module(f"{mod.__name__}.{m.name}")
                    for m in pkgutil.iter_modules(mod.__path__)
                ]
            for m in mods:
                short = m.__name__[len(PKG) + 1:]
                for name, fn in vars(m).items():
                    if (
                        inspect.isfunction(fn)
                        and not name.startswith("_")
                        and fn.__module__ == m.__name__
                    ):
                        targets[fn] = f"{short}.{name}"
        return targets

    def _install_wrappers(self) -> None:
        targets = self._targets()
        wrappers = {fn: self._wrap(key, fn) for fn, key in targets.items()}
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(val) if inspect.isfunction(val) else None
                if w is not None:
                    setattr(mod, attr, w)

    def _wrap(self, key: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._counting():
                return fn(*args, **kwargs)
            stack = tracer._local.__dict__.setdefault("stack", [])
            child = [0.0]
            stack.append(child)
            jobs0 = tracer.group_jobs()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                if stack:
                    stack[-1][0] += dt
                span = tracer.spans[key]
                span.calls += 1
                span.s += dt
                span.self_s += dt - child[0]
                span.jobs += len(tracer.group_jobs() - jobs0)

        return traced

    # ---- status store ----------------------------------------------------
    def drain(self) -> None:
        with self.internal():
            self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str | None = None) -> set[int]:
        group = group or self.group
        if group is None:
            return set()
        self.drain()
        with self.internal():
            return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_task_counts(self, jobs: set[int]) -> tuple[int, int]:
        """Completed stages and completed tasks of the given jobs."""
        stages = tasks = 0
        store = self._jsc.statusStore()
        with self.internal():
            for jid in jobs:
                job = store.job(jid)
                stages += job.numCompletedStages()
                tasks += job.numCompletedTasks()
        return stages, tasks

    def executor_totals(self) -> dict[str, float]:
        self.drain()
        out = defaultdict(float)
        with self.internal():
            execs = self._jsc.statusStore().executorList(True)
            for i in range(execs.size()):
                e = execs.apply(i)
                out["executor.task_s"] += e.totalDuration() / 1000.0
                out["executor.gc_s"] += e.totalGCTime() / 1000.0
                out["shuffle.write_bytes"] += e.totalShuffleWrite()
                out["shuffle.read_bytes"] += e.totalShuffleRead()
                out["scan.input_bytes"] += e.totalInputBytes()
                out["tasks.failed"] += e.failedTasks()
        return dict(out)

    # ---- streaming -------------------------------------------------------
    def _install_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

            def onQueryProgress(self, event):
                # counted always: a traced pass reads differences between
                # drained listener buses at its start and end
                p = event.progress
                st = tracer.stream
                st["streaming.batches"] += 1
                st["streaming.input_rows"] += p.numInputRows
                for op in p.stateOperators:
                    st["streaming.state_rows"] += op.numRowsTotal
                    st["streaming.watermark_dropped"] += op.numRowsDroppedByWatermark
                st["streaming.add_batch_s"] += p.durationMs.get("addBatch", 0) / 1000.0
                st["streaming.trigger_s"] += p.durationMs.get("triggerExecution", 0) / 1000.0

        self.spark.streams.addListener(Listener())
