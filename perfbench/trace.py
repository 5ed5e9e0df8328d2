"""Traced-run instrumentation: spans around the engine's public layer calls,
plus Spark's in-process status stores read between entries.

Nothing here runs inside the engine.  :meth:`Tracer.wrap_layers` replaces
public functions on the engine's modules with timing wrappers before
``native_sql_engine_spark.queries`` is imported, so the query modules'
``from ..materialize import materialize`` binds the wrapper.  Status-store
reads happen after an entry's collect returns, outside its timed region.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import time

from py4j.protocol import Py4JJavaError

#: layer name → engine modules whose public functions it covers
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "materialize": ("native_sql_engine_spark.materialize",),
    "operators.dedup": ("native_sql_engine_spark.operators.dedup",),
    "operators.similarity": ("native_sql_engine_spark.operators.similarity",),
}

#: StageData getters summed per entry (Spark units: ms, ns, bytes, counts)
_STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)

_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans (name, start, end, parent) kept in memory, plus per-pass counters.

    ``enabled`` gates recording so one run can alternate traced and
    untraced passes through the same wrappers.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}
        #: per traced pass, in pass order: entry name → its status-store counters
        self.passes: list[dict[str, dict[str, float]]] = []

    # -- spans ---------------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> float:
        name, start, _, parent = self.spans[idx]
        stop = time.perf_counter()
        self.spans[idx] = (name, start, stop, parent)
        self._stack.pop()
        return stop - start

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def _layer_of(self, idx: int) -> str:
        return self.spans[idx][0].split(":", 1)[0]

    def _inside(self, layer: str) -> bool:
        return any(self._layer_of(i) == layer for i in self._stack)

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            # only the outermost call of a layer adds to its seconds, so an
            # operator calling its own module's helpers is not double-counted
            outer = not tracer._inside(layer)
            idx = tracer.begin(f"{layer}:{fn.__name__}")
            try:
                return fn(*args, **kwargs)
            finally:
                dt = tracer.end(idx)
                if outer:
                    tracer.add(f"{layer}.s", dt)
                tracer.add(f"{layer}.{fn.__name__}.calls", 1)

        return wrapper

    def wrap_layers(self) -> None:
        """Patch every public function of :data:`LAYER_MODULES`.  Must run
        before ``native_sql_engine_spark.queries`` is first imported."""
        for layer, mod_names in LAYER_MODULES.items():
            for mod_name in mod_names:
                mod = importlib.import_module(mod_name)
                for name, obj in vars(mod).copy().items():
                    if name.startswith("_") or not inspect.isfunction(obj):
                        continue
                    if obj.__module__ != mod.__name__:
                        continue  # re-exported from elsewhere
                    setattr(mod, name, self.wrap(layer, obj))


class StatusReader:
    """Reads the SparkContext's AppStatusStore and the entry's QueryExecution.

    Spark keeps only the last ~1,000 stages, so the reader is called after
    every entry and looks stages up by id: the DAGScheduler's
    ``nextStageId``/``nextJobId`` counters say exactly which ids the entry
    created.
    """

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.mark()

    def mark(self) -> None:
        """Skip everything created so far (e.g. by untraced passes)."""
        self._next_stage = self._dag.nextStageId()
        self._next_job = self._dag.nextJobId()

    def entry_counts(self, df) -> dict[str, float]:
        """Counters for the work since the previous call; ``df`` is the
        entry's collected DataFrame (its Catalyst phase tracker)."""
        out: dict[str, float] = {}
        next_stage, next_job = self._dag.nextStageId(), self._dag.nextJobId()
        out["exec.jobs"] = next_job - self._next_job
        # the store is filled asynchronously from the listener bus: drain it
        # first, or the entry's last stages are missing or still ACTIVE
        self._bus.waitUntilEmpty()
        # one store lookup per new stage id; listing all retained stages
        # instead allocates ~1,000 StageData objects per entry.  Once the
        # store holds spark.ui.retainedStages (1,000) stages it evicts those
        # with the earliest completion time first, and a SKIPPED stage has
        # none, so a just-skipped stage can already be gone: skipped stages
        # are counted as the ids that did not complete.
        ran = 0
        for stage_id in range(self._next_stage, next_stage):
            try:
                st = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # evicted, see above
                continue
            status = st.status().toString()
            if status == "SKIPPED":
                continue
            ran += 1
            key = "exec.stages" if status == "COMPLETE" else f"exec.stages_{status.lower()}"
            out[key] = out.get(key, 0) + 1
            for f in _STAGE_FIELDS:
                out[f] = out.get(f, 0) + getattr(st, f)()
        out["exec.stages_skipped"] = next_stage - self._next_stage - ran
        self._next_stage, self._next_job = next_stage, next_job
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in _PHASES:
            opt = phases.get(ph)
            out[f"catalyst.{ph}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        return out
