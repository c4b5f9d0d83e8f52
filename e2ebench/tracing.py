"""Spans and counters for the traced run, recorded from outside the
engine.

Spans wrap the calls into each layer's public functions: the session
factory, ``Catalog.register_dir``, ``dialect.validate``, the registry
``fn``, the ``collect()`` and ``run_operator``. Catalyst's phase times
come from the query's ``QueryExecution`` tracker and become child
spans of the build or exec span they fall in. Counters are read back
from Spark's status store by job group after each call. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: QueryPlanningTracker phase -> span name
PHASE_SPAN = {
    "parsing": "catalyst.parse",
    "analysis": "catalyst.analysis",
    "optimization": "catalyst.optimization",
    "planning": "catalyst.planning",
}
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class NullTracer:
    """The untraced run's tracer: records nothing."""

    enabled = False

    @contextmanager
    def span(self, name, call=None):
        yield None

    def job_group(self, group):
        pass


class Tracer:
    enabled = True

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, call: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if call is None and parent is not None:
            call = parent["call"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "call": call,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, parent: dict) -> None:
        """A span measured elsewhere (a Catalyst phase), under ``parent``."""
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "call": parent["call"],
                "parent": parent["id"],
                "start": start,
                "end": end,
            }
        )

    def job_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def add_catalyst_spans(self, df, build: dict, exec_: dict) -> None:
        """Child spans for the final query's Catalyst phases, placed
        under whichever of the build and exec spans they started in."""
        phases = df._jdf.queryExecution().tracker().phases()
        for phase, span_name in PHASE_SPAN.items():
            opt = phases.get(phase)
            if not opt.isDefined():
                continue
            summary = opt.get()
            start = summary.startTimeMs() / 1000.0
            end = summary.endTimeMs() / 1000.0
            parent = build if start < build["end"] else exec_
            self.add_span(span_name, start, end, parent)

    def exec_counters(self, group: str) -> dict:
        """Jobs, stages, tasks and task metrics of every completed stage
        in ``group``, from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gateway = self.sc._gateway
        no_statuses = gateway.jvm.java.util.ArrayList()
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        out = dict.fromkeys(EXEC_FIELDS, 0)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        for job_id in job_ids:
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(
                    stage_ids.apply(i), False, no_statuses, False, no_quantiles
                )
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if str(s.status()) != "COMPLETE":
                        continue  # skipped (reused) stages ran no tasks
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["cpu_s"] += s.executorCpuTime() / 1e9
                    out["run_s"] += s.executorRunTime() / 1e3
                    out["gc_s"] += s.jvmGcTime() / 1e3
                    out["input_bytes"] += s.inputBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            for c in children.get(s["id"], ()):
                covered += max(0.0, min(c["end"], s["end"]) - max(c["start"], s["start"]))
            out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def instrument(tracer: Tracer) -> None:
    """Wrap the layer functions the registry reaches indirectly
    (``ensure_views`` -> ``Catalog.register_dir``; SQL entries ->
    ``dialect.validate``) in spans."""
    from keenwa_spark import dialect
    from keenwa_spark.catalog import Catalog

    validate = dialect.validate
    register_dir = Catalog.register_dir

    def traced_validate(*args, **kwargs):
        with tracer.span("dialect.validate"):
            return validate(*args, **kwargs)

    def traced_register_dir(self, *args, **kwargs):
        with tracer.span("catalog.register"):
            return register_dir(self, *args, **kwargs)

    dialect.validate = traced_validate
    Catalog.register_dir = traced_register_dir
