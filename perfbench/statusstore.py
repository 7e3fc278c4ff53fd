"""Per-layer spans from Spark's status store.

A :class:`Tracer` wraps each call into a layer in :meth:`Tracer.span`.
The span tags every job the call starts with a job group of its own
(``<layer>#<n>``). On exit it reads those jobs' stages back from the
status store (``statusStore().stageData``, which works with the UI
off). Spans stay in memory until the run asks for
:meth:`Tracer.layer_totals`.

Stage data gives the executor side of a layer. The wall time of a span
minus the union of its stage intervals is the time the driver spent
outside any stage: planning, collects, size probes, Python-side work.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

#: additive per-span quantities; a span that covers another layer's
#: call reports its own total minus the covered span's
ADDITIVE = (
    "wall_s", "driver_s", "executor_run_s", "jvm_cpu_s", "python_s",
    "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks",
    "single_task_stages",
)
#: a stage that ran as one task for longer than this serialises its
#: whole stage on one core
SINGLE_TASK_RUN_MS = 1000


class Span:
    def __init__(self, layer: str, covers: "Span | None"):
        self.layer = layer
        self.covers = covers
        self.start = 0.0
        self.end = 0.0
        self.stages: list[dict] = []
        self.counts: dict[str, float] = {}

    def totals(self) -> dict[str, float]:
        wall = self.end - self.start
        covered = _union_s((s["submit_ms"], s["complete_ms"]) for s in self.stages)
        run_s = sum(s["run_ms"] for s in self.stages) / 1e3
        cpu_s = sum(s["cpu_ns"] for s in self.stages) / 1e9
        return {
            "wall_s": wall,
            "driver_s": max(0.0, wall - covered),
            "executor_run_s": run_s,
            "jvm_cpu_s": cpu_s,
            # executor time the JVM did not spend on CPU: mapInPandas /
            # applyInPandas work in Python workers, plus I/O waits
            "python_s": max(0.0, run_s - cpu_s),
            "gc_s": sum(s["gc_ms"] for s in self.stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in self.stages),
            "spill_bytes": sum(s["spill"] for s in self.stages),
            "tasks": sum(s["tasks"] for s in self.stages),
            "single_task_stages": sum(
                1 for s in self.stages
                if s["tasks"] == 1 and s["run_ms"] > SINGLE_TASK_RUN_MS
            ),
        }

    def self_totals(self) -> dict[str, float]:
        tot = self.totals()
        if self.covers is not None:
            inner = self.covers.totals()
            for k in ADDITIVE:
                tot[k] = max(0.0, tot[k] - inner[k])
        return tot


def _union_s(intervals) -> float:
    """Total length in seconds of the union of [start_ms, end_ms] intervals."""
    total, lo_cur, hi_cur = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi_cur is None or lo > hi_cur:
            if hi_cur is not None:
                total += hi_cur - lo_cur
            lo_cur, hi_cur = lo, hi
        else:
            hi_cur = max(hi_cur, hi)
    if hi_cur is not None:
        total += hi_cur - lo_cur
    return total / 1e3


class Tracer:
    """Collects layer spans for one Spark session. The benchmark is a
    single-threaded closed loop, so spans never overlap."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        jvm = sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seq = 0
        #: spans per traced op, in call order
        self.ops: list[list[Span]] = []

    def new_op(self) -> None:
        self.ops.append([])

    @contextmanager
    def span(self, layer: str, covers: Span | None = None):
        """Time one call into ``layer``. ``covers`` names a span of
        another layer that this call repeats internally on the same
        input; it is subtracted to give this layer's self time."""
        sp = Span(layer, covers)
        self._seq += 1
        group = f"{layer}#{self._seq}"
        self._sc.setJobGroup(group, layer)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            sp.stages = self._stages_of(group)
            self.ops[-1].append(sp)

    def _stages_of(self, group: str) -> list[dict]:
        # the status store is fed by the asynchronous listener bus: let
        # it deliver the span's last stage-completed events first
        self._bus.waitUntilEmpty()
        out = []
        for job_id in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                seq = self._store.stageData(
                    stage_id, False, self._no_status, False, self._no_quantiles
                )
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    # SKIPPED stages reused an earlier shuffle: no work
                    if str(sd.status()) == "COMPLETE":
                        out.append(_stage_row(sd))
        return out

    def layer_totals(self) -> list[dict[str, dict[str, float]]]:
        """Per traced op: layer -> self totals summed over the op's
        spans of that layer, plus the counts the spans recorded."""
        result = []
        for spans in self.ops:
            acc: dict[str, dict[str, float]] = {}
            for sp in spans:
                row = acc.setdefault(sp.layer, dict.fromkeys(ADDITIVE, 0.0))
                for k, v in sp.self_totals().items():
                    row[k] += v
                for k, v in sp.counts.items():
                    row[k] = row.get(k, 0.0) + v
            result.append(acc)
        return result


def _stage_row(sd) -> dict:
    def ms(opt):
        return opt.get().getTime() if opt.isDefined() else None

    submit = ms(sd.submissionTime())
    complete = ms(sd.completionTime())
    return {
        "tasks": sd.numTasks(),
        "run_ms": sd.executorRunTime(),
        "cpu_ns": sd.executorCpuTime(),
        "gc_ms": sd.jvmGcTime(),
        "shuffle_write": sd.shuffleWriteBytes(),
        "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "submit_ms": submit if submit is not None else complete or 0,
        "complete_ms": complete if complete is not None else submit or 0,
    }
