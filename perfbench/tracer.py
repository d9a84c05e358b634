"""Spans and per-layer counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
around ``session.get_spark``, around each ``registry.QUERIES[name]``
build, around every ``sources.io.load_table`` call the build makes,
around each ``sources.txlog`` call and around the action that forces
the plan. They are kept in memory and written out when the run ends.
Spark-side counters come from the status store (jobs, stages, tasks,
shuffle and spill bytes per job group), from the query execution's
phase tracker (Catalyst analysis, optimization, planning) and from the
JVM's garbage-collector beans.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap_load_table(self) -> None:
        """Record a span around every ``load_table`` call.

        The registry modules bind ``load_table`` (and ``_t``, which calls
        the registry module's ``load_table``) by name at import time, so
        the name is replaced in every imported package module that holds
        the original function, not only in ``sources.io``.
        """
        from stockify_spark.sources import io

        original = io.load_table

        def load_table(*args, **kwargs):
            with self.span("sources.io.load_table"):
                return original(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith("stockify_spark") and getattr(mod, "load_table", None) is original:
                mod.load_table = load_table


def job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, shuffle and spill bytes of one job group.

    Call after the listener bus has drained (see :func:`drain`)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage in info.stageIds:
            # every attempt of the stage, without task detail
            it = store.stageData(int(stage), False, empty, False, None).iterator()
            while it.hasNext():
                sd = it.next()
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def drain(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning seconds of ``df``'s plan.

    The noop write that forces an op plans a command wrapping the plan,
    whose tracker Python cannot reach, so the plan is optimized and
    planned once more here, outside the op's timed span."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out


def gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0
