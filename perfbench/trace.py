"""Spans around the benchmark's calls into the engine, with the Spark
status-store counters each call moved.

``Tracer.span(name)`` times one call and, while the tracer holds a
``StatusStore``, records the stages that completed during it, read from
Spark's status store (the data behind the web UI, kept even with the UI
off). Spans may
nest (a checkpoint save inside a PageRank call); each span's counters are
inclusive of its children.

The status store keeps only ``spark.ui.retainedStages`` stages, so the
traced run raises that setting above the number of stages one job runs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = 1 << 20

# counters summed over the stages a span saw complete
STAGE_FIELDS = ("stages", "tasks", "task_s", "shuffle_write_mb", "spill_mb", "gc_s")


def stage_counters(stage) -> dict:
    """Counters of one completed stage (``v1.StageData`` or a stand-in
    with the same accessor methods)."""
    return {
        "stages": 1,
        "tasks": stage.numCompleteTasks(),
        "task_s": stage.executorRunTime() / 1000.0,
        "shuffle_write_mb": stage.shuffleWriteBytes() / MB,
        "spill_mb": stage.diskBytesSpilled() / MB,
        "gc_s": stage.jvmGcTime() / 1000.0,
    }


def sum_new_stages(stages, seen: int) -> dict:
    """Sum the counters of completed stages with id above ``seen``.

    ``stages`` iterates newest first (the status store's reverse stage
    index), so the walk stops at the first stage already seen."""
    total = dict.fromkeys(STAGE_FIELDS, 0)
    for stage in stages:
        if stage.stageId() <= seen:
            break
        if str(stage.status()) == "COMPLETE":
            for k, v in stage_counters(stage).items():
                total[k] += v
    return total


class StatusStore:
    """Reads completed stages from a live SparkSession's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._wrapper_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        self.cores = sc.defaultParallelism

    def _drain(self) -> None:
        # stage-completion events reach the store through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages_newest_first(self):
        view = self._jsc.statusStore().store().view(self._wrapper_cls).reverse()
        it = view.iterator()
        while it.hasNext():
            yield it.next().info()

    def top_stage(self) -> int:
        self._drain()
        for stage in self._stages_newest_first():
            return stage.stageId()
        return -1

    def since(self, seen: int) -> dict:
        self._drain()
        return sum_new_stages(self._stages_newest_first(), seen)


class Tracer:
    """Collects one span per wrapped call. Wall time is always recorded;
    status-store counters only while ``store`` is set."""

    def __init__(self, store: StatusStore | None = None):
        self.store = store
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the ``with`` body; the body may add attributes (algorithm
        counters) to the yielded dict."""
        store = self.store
        seen = store.top_stage() if store is not None else None
        t0 = time.monotonic()
        try:
            yield attrs
        finally:
            wall = time.monotonic() - t0
            rec = {"name": name, "wall_s": wall, **attrs}
            if store is not None:
                counters = store.since(seen)
                rec.update(counters, cores=store.cores)
                rec["core_util"] = counters["task_s"] / (wall * store.cores) if wall else 0.0
            self.spans.append(rec)


class TracedCheckpoint:
    """Wraps a CheckpointManager so each save / load_latest is a span."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def save(self, name, meta, dataframes):
        with self._tracer.span("checkpoint.CheckpointManager.save"):
            return self._inner.save(name, meta, dataframes)

    def load_latest(self, name):
        with self._tracer.span("checkpoint.CheckpointManager.load_latest"):
            return self._inner.load_latest(name)
