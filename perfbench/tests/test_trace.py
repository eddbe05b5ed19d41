"""Status-store delta helper and spans."""

import pytest

from perfbench.trace import MB, Tracer, sum_new_stages


class FakeStage:
    def __init__(self, sid, status="COMPLETE", tasks=4, run_ms=2000, shuffle=MB, spill=0, gc_ms=100):
        self.sid, self._status = sid, status
        self.vals = dict(tasks=tasks, run_ms=run_ms, shuffle=shuffle, spill=spill, gc_ms=gc_ms)

    def stageId(self): return self.sid
    def status(self): return self._status
    def numCompleteTasks(self): return self.vals["tasks"]
    def executorRunTime(self): return self.vals["run_ms"]
    def shuffleWriteBytes(self): return self.vals["shuffle"]
    def diskBytesSpilled(self): return self.vals["spill"]
    def jvmGcTime(self): return self.vals["gc_ms"]


class FakeStore:
    """Stand-in for StatusStore over a list of stages."""

    cores = 4

    def __init__(self):
        self.stages = []

    def top_stage(self):
        return max((s.sid for s in self.stages), default=-1)

    def since(self, seen):
        return sum_new_stages(sorted(self.stages, key=lambda s: -s.sid), seen)


def test_sum_new_stages_counts_only_new_completed():
    stages = [FakeStage(5), FakeStage(4, status="SKIPPED"), FakeStage(3, spill=2 * MB), FakeStage(2)]
    total = sum_new_stages(stages, seen=2)
    assert total == {"stages": 2, "tasks": 8, "task_s": 4.0, "shuffle_write_mb": 2.0,
                     "spill_mb": 2.0, "gc_s": 0.2}


def test_sum_new_stages_stops_at_first_seen():
    class Boom(FakeStage):
        def numCompleteTasks(self):
            raise AssertionError("walked past the last seen stage")

    total = sum_new_stages([FakeStage(7), Boom(6), Boom(5)], seen=6)
    assert total["stages"] == 1


def test_nested_spans_are_inclusive():
    store = FakeStore()
    tracer = Tracer(store)
    with tracer.span("outer", edge_rows=10) as sp:
        store.stages.append(FakeStage(0))
        with tracer.span("inner"):
            store.stages.append(FakeStage(1, run_ms=1000))
        sp["supersteps"] = 3
    inner, outer = tracer.spans
    assert inner["name"] == "inner" and inner["stages"] == 1 and inner["task_s"] == 1.0
    assert outer["stages"] == 2 and outer["task_s"] == 3.0
    assert outer["supersteps"] == 3 and outer["edge_rows"] == 10
    assert outer["core_util"] == pytest.approx(3.0 / (outer["wall_s"] * 4))


def test_untraced_spans_keep_wall_time_only():
    tracer = Tracer()
    with tracer.span("call"):
        pass
    (span,) = tracer.spans
    assert set(span) == {"name", "wall_s"}


def test_span_recorded_when_call_raises():
    tracer = Tracer()
    with pytest.raises(ValueError):
        with tracer.span("call"):
            raise ValueError
    assert tracer.spans[0]["name"] == "call"
