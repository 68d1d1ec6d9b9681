import threading

import pytest

from spans import Patches, Span, Tracer, layer_self_times, self_times


def _span(i, parent, name, start, end):
    return Span(i, parent, 1, name, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, "bench.op", 0.0, 10.0),
        _span(2, 1, "api.query_sql", 1.0, 4.0),
        _span(3, 2, "plans.parse", 1.5, 2.0),
        _span(4, 2, "plans.build", 2.0, 3.5),
        _span(5, 1, "api.export", 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 4)
    assert st[2] == pytest.approx(3 - 0.5 - 1.5)
    assert st[3] == pytest.approx(0.5)
    assert layer_self_times(spans) == pytest.approx(
        {"bench": 3.0, "api": 1.0 + 4.0, "plans": 2.0}
    )


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        _span(1, None, "bench.op", 0.0, 10.0),
        _span(2, 1, "a.x", 1.0, 5.0),
        _span(3, 1, "a.y", 3.0, 6.0),  # overlaps 2
        _span(4, 1, "a.z", 9.0, 12.0),  # runs past the parent
    ]
    assert self_times(spans)[1] == pytest.approx(10 - 5 - 1)


def test_tracer_links_parents_and_records_only_when_enabled():
    tr = Tracer()
    with tr.span("bench.op"):
        pass
    assert tr.spans == []
    with tr.enabled(True, op_id=7), tr.span("bench.op") as root:
        with tr.span("api.query_sql") as child:
            tr.count_jvm_call()
        tr.count_jvm_call()
    assert child.parent == root.span_id and root.parent is None
    assert {s.op_id for s in tr.spans} == {7}
    assert (child.jvm_calls, root.jvm_calls) == (1, 2)


def test_recording_is_per_thread():
    tr = Tracer()
    seen = []

    def other():
        seen.append(tr.recording())
        with tr.span("bench.other"):
            pass

    with tr.enabled(True):
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    assert seen == [False] and tr.spans == []


def test_patches_wrap_and_restore():
    class Engine:
        def run(self, x):
            return x + 1

    tr = Tracer()
    p = Patches(tr)
    p.wrap(Engine, "run", "api.run")
    with tr.enabled(True):
        assert Engine().run(1) == 2
    assert [s.name for s in tr.spans] == ["api.run"]
    p.restore()
    assert "wrapper" not in repr(Engine.run)
    with tr.enabled(True):
        Engine().run(1)
    assert len(tr.spans) == 1
