import types

import pytest

from perfbench.spans import Span, Tracer, covered_length, self_time


class FakeClock:
    def __init__(self, times):
        self.times = list(times)

    def __call__(self):
        return self.times.pop(0)


def test_covered_length_merges_overlaps_and_ignores_empty():
    assert covered_length([]) == 0
    assert covered_length([(1, 3), (2, 5), (7, 8), (4, 4)]) == 5
    assert covered_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1.0, 3.0), Span(2, "b", 0, 2.0, 5.0),
            Span(3, "c", 0, 7.0, 8.0), Span(4, "d", 0, 9.5, 12.0)]
    # covered: [1,5] + [7,8] + [9.5,10] = 5.5
    assert self_time(parent, kids) == pytest.approx(4.5)
    assert self_time(parent, []) == 10.0


def test_nested_spans_add_up_to_parent_minus_self():
    # step [0, 10] > stage [1, 4] > meta [2, 3]; commit [5, 9]
    t = Tracer(clock=FakeClock([0, 1, 2, 3, 4, 5, 9, 10]))
    with t.span("step"):
        with t.span("stage"):
            with t.span("meta"):
                pass
        with t.span("commit"):
            pass
    step, stage, meta, commit = t.spans
    assert (stage.parent, meta.parent, commit.parent) == (step.id, stage.id, step.id)
    st = t.self_times()
    assert st[step.id] == 3  # 10 - (3 + 4)
    assert st[stage.id] == 2  # 3 - 1
    assert st[meta.id] == 1
    for sp in t.spans:
        kids = t.children().get(sp.id, [])
        assert sum(k.duration for k in kids) == pytest.approx(sp.duration - st[sp.id])


def test_wrap_records_function_and_method_spans_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Store:
        def commit(self, df, table):
            return {"table": table}

    orig_f, orig_commit = mod.f, Store.__dict__["commit"]
    t = Tracer()
    t.wrap(mod, "f", "mod.f")
    t.wrap(Store, "commit", "store.commit", lambda a, kw, r: {"table": a[2]})
    assert mod.f(1) == 2
    assert Store().commit(None, "seen") == {"table": "seen"}
    assert [s.name for s in t.spans] == ["mod.f", "store.commit"]
    assert t.spans[1].attrs == {"table": "seen"}
    t.enabled = False
    mod.f(2)
    assert len(t.spans) == 2  # disabled tracer records nothing
    t.unwrap_all()
    assert mod.f is orig_f and Store.__dict__["commit"] is orig_commit


def test_span_closes_on_exception_and_hooks_see_stack():
    seen = []
    t = Tracer(on_enter=lambda tr, sp: seen.append(("in", sp.name, tr.current.name)),
               on_exit=lambda tr, sp: seen.append(("out", sp.name, tr.current)))
    with pytest.raises(ValueError):
        with t.span("boom"):
            raise ValueError
    assert t.spans[0].end is not None and t.current is None
    assert seen == [("in", "boom", "boom"), ("out", "boom", None)]
