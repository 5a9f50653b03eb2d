import itertools
from collections import defaultdict
from types import SimpleNamespace

import pytest

from spans import JOB_GROUP, Span, Tracer, self_times


class FakeContext:
    """SparkContext stand-in: local properties plus a job log by group."""

    def __init__(self):
        self.props = {}
        self.jobs = defaultdict(list)
        self.next_job = 0

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def run_job(self):
        self.jobs[self.props.get(JOB_GROUP)].append(self.next_job)
        self.next_job += 1

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return list(self.jobs[group])


def span(i, start, end, parent=None):
    return Span(i, f"s{i}", "l", start, end, parent, 0)


def test_self_time_subtracts_nested_children():
    spans = [span(0, 0, 10), span(1, 2, 5, 0), span(2, 3, 4, 1),
             span(3, 6, 7, 0)]
    st = self_times(spans)
    assert st == {0: 6, 1: 2, 2: 1, 3: 1}
    assert sum(st.values()) == 10           # self times add up to the root


def test_self_time_of_a_lazy_builder_is_its_own_short_span():
    # a builder returns a plan at once; the action runs later in the parent
    spans = [span(0, 0, 10), span(1, 1, 1.25, 0)]
    assert self_times(spans) == {0: 9.75, 1: 0.25}


def test_overlapping_children_are_not_subtracted_twice():
    spans = [span(0, 0, 10), span(1, 1, 6, 0), span(2, 4, 8, 0)]
    assert self_times(spans)[0] == 3


def test_job_group_is_set_per_span_and_restored():
    sc = FakeContext()
    sc.setLocalProperty(JOB_GROUP, "caller")
    t = Tracer(sc, clock=itertools.count().__next__)
    with t.span("outer"):
        sc.run_job()
        with t.span("inner"):
            sc.run_job()
            sc.run_job()
        assert sc.getLocalProperty(JOB_GROUP) != "caller"
        sc.run_job()
    assert sc.getLocalProperty(JOB_GROUP) == "caller"
    jobs = {s.name: s.jobs for s in t.spans}
    assert jobs == {"outer": 2, "inner": 2}
    inner, outer = t.spans
    assert inner.parent == outer.id and inner.op == outer.id


def test_job_group_restored_to_unset_after_an_exception():
    sc = FakeContext()
    t = Tracer(sc)
    with pytest.raises(ValueError):
        with t.span("fails"):
            raise ValueError
    assert sc.getLocalProperty(JOB_GROUP) is None
    assert len(t.spans) == 1


def test_span_without_jobs_leaves_the_group_alone():
    sc = FakeContext()
    t = Tracer(sc)
    with t.span("outer"):
        group = sc.getLocalProperty(JOB_GROUP)
        with t.span("listing", jobs=False):
            assert sc.getLocalProperty(JOB_GROUP) == group
            sc.run_job()
    assert [s.jobs for s in t.spans] == [0, 1]
    assert [s.grouped for s in t.spans] == [False, True]


class Owner:
    @staticmethod
    def stat(x):
        return x + 1

    def meth(self, x):
        return x * 2


def test_wrap_records_spans_counts_and_unwraps():
    t = Tracer()
    mod = SimpleNamespace(fn=lambda x: x - 1)
    orig_fn, orig_meth = mod.fn, Owner.meth
    t.wrap(mod, "fn", "layer.a",
           on_return=lambda tr, a, k, r: tr.count("a.calls"))
    t.wrap(Owner, "stat", "layer.b")
    t.wrap(Owner, "meth", "layer.c")
    assert (mod.fn(3), Owner.stat(3), Owner().meth(3)) == (2, 4, 6)
    assert [s.name for s in t.spans] == ["layer.a:fn", "layer.b:stat",
                                         "layer.c:meth"]
    assert t.counts["a.calls"] == 1
    assert set(t.layer_totals()) == {"layer.a", "layer.b", "layer.c"}
    t.unwrap_all()
    assert mod.fn is orig_fn and Owner.meth is orig_meth
    assert isinstance(Owner.__dict__["stat"], staticmethod)
