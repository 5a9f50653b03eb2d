"""In-memory spans around calls into the engine's layers.

The traced run wraps layer entry points from outside the engine (see
``layers.install``). Each wrapper records a span (name, start, end, parent,
op id) and, when given a SparkContext, runs its body under a Spark job group
of its own, restoring the caller's group afterwards, so the jobs a span runs
itself can be counted. A job is counted against the innermost span active
when its action runs; a lazy builder that only returns a DataFrame therefore
gets plan-build time and no jobs.
"""

from __future__ import annotations

import functools
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]
    jobs: int = 0
    grouped: bool = False      # ran under a job group of its own

    @property
    def duration(self):
        return self.end - self.start


def _covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> duration minus the part of it that child spans cover."""
    children = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out = {}
    for sp in spans:
        kids = [(max(c.start, sp.start), min(c.end, sp.end))
                for c in children[sp.id]]
        out[sp.id] = sp.duration - _covered([k for k in kids if k[1] > k[0]])
    return out


class Tracer:
    """Collects spans and counters; ``sc`` (a SparkContext) enables job
    counting per span."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._next_id = 0
        self._op: Optional[int] = None
        self._patched: list = []

    # ---- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name, layer=None, jobs=True):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op = sid              # a root span is one timed operation
        group, prev = None, None
        if jobs and self.sc is not None:
            group = f"perfbench-span-{sid}"
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, group)
        self._stack.append(sid)
        t0 = self.clock()
        try:
            yield sid
        finally:
            t1 = self.clock()
            self._stack.pop()
            njobs = 0
            if group is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev)
                njobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(Span(sid, name, layer or name, t0, t1, parent,
                                   self._op, njobs, group is not None))

    def count(self, name, n=1):
        self.counts[name] += n

    # ---- wrapping -------------------------------------------------------
    def wrap(self, owner, attr, layer, jobs=True, on_return=None):
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``on_return(tracer, args, kwargs, result)`` may add counters.
        ``unwrap_all`` puts every original back.
        """
        original = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        fn = original.__func__ if isinstance(original, staticmethod) \
            else original
        tracer = self
        name = f"{layer}:{attr}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer, jobs):
                result = fn(*args, **kwargs)
            if on_return is not None:
                on_return(tracer, args, kwargs, result)
            return result

        new = staticmethod(wrapper) if isinstance(original, staticmethod) \
            else wrapper
        setattr(owner, attr, new)
        self._patched.append((owner, attr, original))

    def unwrap_all(self):
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ---- summaries ------------------------------------------------------
    def layer_totals(self):
        """layer -> {"self_s", "calls", "spark_jobs"} over all spans."""
        st = self_times(self.spans)
        out = defaultdict(lambda: {"self_s": 0.0, "calls": 0, "spark_jobs": 0})
        for sp in self.spans:
            agg = out[sp.layer]
            agg["self_s"] += st[sp.id]
            agg["calls"] += 1
            agg["spark_jobs"] += sp.jobs
        return dict(out)

    def to_json(self):
        st = self_times(self.spans)
        return [{"id": s.id, "name": s.name, "layer": s.layer,
                 "start": s.start, "end": s.end, "parent": s.parent,
                 "op": s.op, "jobs": s.jobs, "self_s": st[s.id]}
                for s in self.spans]
