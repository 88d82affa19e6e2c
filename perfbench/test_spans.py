"""Interval arithmetic of the span summaries: overlapping children count
once, so self time plus covered time is exactly the parent's wall time.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import random

from perfbench.spans import Tracer, self_time, union_length


def test_union_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 4), (1, 2), (3, 4)]) == 4  # nested
    assert union_length([(1, 2), (0, 1)]) == 2  # touching, unsorted


def test_union_clips_to_parent():
    assert union_length([(-1, 1), (2, 5)], 0, 3) == 2
    assert union_length([(5, 6)], 0, 3) == 0


def test_concurrent_commits_do_not_go_negative():
    # four commits of 3 s each running side by side inside a 4 s round:
    # summing them gives 12 s (the old "-8 s unattributed"); the union is 3 s
    children = [(0.5, 3.5)] * 4
    assert self_time(0, 4, children) == 1.0


def test_self_plus_union_is_wall_on_random_spans():
    rng = random.Random(7)
    for _ in range(200):
        lo, hi = 0.0, rng.uniform(1, 10)
        kids = []
        for _ in range(rng.randrange(12)):
            a = rng.uniform(lo - 1, hi)
            kids.append((a, a + rng.uniform(0, 3)))
        s = self_time(lo, hi, kids)
        u = union_length(kids, lo, hi)
        assert s >= 0
        assert abs(s + u - (hi - lo)) < 1e-9


class _Box:
    def work(self, x):
        return x + 1


def test_wrappers_record_only_when_enabled_and_restore():
    tr = Tracer()
    original = _Box.__dict__["work"]
    tr.wrap_method(_Box, "work", "box.work")
    assert _Box().work(1) == 2 and tr.spans == []
    tr.enabled = True
    assert _Box().work(2) == 3
    assert [s.name for s in tr.spans] == ["box.work"]
    tr.restore()
    assert _Box.__dict__["work"] is original
