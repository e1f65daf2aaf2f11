"""Fast tests of the benchmark's own logic (no Spark, no server).

    python3 -m pytest servebench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from servebench.corpus import (  # noqa: E402
    KIND_PATTERN, churn_cycles, make_corpus, search_requests,
)
from servebench.stats import TooFewSamples, percentile, spread  # noqa: E402
from servebench.trace import Span, Tracer, self_times, union_ms  # noqa: E402


def _corpus_bytes(seed: int) -> bytes:
    c = make_corpus(seed, 300, 10)
    return "\n".join(f"{d.filename}|{d.lang}|{d.source}|{d.text}" for d in c.docs).encode()


def test_same_seed_same_corpus_and_requests():
    assert _corpus_bytes(7) == _corpus_bytes(7)
    c = make_corpus(7, 300, 10)
    assert search_requests(c, 7, 50) == search_requests(make_corpus(7, 300, 10), 7, 50)
    assert churn_cycles(7, 5, "notes") == churn_cycles(7, 5, "notes")


def test_other_seed_other_corpus_and_requests():
    assert _corpus_bytes(7) != _corpus_bytes(8)
    assert search_requests(make_corpus(7, 300, 10), 7, 50) != \
        search_requests(make_corpus(8, 300, 10), 8, 50)
    assert churn_cycles(7, 5, "notes") != churn_cycles(8, 5, "notes")


def test_request_mix_does_not_depend_on_seed():
    for seed in (1, 2):
        reqs = search_requests(make_corpus(seed, 300, 10), seed, len(KIND_PATTERN))
        kinds = ["F" if "filter" in r["args"] else "L" if "library" in r["args"] else "U"
                 for r in reqs]
        assert "".join(kinds) == KIND_PATTERN
        assert sum(r["expect"] is not None for r in reqs) == len(KIND_PATTERN) // 4


def test_needles_are_unique_and_planted():
    c = make_corpus(3, 300, 10)
    assert len(c.needles) == 10
    for token, doc in c.needles.items():
        assert token in doc.text.split()
        assert sum(token in d.text for d in c.docs) == 1


def test_percentile_refuses_thin_tail():
    xs = [float(i) for i in range(1, 100)]
    with pytest.raises(TooFewSamples):
        percentile(xs, 90)          # 9 samples beyond p90 of 99
    assert percentile(xs + [100.0], 90) == 90.0   # exactly 10 beyond
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(TooFewSamples):
        percentile([], 50)


def test_spread_is_iqr_over_median():
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["spread"] == pytest.approx((s["q3"] - s["q1"]) / 3.0)


def test_union_of_overlapping_intervals():
    assert union_ms([]) == 0.0
    assert union_ms([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(4.0)
    assert union_ms([(0.0, 10.0), (2.0, 3.0)]) == pytest.approx(10.0)


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 1.0, None, "r1"),
        Span(1, "a", 0.1, 0.5, 0, "r1"),
        Span(2, "b", 0.4, 0.6, 0, "r1"),      # overlaps a: covered once
        Span(3, "a.child", 0.2, 0.3, 1, "r1"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(500.0)     # 1.0 s minus [0.1, 0.6]
    assert st[1] == pytest.approx(300.0)     # 0.4 s minus 0.1 s
    assert st[2] == pytest.approx(200.0)
    assert st[3] == pytest.approx(100.0)


def test_tracer_links_nested_calls_to_request():
    t = Tracer()

    def inner():
        return 1

    def outer():
        return wrapped_inner() + 1

    wrapped_inner = t.wrap("inner", inner)
    wrapped_outer = t.wrap("outer", outer)
    t.request = "r7"
    assert wrapped_outer() == 2
    by_name = {s.name: s for s in t.spans}
    assert by_name["inner"].parent == by_name["outer"].sid
    assert by_name["outer"].parent is None
    assert {s.request for s in t.spans} == {"r7"}


def test_timed_units_follow_seconds_not_speed():
    from servebench.workloads import UNIT_S, units

    assert units(8) == 1                 # always at least one block or cycle
    assert units(UNIT_S * 2) == 2
    assert units(0.1) == 1
