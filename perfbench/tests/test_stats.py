"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.inputs import DOC_VOCAB, dedup_reference, gen_documents  # noqa: E402
from perfbench.stats import Tally, fingerprint, median, self_times, supported_percentile  # noqa: E402


def test_fingerprint_ignores_row_order():
    rows = [("c1", 0, 1000001), ("c1", 1, 1000002), ("c2", 0, 1000001)]
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    assert fingerprint(rows) == fingerprint(shuffled)
    assert fingerprint(rows)[0] == 3


def test_fingerprint_sees_changed_dropped_and_duplicated_rows():
    rows = [("c1", 0, 1000001), ("c1", 1, 1000002)]
    base = fingerprint(rows)
    assert fingerprint([("c1", 0, 1000001), ("c1", 1, 1000003)]) != base
    assert fingerprint(rows[:1]) != base
    assert fingerprint(rows + rows[:1]) != base
    assert fingerprint([]) == (0, "0" * 16)


def test_median_of_odd_and_even_counts():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_needs_ten_samples_beyond_it():
    assert supported_percentile(19) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(99) == 50.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(1000) == 99.0
    assert supported_percentile(10_000) == 99.9


def test_self_time_subtracts_the_parent_prefix():
    spans = {"io": 0.5, "match": 2.0, "enrich": 2.25, "correlate": 2.1}
    parents = {"io": None, "match": "io", "enrich": "match", "correlate": "enrich"}
    own = self_times(spans, parents)
    assert own["io"] == 0.5
    assert own["match"] == 1.5
    assert own["enrich"] == 0.25
    assert own["correlate"] == pytest.approx(-0.15)  # noise can invert two prefixes


def test_tally_counts_mismatches_and_exceptions_as_failures():
    t = Tally()
    t.record(True)
    t.record(False)  # output mismatch
    t.record(True)
    t.record(False)  # exception
    t.record(True)
    assert (t.attempted, t.failed) == (5, 2)
    assert t.ratio == pytest.approx(2 / 5)
    assert not t.correct


def test_tally_is_correct_only_with_attempts_and_no_failures():
    assert not Tally().correct
    t = Tally()
    t.record(True)
    t.record(True)
    assert t.correct and t.ratio == 0.0


def test_dedup_reference_merges_near_duplicates():
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [base, base, "one two three four five six seven", base.replace("kappa", "lambda")]
    ref = dedup_reference(texts)
    assert ref["docs"] == 4
    assert ref["pairs"] >= 1
    # the two identical copies always collapse; unrelated text survives
    assert ref["survivors"] in (2, 3)


def test_documents_are_seeded_and_shaped_like_the_reference_corpus():
    a, b = gen_documents(2000, 11), gen_documents(2000, 11)
    assert a == b
    assert gen_documents(2000, 12)["text"] != a["text"]
    words = [t.split(" ") for t in a["text"]]
    copies = [w for w in words if w[-1] == "dup"]
    assert 0.03 < len(copies) / len(words) < 0.07
    assert all(10 <= len(w) - w.count("dup") <= 99 for w in words)
    assert {x for w in words for x in w} <= set(DOC_VOCAB) | {"dup"}
    assert a["n_chars"] == [len(t) for t in a["text"]]
