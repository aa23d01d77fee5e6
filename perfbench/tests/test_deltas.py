"""The delta generator: seed-determinism and bag semantics."""

import numpy as np
import pytest

from perfbench import deltas

N = 20_000
CLASSES = ["small", "medium", "large", "small", "medium"]


def _seq(seed):
    counts = deltas.initial_counts(N, seed)
    return counts, deltas.delta_sequence(counts, CLASSES, seed)


def test_same_seed_same_deltas():
    (c1, s1), (c2, s2) = _seq(7), _seq(7)
    assert np.array_equal(c1, c2)
    for a, b in zip(s1, s2):
        assert a.size_class == b.size_class
        assert np.array_equal(a.inserts, b.inserts)
        assert np.array_equal(a.deletes, b.deletes)


def test_other_seed_other_deltas():
    (c1, s1), (c2, s2) = _seq(7), _seq(8)
    assert not np.array_equal(c1, c2)
    assert not np.array_equal(s1[0].inserts, s2[0].inserts)


def test_initial_load_holds_ninety_percent_once():
    counts = deltas.initial_counts(N, 3)
    assert set(np.unique(counts)) == {0, 1}
    assert counts.sum() == round(N * 0.9)


def test_sizes_follow_the_classes():
    _, seq = _seq(5)
    for d in seq:
        n = round(N * deltas.SIZE_CLASSES[d.size_class])
        assert len(d.inserts) + len(d.deletes) == n


def test_bag_semantics_are_exercised_and_kept():
    counts, seq = _seq(11)
    dup_inserts = dup_deletes = 0
    for d in seq:
        present = counts.copy()
        # inserts come from the held-out pool or re-insert a present row
        assert np.all((present[d.inserts] == 0) | (present[d.inserts] >= 1))
        dup_inserts += int((present[d.inserts] >= 1).sum())
        # deletes only remove rows that are present, one copy each
        assert np.all(present[d.deletes] >= 1)
        assert len(np.unique(d.deletes)) == len(d.deletes)
        dup_deletes += int((present[d.deletes] >= 2).sum())
        counts = deltas.apply(counts, d)
        assert counts.min() >= 0
    assert dup_inserts > 0, "no duplicate re-inserts"
    assert dup_deletes > 0, "no delete of one of two copies"
    assert counts.max() >= 2, "the bag never held a duplicate"


def test_apply_matches_a_multiset_replay():
    from collections import Counter

    counts, seq = _seq(13)
    bag = Counter({i: int(c) for i, c in enumerate(counts) if c})
    for d in seq:
        bag.update(d.inserts.tolist())
        bag.subtract(d.deletes.tolist())
        counts = deltas.apply(counts, d)
    assert {i: c for i, c in bag.items() if c} == {
        i: int(c) for i, c in enumerate(counts) if c}
    assert sorted(deltas.expand(counts).tolist()) == sorted(bag.elements())


def test_apply_refuses_deleting_an_absent_row():
    counts = np.zeros(4, dtype=np.int64)
    d = deltas.Delta("small", np.array([], dtype=np.int64), np.array([1]))
    with pytest.raises(ValueError):
        deltas.apply(counts, d)
