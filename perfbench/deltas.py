"""Seeded insert/delete deltas over a bag of input records.

Records are named by their row index in the base table, and the live
input is a multiset: ``counts[i]`` copies of row ``i`` are present.  A
delta inserts rows drawn from the held-out pool and deletes rows drawn
from the present bag.  To exercise bag semantics, some inserts re-insert
a second copy of a present row and some deletes remove one of two copies
of a duplicated row, so a store that treated the input as a set would
drift from the recompute.

Everything here is numpy over row indices; the Spark side only
materializes the rows a delta names.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: delta size per class, as a share of the base table's rows
SIZE_CLASSES = {"small": 0.001, "medium": 0.01, "large": 0.1}
#: share of inserts that re-insert a copy of a present row
DUP_INSERT_SHARE = 0.05
#: share of deletes aimed at a row that is present twice or more
DUP_DELETE_SHARE = 0.05


@dataclass(frozen=True)
class Delta:
    size_class: str
    inserts: np.ndarray  # row indices, may repeat
    deletes: np.ndarray  # row indices, may repeat


def initial_counts(n_rows: int, seed: int, share: float = 0.9) -> np.ndarray:
    """Copies per row in the initial load: a seeded `share` of the rows
    once each, the rest held out (count 0) as the insert pool."""
    rng = np.random.default_rng([seed, 0])
    counts = np.zeros(n_rows, dtype=np.int64)
    counts[rng.permutation(n_rows)[: round(n_rows * share)]] = 1
    return counts


def _take(rng: np.random.Generator, candidates: np.ndarray, n: int) -> np.ndarray:
    n = min(n, len(candidates))
    return rng.choice(candidates, n, replace=False) if n else candidates[:0]


def next_delta(counts: np.ndarray, size_class: str,
               rng: np.random.Generator) -> Delta:
    """Draw one delta of `size_class` against the current bag `counts`.

    Half the rows are inserts and half deletes.  `counts` is not
    changed; apply the delta with :func:`apply`."""
    n = max(2, round(len(counts) * SIZE_CLASSES[size_class]))
    n_ins, n_del = n // 2, n - n // 2

    n_dup = max(1, round(n_ins * DUP_INSERT_SHARE))
    dup_ins = _take(rng, np.flatnonzero(counts >= 1), n_dup)
    fresh = _take(rng, np.flatnonzero(counts == 0), n_ins - len(dup_ins))
    inserts = np.concatenate([fresh, dup_ins])

    # deletes see the bag as it stands before this delta, so a row
    # deleted here is never one this delta inserts
    n_dup_del = max(1, round(n_del * DUP_DELETE_SHARE))
    twice = _take(rng, np.flatnonzero(counts >= 2), n_dup_del)
    rest = np.flatnonzero(counts >= 1)
    rest = rest[~np.isin(rest, twice)]
    deletes = np.concatenate([twice, _take(rng, rest, n_del - len(twice))])
    return Delta(size_class, np.sort(inserts), np.sort(deletes))


def apply(counts: np.ndarray, delta: Delta) -> np.ndarray:
    """The bag after `delta`: a new counts array."""
    out = counts.copy()
    np.add.at(out, delta.inserts, 1)
    np.subtract.at(out, delta.deletes, 1)
    if (out < 0).any():
        raise ValueError("delta deletes a row that is not present")
    return out


def delta_sequence(counts: np.ndarray, classes: list[str],
                   seed: int) -> list[Delta]:
    """A seeded sequence of deltas, one per entry of `classes`, each
    drawn against the bag the previous ones leave behind."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for size_class in classes:
        d = next_delta(counts, size_class, rng)
        counts = apply(counts, d)
        out.append(d)
    return out


def expand(counts: np.ndarray) -> np.ndarray:
    """Row indices of the bag, each repeated by its count."""
    return np.repeat(np.arange(len(counts)), counts)
