#!/usr/bin/env python3
"""Self-check of the benchmark's oracles.

    python3 perfbench/check_oracle.py [--fixture labeled_data.csv]

Compares ``oracle.fit_truth`` and ``oracle.predict_truth`` with an O(n²)
brute force written straight from the DBSCAN definition on seeded random
sets, checks that ``check_fit`` accepts the single-partition kernel's output
and rejects corrupted labels, and, given the reference's labelled fixture
(rows ``x,y,label``, label 0 = noise; eps=0.3, min_points=10), that the
fixture's labels pass ``check_fit``. Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import argparse
import csv
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import oracle  # noqa: E402


def brute(P: np.ndarray, eps: float, min_points: int):
    """(core, border, component partition of cores) by the definition."""
    dx = P[:, None, 0] - P[None, :, 0]
    dy = P[:, None, 1] - P[None, :, 1]
    near = dx * dx + dy * dy <= eps * eps
    core = near.sum(axis=1) >= min_points
    border = ~core & (near & core[None, :]).any(axis=1)
    comp = np.full(len(P), -1)
    k = 0
    for s in np.flatnonzero(core):
        if comp[s] >= 0:
            continue
        comp[s] = k
        stack = [s]
        while stack:
            i = stack.pop()
            for j in np.flatnonzero(near[i] & core & (comp < 0)):
                comp[j] = k
                stack.append(j)
        k += 1
    return core, border, comp


def same_partition(a: np.ndarray, b: np.ndarray) -> bool:
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    return len(pairs) == len(np.unique(a)) == len(np.unique(b))


def check_random(seed: int) -> None:
    from dbscan_spark.kernel import local_dbscan_matrix

    rng = np.random.default_rng(seed)
    cases = [
        (datagen.skewed_points(rng, 700, datagen.skewed_layout(rng)), 0.3, 6),
        (datagen.uniform_points(rng, 600, 0.2), 2.0, 4),
        # points on a lattice of step eps: exact-boundary distances
        (np.indices((20, 20)).reshape(2, -1).T.astype(np.float64) * 0.5, 0.5, 5),
    ]
    for P, eps, mp in cases:
        t = oracle.fit_truth(P, eps, mp)
        core, border, comp = brute(P, eps, mp)
        assert np.array_equal(t.core, core), "core flags"
        assert np.array_equal(t.border, border), "border flags"
        assert same_partition(t.comp[core], comp[core]), "core components"

        labels, flags = local_dbscan_matrix(P, eps, mp)
        ids = np.arange(len(P))
        assert oracle.check_fit(t, ids, labels, flags.astype(str)) == [], "kernel"
        if t.n_clusters > 1:
            bad = labels.copy()
            bad[np.flatnonzero(t.core)[0]] = labels.max() + 1  # split a component
            assert oracle.check_fit(t, ids, bad, flags.astype(str)), "split passed"

        Q = rng.uniform(P.min() - eps, P.max() + eps, size=(300, 2))
        cl = np.where(t.core, labels, 0)
        want = oracle.predict_truth(P[t.core], cl[t.core], Q, eps)
        d2 = (Q[:, None, 0] - P[None, t.core, 0]) ** 2 + (Q[:, None, 1] - P[None, t.core, 1]) ** 2
        expect = np.zeros(len(Q), dtype=np.int64)
        for i in range(len(Q)):
            hit = np.flatnonzero(d2[i] <= eps * eps)
            if len(hit):
                best = min(hit, key=lambda j: (d2[i, j], cl[t.core][j]))
                expect[i] = cl[t.core][best]
        assert np.array_equal(want, expect), "predict"


def check_fixture(path: str) -> None:
    with open(path) as fh:
        rows = [(float(x), float(y), int(float(lbl))) for x, y, lbl in csv.reader(fh)]
    P = np.array([(x, y) for x, y, _ in rows])
    labels = np.array([lbl for _, _, lbl in rows])
    t = oracle.fit_truth(P, 0.3, 10)
    flags = np.where(t.core, "core", np.where(t.border, "border", "noise"))
    errs = oracle.check_fit(t, np.arange(len(P)), labels, flags)
    assert errs == [], errs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--fixture", help="the reference's labeled_data.csv")
    args = ap.parse_args()
    for seed in range(5):
        check_random(seed)
    print("random sets: fit and predict oracles match the brute force")
    if args.fixture:
        check_fixture(args.fixture)
        print(f"fixture {args.fixture}: labels pass the fit oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
