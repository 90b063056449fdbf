"""Local DBSCAN kernel: golden-fixture parity, semantic unit checks, and
exact equality with a sequential BFS reference kernel."""

from __future__ import annotations

import os
import subprocess
import sys
from collections import deque

import numpy as np
import pytest

import dbscan_spark.kernel as K
from dbscan_spark.kernel import (
    FLAG_BORDER,
    FLAG_CORE,
    FLAG_NOISE,
    local_dbscan,
    local_dbscan_matrix,
    relabel_to_match,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bfs_neighbor_lists(X: np.ndarray, eps: float) -> list[np.ndarray]:
    """All-pairs closed ε-neighbourhoods (ascending indices), computed a
    row block at a time with the kernel's coordinate-difference arithmetic."""
    out: list[np.ndarray] = []
    for s in range(0, len(X), 512):
        sq = np.zeros((len(X[s : s + 512]), len(X)), dtype=np.float64)
        for d in range(X.shape[1]):
            diff = X[s : s + 512, d][:, None] - X[:, d][None, :]
            sq += diff * diff
        out.extend(np.flatnonzero(row) for row in sq <= eps * eps)
    return out


def _bfs_dbscan(X: np.ndarray, eps: float, min_points: int):
    """Reference kernel: the reference's sequential expansion
    (LocalDBSCANArchery.scala), seeds visited in index order, one queue per
    cluster, border reclamation outside the visited guard (P2)."""
    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    neighbors = _bfs_neighbor_lists(X, eps)
    cluster = np.zeros(n, dtype=np.int64)
    flag = np.full(n, FLAG_NOISE, dtype=object)
    visited = np.zeros(n, dtype=bool)
    next_cluster = 0
    for seed in range(n):
        if visited[seed]:
            continue
        visited[seed] = True
        if len(neighbors[seed]) < min_points:
            continue  # stays noise unless a later cluster adopts it (P2)
        next_cluster += 1
        cluster[seed] = next_cluster
        flag[seed] = FLAG_CORE
        queue: deque[int] = deque(neighbors[seed].tolist())
        while queue:
            j = queue.popleft()
            if not visited[j]:
                visited[j] = True
                if len(neighbors[j]) >= min_points:
                    flag[j] = FLAG_CORE
                    queue.extend(neighbors[j].tolist())
            if cluster[j] == 0:
                cluster[j] = next_cluster
                if flag[j] != FLAG_CORE:
                    flag[j] = FLAG_BORDER
    return cluster, flag


def _assert_matches_bfs(X: np.ndarray, eps: float, min_points: int):
    """Exact equality of labels AND flags — ids included, not up to
    relabelling (P3). Returns the kernel's output."""
    cluster, flag = local_dbscan_matrix(X, eps, min_points)
    want_cluster, want_flag = _bfs_dbscan(X, eps, min_points)
    assert cluster.dtype == np.int64 and flag.dtype == object
    np.testing.assert_array_equal(cluster, want_cluster)
    np.testing.assert_array_equal(flag, want_flag)
    return cluster, flag


def test_golden_fixture_exact_labels(golden_points):
    """Reproduce every per-point label of the reference golden test
    (LocalDBSCANArcherySuite.scala:31-53: eps=0.3, minPoints=10),
    permutation-invariantly (P3)."""
    x = np.array([p[0] for p in golden_points])
    y = np.array([p[1] for p in golden_points])
    expected = np.array([p[2] for p in golden_points])
    cluster, flag = local_dbscan(x, y, eps=0.3, min_points=10)
    ok, mapping = relabel_to_match(cluster, expected)
    assert ok, f"label partition mismatch; partial mapping {mapping}"
    assert set(np.unique(cluster)) == {0, 1, 2, 3}
    assert (cluster[flag == FLAG_NOISE] == 0).all()
    assert (cluster[flag != FLAG_NOISE] > 0).all()


def _csr_edges(X: np.ndarray, eps: float) -> np.ndarray:
    """The kernel's neighbour CSR as (point, neighbour) pairs in one
    canonical order."""
    order, indptr, indices = K._neighbor_csr(X, eps)
    rows = np.repeat(order, np.diff(indptr))
    keep = np.lexsort((indices, rows))
    return np.stack([rows[keep], indices[keep]])


@pytest.mark.parametrize("source", ["synthetic", "golden"])
def test_grid_csr_matches_all_pairs_block(source, request, monkeypatch):
    """The CSR built through the ε-cell grid (big partitions) equals the
    CSR built as one all-pairs block (small ones) on the same data."""
    if source == "golden":
        pts = request.getfixturevalue("golden_points")
        X, eps = np.array([[p[0], p[1]] for p in pts]), 0.3
    else:
        rng = np.random.default_rng(7)
        blobs = rng.normal(0, 0.4, size=(900, 2)) + rng.integers(0, 4, (900, 1))
        lattice = rng.integers(-8, 8, size=(300, 2)) * 0.25  # ties at ε
        X, eps = np.vstack([blobs, lattice, lattice[:40]]), 0.25
    monkeypatch.setattr(K, "_DENSE_CUTOFF", len(X))
    block = _csr_edges(X, eps)
    monkeypatch.setattr(K, "_DENSE_CUTOFF", 0)
    grid = _csr_edges(X, eps)
    assert block.shape[1] > len(X)  # more than the self-pairs
    np.testing.assert_array_equal(block, grid)


def test_self_inclusive_min_points():
    """P1: a point counts itself — two coincident points with min_points=2
    form a cluster."""
    cluster, flag = local_dbscan(np.array([0.0, 0.0]), np.array([0.0, 0.0]), 1.0, 2)
    assert (cluster == 1).all()
    assert (flag == FLAG_CORE).all()


def test_closed_ball_boundary():
    """P1: dist² <= eps² is inclusive — points exactly eps apart are
    neighbors."""
    cluster, _ = local_dbscan(np.array([0.0, 1.0]), np.array([0.0, 0.0]), 1.0, 2)
    assert (cluster == 1).all()
    # and just beyond eps they are not
    cluster, _ = local_dbscan(np.array([0.0, 1.0000001]), np.array([0.0, 0.0]), 1.0, 2)
    assert (cluster == 0).all()


def test_border_reclamation_archery_semantics():
    """P2: a visited noise point later reachable from a core point becomes
    border (Archery/sklearn semantics, LocalDBSCANArchery.scala:103-106).

    Layout: p0 is isolated enough to be visited first and marked noise,
    but sits within eps of the core of a cluster discovered later.
    """
    # p0 at (0.9, 0); cluster of 4 points around x=1.8 .. 2.2; eps=1, minPts=4
    x = np.array([0.9, 1.8, 1.9, 2.0, 2.1])
    y = np.zeros(5)
    cluster, flag = local_dbscan(x, y, eps=1.0, min_points=4)
    # p0 has neighbors {p0, p1} -> not core -> initially noise; p1 is core
    # (neighbors p0,p1,p2,p3 within 1.0) and adopts p0 as border.
    assert flag[0] == FLAG_BORDER
    assert cluster[0] == cluster[1]
    assert flag[1] == FLAG_CORE


def test_noise_stays_zero():
    x = np.array([0.0, 10.0, 20.0])
    y = np.zeros(3)
    cluster, flag = local_dbscan(x, y, eps=1.0, min_points=2)
    assert (cluster == 0).all()
    assert (flag == FLAG_NOISE).all()


def test_empty_input():
    cluster, flag = local_dbscan(np.array([]), np.array([]), 1.0, 2)
    assert len(cluster) == 0 and len(flag) == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_blobs_match_sklearn_style_reference(seed):
    """Cross-check flags/partitions against an independent O(n²) pure-python
    implementation of classic DBSCAN on random blobs."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-5, 5, size=(3, 2))
    pts = np.vstack(
        [c + rng.normal(0, 0.3, size=(40, 2)) for c in centers]
        + [rng.uniform(-8, 8, size=(15, 2))]
    )
    x, y = pts[:, 0], pts[:, 1]
    eps, min_points = 0.5, 5
    cluster, flag = local_dbscan(x, y, eps, min_points)

    # independent reference: core = |closed ball| >= min_points; clusters =
    # connected components of core points under eps-adjacency; border =
    # non-core within eps of a core.
    n = len(x)
    d2 = (x[:, None] - x) ** 2 + (y[:, None] - y) ** 2
    adj = d2 <= eps * eps
    is_core = adj.sum(axis=1) >= min_points
    exp = np.zeros(n, dtype=int)
    cid = 0
    for i in np.flatnonzero(is_core):
        if exp[i]:
            continue
        cid += 1
        stack = [i]
        exp[i] = cid
        while stack:
            j = stack.pop()
            for k in np.flatnonzero(adj[j] & is_core):
                if not exp[k]:
                    exp[k] = cid
                    stack.append(k)
    assert ((cluster > 0) == is_core | (flag == FLAG_BORDER)).all()
    assert ((flag == FLAG_CORE) == is_core).all()
    # core-point partition must match up to renaming
    ok, _ = relabel_to_match(cluster[is_core], exp[is_core])
    assert ok
    # border points must belong to a cluster one of their core neighbors has
    for i in np.flatnonzero((~is_core) & (cluster > 0)):
        nbr_clusters = {int(c) for c in cluster[adj[i] & is_core]}
        assert int(cluster[i]) in nbr_clusters
    # non-core points with no core neighbor are noise
    for i in np.flatnonzero(~is_core):
        if not (adj[i] & is_core).any():
            assert cluster[i] == 0


def _blobs(rng, n: int, dim: int, spread: float, step: float) -> np.ndarray:
    """``n`` points: a few Gaussian blobs plus 15% uniform noise, snapped to
    a lattice of ``step`` so that some pairs lie exactly ε apart and some
    points coincide."""
    centres = rng.uniform(-4, 4, size=(int(rng.integers(1, 5)), dim))
    pts = centres[rng.integers(0, len(centres), n)]
    pts = pts + rng.normal(0, spread, size=(n, dim))
    noise = rng.random(n) < 0.15
    pts[noise] = rng.uniform(-6, 6, size=(int(noise.sum()), dim))
    return np.round(pts / step) * step


def _lattice(side: int, drop: float, dups: int, seed: int) -> np.ndarray:
    """Integer lattice (neighbours exactly ε = 1 apart) with a share of the
    sites removed and ``dups`` sites repeated."""
    rng = np.random.default_rng(seed)
    X = np.indices((side, side)).reshape(2, -1).T.astype(np.float64)
    X = X[rng.random(len(X)) >= drop]
    return np.vstack([X, X[rng.integers(0, len(X), dups)]])[rng.permutation(len(X) + dups)]


_SHARED_BORDER = np.array(
    # the border point first, then two clusters whose cores both lie
    # exactly ε = 0.7 from it; the first-discovered (right) one keeps it
    [[0.0, 0.0]]
    + [[x, 0.0] for x in (0.7, 0.8, 0.9, 1.0)]
    + [[x, 0.0] for x in (-1.0, -0.9, -0.8, -0.7)]
)
_P2_RECLAIM = np.array([[x, 0.0] for x in (0.9, 1.8, 1.9, 2.0, 2.1)])

_CASES = {
    "empty": (lambda rng: np.empty((0, 2)), 1.0, 3),
    "n1": (lambda rng: np.array([[0.5, -0.5]]), 1.0, 1),
    "n2048": (lambda rng: _blobs(rng, 2048, 2, 0.6, 0.25), 0.5, 6),
    "n2049": (lambda rng: _blobs(rng, 2049, 2, 0.6, 0.25), 0.5, 6),
    "n3000": (lambda rng: _blobs(rng, 3000, 2, 0.6, 0.25), 0.5, 6),
    "lattice-ties-dups": (lambda rng: _lattice(30, 0.2, 150, 1), 1.0, 5),
    "lattice-grid-path": (lambda rng: _lattice(50, 0.15, 200, 2), 1.0, 5),
    "shared-border": (lambda rng: _SHARED_BORDER, 0.7, 4),
    "p2-reclaim": (lambda rng: _P2_RECLAIM, 1.0, 4),
    "3d": (lambda rng: _blobs(rng, 400, 3, 0.7, 0.25), 0.75, 5),
    "3d-grid-path": (lambda rng: _blobs(rng, 2500, 3, 0.9, 0.25), 0.5, 4),
    "min_points-1": (lambda rng: _blobs(rng, 600, 2, 0.8, 0.25), 0.5, 1),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_kernel_equals_bfs_reference(case):
    make, eps, min_points = _CASES[case]
    X = make(np.random.default_rng(sorted(_CASES).index(case)))
    cluster, _flag = _assert_matches_bfs(X, eps, min_points)
    if case == "shared-border":
        assert cluster[0] == cluster[1] == 1 and cluster[-1] == 2


@pytest.mark.parametrize("seed", range(24))
def test_kernel_equals_bfs_reference_random(seed):
    """Random sizes, dims, ε and min_points; every sixth case is just past
    ``_DENSE_CUTOFF`` so that it takes the cell-grid path."""
    rng = np.random.default_rng(1000 + seed)
    n = int(rng.integers(2049, 2300) if seed % 6 == 0 else rng.integers(0, 400))
    X = _blobs(rng, n, int(rng.integers(2, 4)), 0.7, float(rng.choice([0.25, 0.5])))
    _assert_matches_bfs(X, float(rng.choice([0.5, 1.0])), int(rng.integers(1, 9)))


def test_hot_cell_grid_path_is_one_cluster():
    """P8 inside the kernel: 3000 points in ONE ε cell (more than
    ``_DENSE_CUTOFF``, and a members × ring matrix larger than one
    distance block) plus background points form exactly one core cluster,
    equal to the reference."""
    rng = np.random.default_rng(8)
    hot = rng.uniform(0.0, 1.0, size=(3000, 2))  # the cell [0, 1)² at ε = 1
    background = rng.uniform(-10.0, 10.0, size=(500, 2))
    X = np.vstack([background[:250], hot, background[250:]])
    assert len(X) > K._DENSE_CUTOFF and len(hot) ** 2 > K._BLOCK
    cluster, flag = _assert_matches_bfs(X, 1.0, 10)
    hot_ids = np.arange(250, 3250)
    assert (flag[hot_ids] == FLAG_CORE).all()
    assert len(np.unique(cluster[hot_ids])) == 1


def test_benchmark_oracle_self_check():
    """perfbench's oracle self-check (fit and predict oracles against an
    O(n²) brute force, and the kernel's output against the fit oracle)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "check_oracle.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
