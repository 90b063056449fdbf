"""Local (single-partition) DBSCAN kernel — pure numpy, no Spark.

This is the compute kernel that runs inside ``applyInPandas`` groups in the
distributed pipeline (one invocation per spatial partition, group size
bounded by ``max_points_per_partition``), and is independently usable for
single-node clustering.

Semantics contract (mirrors the reference, SURVEY.md §2.3):

* P1 — the ε-neighborhood is **closed** (``dist² <= eps²``) and
  **self-inclusive**: a point counts itself toward ``min_points``
  (reference LocalDBSCANNaive.scala:70-75, LocalDBSCANArchery.scala:114-116;
  same convention as sklearn).
* P2 — **border reclamation**: an already-visited noise point that is later
  found ε-reachable from a core point is relabeled as a border member of
  that cluster (the reference's Archery variant,
  LocalDBSCANArchery.scala:103-106 — the check sits outside the
  ``!visited`` guard; classic DBSCAN / sklearn semantics).
* P3 — cluster ids are assignment-order-dependent (1..k in discovery
  order); callers must compare results permutation-invariantly.
* P9 — noise keeps ``cluster = 0`` and ``flag = 'noise'``.

Complexity: one pass builds every closed ε-neighbourhood as a CSR
(``indptr``/``indices``). Points are put in ε-cell order once (a
``lexsort`` on the cells of the first two dims), so each cell's members
are a contiguous run and its 3×3 cell ring is at most three runs; a
blocked members × ring distance matrix per cell then emits the neighbour
ids already grouped by row → O(n · avg neighbourhood) work instead of the
reference kernel's O(n²) linear scans (LocalDBSCANNaive.scala:70-75).
Inputs of at most ``_DENSE_CUTOFF`` points run the same loop as one
all-pairs block. Labelling is array-only: a point is core when its degree
reaches ``min_points``; core–core components come from min-label
propagation over the CSR (``np.minimum.reduceat``) with root hooking and
pointer jumping, each component ending up labelled by its smallest
original core index. That index is the seed that discovers the component
in the reference's sequential expansion: it visits seeds in index order
and a cluster's expansion only ever reaches its own component's cores, so
numbering components by their smallest core index reproduces discovery
order (P3). Clusters are expanded one after another there, so a border
point keeps the first — smallest — cluster among its core neighbours
(P2).
"""

from __future__ import annotations

import numpy as np

FLAG_NOISE = "noise"
FLAG_CORE = "core"
FLAG_BORDER = "border"

_DENSE_CUTOFF = 2048  # up to this many points, one all-pairs block
_BLOCK = 1 << 22  # doubles per distance block (32 MB)
_FLAGS = np.array([FLAG_NOISE, FLAG_CORE, FLAG_BORDER], dtype=object)


def _cell_runs(X: np.ndarray, eps: float) -> tuple[np.ndarray, list]:
    """ε-cell order on the FIRST TWO dims, and per cell ``(start, end,
    ring)``: the cell's run of positions in that order and the runs
    (at most three) holding its 3×3 cell ring.

    Correct for any dimensionality because a Euclidean projection distance
    never exceeds the full distance: every point within full-space eps of p
    is within eps of p in the (d0, d1) plane, hence inside p's 3×3 cell
    ring. (Selectivity degrades if the first two dims carry no spread — the
    same trade the reference makes by partitioning on vector(0),
    vector(1).) Cells sort by (cx, cy), so the three cells of one ring
    column, (cx+o, cy-1..cy+1), are adjacent in the order and form one run.
    """
    n = len(X)
    cx = np.floor(X[:, 0] / eps).astype(np.int64)
    cy = np.floor(X[:, 1] / eps).astype(np.int64)
    order = np.lexsort((cy, cx))
    sx, sy = cx[order], cy[order]
    change = np.flatnonzero((np.diff(sx) != 0) | (np.diff(sy) != 0)) + 1
    starts = np.concatenate(([0], change)).tolist()
    ends = np.concatenate((change, [n])).tolist()
    run = dict(zip(zip(sx[starts].tolist(), sy[starts].tolist()), zip(starts, ends)))
    cells = []
    for (x, y), (s, e) in run.items():
        ring = []
        for rx in (x - 1, x, x + 1):
            col = [run[k] for k in ((rx, y - 1), (rx, y), (rx, y + 1)) if k in run]
            if col:
                ring.append((col[0][0], col[-1][1]))
        cells.append((s, e, ring))
    return order, cells


def _neighbor_csr(
    X: np.ndarray, eps: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every closed ε-neighbourhood as one CSR: ``(order, indptr,
    indices)``, where row ``r`` is point ``order[r]`` and holds the
    original indices ``indices[indptr[r]:indptr[r + 1]]``.

    Distances are explicit coordinate differences, deliberately NOT the
    |a|²+|b|²−2ab dot-product trick: the closed-ball boundary (P1,
    dist² <= eps²) must not flip on the ~1e-12 rounding that formulation
    introduces for points exactly at distance eps.
    """
    n = len(X)
    if n <= _DENSE_CUTOFF:
        order, cells = np.arange(n), [(0, n, [(0, n)])] if n else []
    else:
        order, cells = _cell_runs(X, eps)
    Xs = X[order]
    eps2 = eps * eps
    counts = np.zeros(n, dtype=np.int64)
    hits = [np.empty(0, dtype=np.int64)]
    for start, end, ring in cells:
        cand = np.concatenate([order[a:b] for a, b in ring])
        Xc = np.concatenate([Xs[a:b] for a, b in ring])
        # Block the member rows so the matrix stays ~4M doubles even when
        # an unsplittable hot cell holds the whole partition (P8).
        block = max(1, _BLOCK // len(cand))
        for s in range(start, end, block):
            e = min(end, s + block)
            sq = np.subtract.outer(Xs[s:e, 0], Xc[:, 0])
            sq *= sq
            for d in range(1, X.shape[1]):
                diff = np.subtract.outer(Xs[s:e, d], Xc[:, d])
                diff *= diff
                sq += diff
            within = sq <= eps2
            # Row-major hits: the members are consecutive rows, so the
            # gathered ids land in row order with no sort of the edges.
            hits.append(cand[np.flatnonzero(within) % len(cand)])
            counts[s:e] = np.count_nonzero(within, axis=1)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=indptr[1:])
    return order, indptr, np.concatenate(hits)


def local_dbscan_matrix(
    X: np.ndarray,
    eps: float,
    min_points: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Cluster n-D points (rows of ``X``); returns ``(cluster, flag)``.

    ``cluster`` is int64 with 0 = noise and 1..k in discovery order (P3/P9);
    ``flag`` is an object array of {'core','border','noise'}. 2-D inputs
    reproduce the reference kernel exactly; higher dimensionality keeps the
    same semantics with distance over all columns.
    """
    X = np.asarray(X, dtype=np.float64)
    if X.ndim != 2:
        raise ValueError(f"X must be (n, d), got shape {X.shape}")
    n = len(X)
    order, indptr, indices = _neighbor_csr(X, eps)
    deg = np.diff(indptr)
    core = deg >= min_points  # by row
    core_ids = order[core]

    # lab[i]: smallest core index known to share core i's component; n for
    # a non-core point and at the sentinel slot lab[n], so non-cores never
    # win a min and pointer jumping stays in bounds.
    lab = np.full(n + 1, n, dtype=np.int64)
    lab[core_ids] = core_ids
    rows = np.flatnonzero(deg)
    while True:
        # m[r]: smallest label among row r's neighbours (n if none is core)
        m = np.full(n, n, dtype=np.int64)
        m[rows] = np.minimum.reduceat(lab[indices], indptr[rows])
        m_core = np.minimum(m[core], lab[core_ids])
        if np.array_equal(m_core, lab[core_ids]):
            break
        # Hook each core's current root under the smaller label too: plain
        # propagation needs O(n) rounds on a chain in random index order.
        np.minimum.at(lab, lab[core_ids], m_core)
        lab[core_ids] = np.minimum(lab[core_ids], m_core)
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up

    # At the fixpoint a core's label is its component's smallest core index
    # and a non-core row's m is the smallest such index among its core
    # neighbours; numbering the components by that index gives both the
    # cluster ids (P3) and each border point's pick (P2).
    key = np.where(core, lab[order], m)  # by row
    cid = np.zeros(n + 1, dtype=np.int64)
    roots = np.flatnonzero(lab[:n] == np.arange(n))
    cid[roots] = np.arange(1, len(roots) + 1)
    cluster = np.empty(n, dtype=np.int64)
    flag = np.empty(n, dtype=object)
    cluster[order] = cid[key]
    flag[order] = _FLAGS[np.where(core, 1, np.where(key < n, 2, 0))]
    return cluster, flag


def local_dbscan(
    x: np.ndarray,
    y: np.ndarray,
    eps: float,
    min_points: int,
) -> tuple[np.ndarray, np.ndarray]:
    """2-D convenience wrapper over :func:`local_dbscan_matrix`
    (reference-kernel parity surface)."""
    X = np.column_stack(
        [np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)]
    )
    return local_dbscan_matrix(X, eps, min_points)


def relabel_to_match(
    got: np.ndarray, expected: np.ndarray
) -> tuple[bool, dict[int, int]]:
    """Permutation-invariant label comparison helper (P3).

    Builds the bijection got-label -> expected-label from co-membership and
    checks it is consistent both ways; noise (0) must map to noise.
    Returns (matches, mapping).
    """
    mapping: dict[int, int] = {}
    reverse: dict[int, int] = {}
    for g, e in zip(got.tolist(), expected.tolist()):
        if (g == 0) != (e == 0):
            return False, mapping
        if g == 0:
            continue
        if mapping.setdefault(g, e) != e:
            return False, mapping
        if reverse.setdefault(e, g) != g:
            return False, mapping
    return True, mapping
