"""Correctness oracles for DBSCAN fits and predictions.

Written from the DBSCAN definition with numpy alone, independent of
``dbscan_spark.kernel``:

* a point is core iff at least ``min_points`` points (itself included) lie
  within the closed ε-ball; a non-core point is border iff some core point
  lies within ε; every other point is noise;
* clusters are the connected components of cores under core–core ε edges
  (union-find); a border point may carry the cluster of any of its core
  neighbours (see :func:`check_fit` for the merge the program may add);
* ``predict`` gives a new point the cluster of its nearest core within ε
  (ties to the smaller cluster id), else noise.

All distances are ``dx*dx + dy*dy <= eps*eps`` on float64, the same IEEE
operations the program uses, so the closed boundary is compared exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_CHUNK = 2048


def _pairs(P: np.ndarray, Q: np.ndarray, eps: float):
    """Yield ``(i, j, d2)`` arrays for every ``P[i]``, ``Q[j]`` pair within
    the closed ε-ball, ``P`` processed in chunks against an ε-grid on ``Q``."""
    if len(P) == 0 or len(Q) == 0:
        return
    eps2 = eps * eps
    qc = np.floor(Q / eps).astype(np.int64)
    lo_x, lo_y = qc.min(axis=0)
    hi_x, hi_y = qc.max(axis=0)
    width = hi_y - lo_y + 1
    qkey = (qc[:, 0] - lo_x) * width + (qc[:, 1] - lo_y)
    order = np.argsort(qkey, kind="stable")
    skey = qkey[order]
    pc = np.floor(P / eps).astype(np.int64)
    for start in range(0, len(P), _CHUNK):
        pi = np.arange(start, min(start + _CHUNK, len(P)))
        for ox in (-1, 0, 1):
            for oy in (-1, 0, 1):
                cx = pc[pi, 0] + ox
                cy = pc[pi, 1] + oy
                valid = (cx >= lo_x) & (cx <= hi_x) & (cy >= lo_y) & (cy <= hi_y)
                key = np.where(valid, (cx - lo_x) * width + (cy - lo_y), -1)
                first = np.searchsorted(skey, key, "left")
                lens = np.searchsorted(skey, key, "right") - first
                total = int(lens.sum())
                if total == 0:
                    continue
                i = np.repeat(pi, lens)
                within = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
                j = order[np.repeat(first, lens) + within]
                dx = P[i, 0] - Q[j, 0]
                dy = P[i, 1] - Q[j, 1]
                d2 = dx * dx + dy * dy
                hit = d2 <= eps2
                yield i[hit], j[hit], d2[hit]


def _components(C: np.ndarray, eps: float) -> np.ndarray:
    """Component label (0..k-1) per core point: union-find with union by
    smaller root and full path compression, applied edge-batch at a time."""
    parent = np.arange(len(C))

    def compress(p):
        while True:
            up = p[p]
            if np.array_equal(up, p):
                return p
            p = up

    for i, j, _ in _pairs(C, C, eps):
        keep = i < j
        i, j = i[keep], j[keep]
        while len(i):
            ri, rj = parent[i], parent[j]
            split = ri != rj
            if not split.any():
                break
            ri, rj = ri[split], rj[split]
            i, j = i[split], j[split]
            np.minimum.at(parent, np.maximum(ri, rj), np.minimum(ri, rj))
            parent = compress(parent)
    _, label = np.unique(compress(parent), return_inverse=True)
    return label


@dataclass(frozen=True)
class FitTruth:
    """Expected fit outcome. ``comp`` is the component of each core point
    (-1 elsewhere); ``border_ok`` encodes every admissible
    ``(point, component)`` pair for border points; ``joinable`` labels each
    component with the group it forms with the components it shares a
    border point with."""

    core: np.ndarray
    border: np.ndarray
    comp: np.ndarray
    n_clusters: int
    border_ok: np.ndarray
    joinable: np.ndarray


def _joinable(border_ok: np.ndarray, k: int) -> np.ndarray:
    """Group components that some border point is adjacent to together."""
    parent = list(range(k))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    point, comp = border_ok // (k + 1), border_ok % (k + 1)
    same = np.flatnonzero(point[1:] == point[:-1])
    for a, b in zip(comp[same].tolist(), comp[same + 1].tolist()):
        parent[find(a)] = find(b)
    return np.array([find(a) for a in range(k)], dtype=np.int64)


def fit_truth(P: np.ndarray, eps: float, min_points: int) -> FitTruth:
    """Oracle for ``dbscan(P, eps, min_points)``."""
    n = len(P)
    counts = np.zeros(n, dtype=np.int64)
    for i, _, _ in _pairs(P, P, eps):
        counts += np.bincount(i, minlength=n)
    core = counts >= min_points
    core_idx = np.flatnonzero(core)
    comp = np.full(n, -1, dtype=np.int64)
    comp[core_idx] = _components(P[core_idx], eps)
    n_clusters = int(comp.max()) + 1 if len(core_idx) else 0
    other = np.flatnonzero(~core)
    codes = []
    for i, j, _ in _pairs(P[other], P[core_idx], eps):
        codes.append(other[i] * (n_clusters + 1) + comp[core_idx[j]])
    border_ok = np.unique(np.concatenate(codes)) if codes else np.empty(0, np.int64)
    border = np.zeros(n, dtype=bool)
    border[border_ok // (n_clusters + 1)] = True
    return FitTruth(
        core, border, comp, n_clusters, border_ok, _joinable(border_ok, n_clusters)
    )


def check_fit(
    truth: FitTruth, ids: np.ndarray, cluster: np.ndarray, flag: np.ndarray
) -> list[str]:
    """Compare one fit's output rows (``id``, ``cluster``, ``flag``) with the
    oracle; returns the problems found, empty when the fit is correct.

    Flags must match exactly and every core component must carry one
    cluster id. The distributed merge (as in the reference MR-DBSCAN) also
    joins two local clusters that label the same margin point, border points
    included, so one cluster id may cover several components, but only
    components that share a border point."""
    n = len(truth.core)
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        return [f"expected ids 0..{n - 1} once each, got {len(ids)} rows"]
    order = np.argsort(ids)
    cluster, flag = cluster[order], flag[order]
    core, border = flag == "core", flag == "border"
    noise = ~(core | border)
    errs = []
    if not np.array_equal(core, truth.core):
        errs.append(f"core flags differ on {int((core != truth.core).sum())} points")
    if not np.array_equal(border, truth.border):
        errs.append(f"border flags differ on {int((border != truth.border).sum())} points")
    if (cluster[noise] != 0).any() or (cluster[~noise] <= 0).any():
        errs.append("noise/cluster id mismatch (noise must be 0, members > 0)")
    if errs:
        return errs
    pairs = np.unique(np.stack([cluster[core], truth.comp[core]], axis=1), axis=0)
    if len(np.unique(pairs[:, 1])) != len(pairs):
        return ["a core component is split across cluster ids"]
    groups = np.unique(np.stack([pairs[:, 0], truth.joinable[pairs[:, 1]]], axis=1), axis=0)
    if len(np.unique(groups[:, 0])) != len(groups):
        return ["a cluster joins components that share no border point"]
    cluster_of = np.zeros(truth.n_clusters, dtype=np.int64)
    cluster_of[pairs[:, 1]] = pairs[:, 0]
    k = truth.n_clusters + 1
    top = int(cluster.max()) + 1
    ok = (truth.border_ok // k) * top + cluster_of[truth.border_ok % k]
    bidx = np.flatnonzero(border)
    bad = ~np.isin(bidx * top + cluster[bidx], ok)
    if bad.any():
        return [f"{int(bad.sum())} border points joined a cluster with no core neighbour"]
    return []


def predict_truth(
    core_xy: np.ndarray, core_cluster: np.ndarray, Q: np.ndarray, eps: float
) -> np.ndarray:
    """Expected ``predict`` cluster per row of ``Q`` (0 = noise) against a
    model whose core points are ``core_xy`` labelled ``core_cluster``."""
    want = np.zeros(len(Q), dtype=np.int64)
    hits = list(_pairs(Q, core_xy, eps))
    if not hits:
        return want
    i = np.concatenate([h[0] for h in hits])
    j = np.concatenate([h[1] for h in hits])
    d2 = np.concatenate([h[2] for h in hits])
    c = core_cluster[j]
    order = np.lexsort((c, d2, i))
    i, c = i[order], c[order]
    first = np.ones(len(i), dtype=bool)
    first[1:] = i[1:] != i[:-1]
    want[i[first]] = c[first]
    return want
