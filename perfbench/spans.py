"""Per-layer tracing for the benchmark, recorded from outside the program.

Spans are kept in memory and written out once the run ends. Every
operation span also names its Spark job group, so the job, stage and task
counts of one ``dbscan()`` or ``predict()`` call are read back from
``statusTracker()`` for that group.

Driver-side layers are timed by rebinding ``find_partitions`` and
``assign_global_ids`` in the ``dbscan_spark.dbscan`` module namespace,
which is where ``dbscan()`` looks them up. The kernel runs inside Python
workers, so :func:`replay_kernel` rebuilds each partition's point set from
the captured partitions and ``margins()`` and calls ``local_dbscan_matrix``
on it in this process. :func:`replay_partitioner` likewise re-runs
``find_partitions`` on the captured histogram, for a steadier timing than
its one span.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

import numpy as np


class Tracer:
    """In-memory span recorder; one span per layer call."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.partitions: list | None = None  # rectangles of the last fit
        self.partitioner_args: tuple | None = None  # and its histogram

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"{name}#{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(tracer: Tracer, span: dict) -> float:
    """Span duration minus the part its (sequential) children cover."""
    return duration(span) - sum(duration(c) for c in tracer.children(span))


def _box_points(cells, rects, size: float) -> np.ndarray:
    """Points per partition box, counting a histogram cell toward a box when
    the box contains the whole cell (the partitioner's own rule)."""
    corners = np.array([k for k in cells], dtype=np.float64).reshape(-1, 2)
    counts = np.array(list(cells.values()), dtype=np.int64)
    ic = np.rint(corners / size).astype(np.int64)
    out = np.zeros(len(rects), dtype=np.int64)
    for k, r in enumerate(rects):
        x, y, x2, y2 = (int(round(v / size)) for v in (r.x, r.y, r.x2, r.y2))
        inside = (ic[:, 0] >= x) & (ic[:, 0] < x2) & (ic[:, 1] >= y) & (ic[:, 1] < y2)
        out[k] = counts[inside].sum()
    return out


@contextmanager
def instrument(tracer: Tracer):
    """Rebind the driver-side layer functions of ``dbscan_spark.dbscan`` to
    span-recording wrappers for the duration of the block. The package
    attribute ``dbscan_spark.dbscan`` is the function, which shadows the
    submodule, so the module is reached through ``sys.modules``."""
    import dbscan_spark  # noqa: F401  (loads the submodule)

    mod = sys.modules["dbscan_spark.dbscan"]
    find_partitions, assign_global_ids = mod.find_partitions, mod.assign_global_ids

    def traced_find_partitions(cells, max_points_per_partition, minimum_rectangle_size):
        with tracer.span("partitioner.find_partitions") as rec:
            parts = find_partitions(cells, max_points_per_partition, minimum_rectangle_size)
        boxes = _box_points(cells, parts, minimum_rectangle_size)
        rec.update(
            cells=len(cells),
            partitions=len(parts),
            max_box_points=int(boxes.max()) if len(boxes) else 0,
            overfull_boxes=int((boxes > max_points_per_partition).sum()),
        )
        tracer.partitions = parts
        tracer.partitioner_args = (cells, max_points_per_partition, minimum_rectangle_size)
        return parts

    def traced_assign_global_ids(local_ids, edges):
        local_ids, edges = list(local_ids), list(edges)
        with tracer.span("graph.assign_global_ids") as rec:
            gmap = assign_global_ids(local_ids, edges)
        rec.update(
            local_clusters=len(local_ids),
            edges=len(edges),
            global_clusters=len(set(gmap.values())),
        )
        return gmap

    mod.find_partitions = traced_find_partitions
    mod.assign_global_ids = traced_assign_global_ids
    try:
        yield
    finally:
        mod.find_partitions = find_partitions
        mod.assign_global_ids = assign_global_ids


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran for one job group."""
    st = sc.statusTracker()
    stages: set[int] = set()
    jobs = st.getJobIdsForGroup(group)
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    ran = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def replay_partitioner(cells, max_points_per_partition, size) -> float:
    """Median time of five ``find_partitions`` calls re-run here on a
    captured histogram. One call takes milliseconds, where a single span
    inside a busy driver is mostly noise."""
    from dbscan_spark.partitioner import find_partitions

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        find_partitions(cells, max_points_per_partition, size)
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def replay_kernel(P: np.ndarray, parts, eps: float, min_points: int) -> dict:
    """Run the local kernel here on every partition's exact point set: the
    points inside the partition's ε-grown outer box, borders included."""
    from dbscan_spark import kernel
    from dbscan_spark.partitioner import margins

    cutoff = getattr(kernel, "_DENSE_CUTOFF", None)
    times, sizes = [], []
    for _pid, _inner, _main, outer in margins(parts, eps):
        inside = (
            (P[:, 0] >= outer.x) & (P[:, 0] <= outer.x2)
            & (P[:, 1] >= outer.y) & (P[:, 1] <= outer.y2)
        )
        X = P[inside]
        t0 = time.perf_counter()
        kernel.local_dbscan_matrix(X, eps, min_points)
        times.append(time.perf_counter() - t0)
        sizes.append(len(X))
    return {
        "calls": len(times),
        "points": int(sum(sizes)),
        "busy_s": float(sum(times)),
        "max_call_s": float(max(times, default=0.0)),
        "grid_calls": sum(n > cutoff for n in sizes) if cutoff is not None else 0,
    }
