"""Cost-based spatial partitioner (driver-side, pure Python).

Recursive binary space partitioning of the data bounding box along grid
lines until every box holds at most ``max_points_per_partition`` points.
The split minimizes ``|count(box)//2 - count(half)|`` (even-split cost,
integer division as in the reference cost fn
EvenSplitPartitioner.scala:73), candidates stepping by
``minimum_rectangle_size`` (= 2ε in the DBSCAN pipeline, so the ε-margin
never spans more than one neighbor cell ring — SURVEY.md §2.3 P7).

This is deliberately a driver-side in-memory computation over the collected
grid-cell histogram — cells, not points, so it is O(#cells) regardless of
data scale — the same trade the reference makes
(EvenSplitPartitioner.scala:28-182, invoked from DBSCAN.scala:93-94 on the
collected histogram of DBSCAN.scala:84-90).

Differences from a naive float translation: all BSP arithmetic happens in
**integer cell coordinates** (corner / cell_size), eliminating the
accumulated floating-point drift a ``x + k*step`` candidate walk would
suffer; rectangles are scaled back to data coordinates only at the end.

Behavioral contract:
* a cell counts toward a box iff the box contains the whole cell
  (EvenSplitPartitioner.scala:162-168 uses rectangle containment);
* splittable iff some dimension exceeds 2×min size
  (EvenSplitPartitioner.scala:157-160); an overfull unsplittable box is
  kept with a warning (P8, :80-83); empty boxes are dropped (:58);
* split halves are processed FIFO, half before complement
  (EvenSplitPartitioner.scala:78);
* cost ties break toward the lowest x-split, then lowest y-split
  (the reference's Set-iteration tie-break is nondeterministic; ours is a
  stable deterministic refinement that reproduces both reference unit
  fixtures).
"""

from __future__ import annotations

import heapq
import logging
from collections import deque
from dataclasses import dataclass, field

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class Rectangle:
    """Axis-aligned box [x, x2] × [y, y2] (reference DBSCANRectangle.scala:22)."""

    x: float
    y: float
    x2: float
    y2: float
    # points the partitioner counted in the box (0 when not counted); a
    # fact about the data, not part of the box's identity
    points: int = field(default=0, compare=False)

    def contains_point(self, px: float, py: float) -> bool:
        """Border-inclusive (DBSCANRectangle.scala:34-36)."""
        return self.x <= px <= self.x2 and self.y <= py <= self.y2

    def almost_contains_point(self, px: float, py: float) -> bool:
        """Border-exclusive (DBSCANRectangle.scala:49-51)."""
        return self.x < px < self.x2 and self.y < py < self.y2

    def shrink(self, amount: float) -> "Rectangle":
        """Shrink by ``amount`` on every side; negative grows
        (DBSCANRectangle.scala:41-43)."""
        return Rectangle(
            self.x + amount, self.y + amount, self.x2 - amount, self.y2 - amount
        )


CellHistogram = dict[tuple[float, float], int]
"""Grid-cell corner (multiples of cell size, as produced by
``floor(coord/size)*size``) -> point count."""

_IBox = tuple[int, int, int, int]  # ix, iy, ix2, iy2 in cell units


def _marginals(
    box: _IBox, cells: dict[tuple[int, int], int]
) -> tuple[dict[int, int], dict[int, int]]:
    """Per-column / per-row point counts of the cells wholly inside ``box``
    — one pass over the histogram, from which every candidate half-count
    follows as a running prefix sum (instead of re-scanning all cells per
    candidate split, which made the BSP O(#cells × #splits) per box)."""
    x, y, x2, y2 = box
    by_x: dict[int, int] = {}
    by_y: dict[int, int] = {}
    for (cx, cy), c in cells.items():
        if x <= cx < x2 and y <= cy < y2:
            by_x[cx] = by_x.get(cx, 0) + c
            by_y[cy] = by_y.get(cy, 0) + c
    return by_x, by_y


def _best_half(
    box: _IBox, target: int, by_x: dict[int, int], by_y: dict[int, int]
) -> _IBox:
    """Lower half minimizing ``|target - count(half)|`` over every grid
    split line, x-splits then y-splits (EvenSplitPartitioner.scala:139-152);
    strict improvement keeps the first minimum, preserving the documented
    lowest-x-then-lowest-y tie-break."""
    x, y, x2, y2 = box
    best_cost = None
    best: _IBox | None = None
    acc = 0
    for sx in range(x + 1, x2):
        acc += by_x.get(sx - 1, 0)
        cost = abs(target - acc)
        if best_cost is None or cost < best_cost:
            best_cost, best = cost, (x, y, sx, y2)
    acc = 0
    for sy in range(y + 1, y2):
        acc += by_y.get(sy - 1, 0)
        cost = abs(target - acc)
        if best_cost is None or cost < best_cost:
            best_cost, best = cost, (x, y, x2, sy)
    assert best is not None  # _can_split guarantees ≥1 candidate
    return best


def _complement(half: _IBox, box: _IBox) -> _IBox:
    """The other half of a split (EvenSplitPartitioner.scala:119-134)."""
    hx, hy, hx2, hy2 = half
    x, y, x2, y2 = box
    if (hx, hy) != (x, y):
        raise ValueError("half must share the box's lower corner")
    if hy2 == y2:  # vertical split line
        return (hx2, y, x2, y2)
    if hx2 == x2:  # horizontal split line
        return (x, hy2, x2, y2)
    raise ValueError("not a valid split half")


def _can_split(box: _IBox) -> bool:
    """Some dimension longer than two min-size cells
    (EvenSplitPartitioner.scala:157-160)."""
    x, y, x2, y2 = box
    return x2 - x > 2 or y2 - y > 2


def find_partitions(
    cells: CellHistogram,
    max_points_per_partition: int,
    minimum_rectangle_size: float,
) -> list[Rectangle]:
    """BSP the bounding box of ``cells`` into ≤max-count partitions.

    Returns non-empty partition rectangles in completion order, each with
    its point count in ``points``. Mirrors EvenSplitPartitioner.findPartitions
    (EvenSplitPartitioner.scala:44-93).
    """
    if not cells:
        return []
    size = minimum_rectangle_size
    icells = {(round(cx / size), round(cy / size)): n for (cx, cy), n in cells.items()}
    xs = [cx for cx, _ in icells]
    ys = [cy for _, cy in icells]
    bbox: _IBox = (min(xs), min(ys), max(xs) + 1, max(ys) + 1)

    remaining: deque[_IBox] = deque([bbox])
    done: list[tuple[_IBox, int]] = []
    while remaining:
        box = remaining.popleft()
        by_x, by_y = _marginals(box, icells)
        count = sum(by_x.values())
        if count == 0:
            continue  # drop empty partitions
        if count <= max_points_per_partition:
            done.append((box, count))
            continue
        if not _can_split(box):
            log.warning(
                "unsplittable box %s holds %d > %d points; keeping (P8)",
                box, count, max_points_per_partition,
            )
            done.append((box, count))
            continue
        target = count // 2  # integer division, EvenSplitPartitioner.scala:73
        half = _best_half(box, target, by_x, by_y)
        comp = _complement(half, box)
        remaining.appendleft(comp)
        remaining.appendleft(half)  # half processed first (reference :78)
    return [
        Rectangle(x * size, y * size, x2 * size, y2 * size, count)
        for (x, y, x2, y2), count in done
    ]


def pack_slots(weights: list[int], slots: int) -> list[int]:
    """Longest-processing-time packing of boxes into ``slots`` tasks: the
    slot in ``[0, slots)`` of each box, taking boxes heaviest first (ties
    by box index) and each onto the least-loaded slot (ties by fewer boxes,
    then lower slot). MR-DBSCAN's cost-based balance, at the task grain: no
    two of the ``slots`` heaviest boxes share a slot."""
    heap = [(0, 0, s) for s in range(slots)]
    out = [0] * len(weights)
    for i in sorted(range(len(weights)), key=lambda i: -weights[i]):
        load, n, s = heapq.heappop(heap)
        out[i] = s
        heapq.heappush(heap, (load + weights[i], n + 1, s))
    return out


def margins(
    partitions: list[Rectangle], eps: float
) -> list[tuple[int, Rectangle, Rectangle, Rectangle]]:
    """For each partition: (id, inner, main, outer) where inner/outer are the
    ε-shrunk / ε-grown boxes (DBSCAN.scala:100-103)."""
    return [
        (pid, rect.shrink(eps), rect, rect.shrink(-eps))
        for pid, rect in enumerate(partitions)
    ]
