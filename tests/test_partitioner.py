"""BSP partitioner: reference unit fixtures + invariants."""

from __future__ import annotations

from dbscan_spark.partitioner import Rectangle, find_partitions, margins, pack_slots


def rect_set(parts):
    return {(r.x, r.y, r.x2, r.y2) for r in parts}


def test_reference_scenario_should_find_partitions():
    """EvenSplitPartitionerSuite.scala:23-45: six 1×1 cells, max 9 points."""
    cells = {
        (0.0, 0.0): 3,
        (0.0, 2.0): 6,
        (1.0, 1.0): 7,
        (1.0, 0.0): 2,
        (2.0, 0.0): 5,
        (2.0, 2.0): 4,
    }
    parts = find_partitions(cells, 9, 1.0)
    assert rect_set(parts) == {
        (1.0, 2.0, 3.0, 3.0),
        (0.0, 2.0, 1.0, 3.0),
        (0.0, 1.0, 3.0, 2.0),
        (2.0, 0.0, 3.0, 1.0),
        (0.0, 0.0, 2.0, 1.0),
    }


def test_reference_scenario_should_find_two_splits():
    """EvenSplitPartitionerSuite.scala:47-60: asserts the two named boxes."""
    cells = {(0.0, 0.0): 3, (2.0, 2.0): 4, (0.0, 1.0): 2}
    parts = find_partitions(cells, 4, 1.0)
    got = rect_set(parts)
    assert (1.0, 0.0, 3.0, 3.0) in got
    assert (0.0, 1.0, 1.0, 3.0) in got


def test_empty_histogram():
    assert find_partitions({}, 10, 1.0) == []


def test_single_hot_cell_kept_with_warning():
    """P8: an unsplittable overfull box is kept, not an error."""
    parts = find_partitions({(0.0, 0.0): 1000}, 10, 1.0)
    assert rect_set(parts) == {(0.0, 0.0, 1.0, 1.0)}


def test_partitions_tile_and_bound():
    """Partitions are disjoint (interiors), cover all occupied cells, and
    respect the max unless unsplittable."""
    import random

    rng = random.Random(7)
    cells = {
        (float(i), float(j)): rng.randint(1, 20)
        for i in range(10)
        for j in range(10)
        if rng.random() < 0.6
    }
    maxp = 50
    parts = find_partitions(cells, maxp, 1.0)
    total = sum(cells.values())
    covered = 0
    for r in parts:
        c = sum(
            n
            for (cx, cy), n in cells.items()
            if r.x <= cx and cx + 1 <= r.x2 and r.y <= cy and cy + 1 <= r.y2
        )
        assert c <= maxp or (r.x2 - r.x <= 2 and r.y2 - r.y <= 2)
        covered += c
    assert covered == total  # disjoint + complete ⇒ counts add up exactly
    # pairwise interior-disjoint
    for i, a in enumerate(parts):
        for b in parts[i + 1 :]:
            assert (
                a.x2 <= b.x or b.x2 <= a.x or a.y2 <= b.y or b.y2 <= a.y
            ), f"overlap {a} {b}"


def test_negative_coordinates_cells():
    """Cells snapped below zero partition correctly (P4)."""
    cells = {(-2.0, -2.0): 5, (-1.0, -1.0): 5, (0.0, 0.0): 5, (1.0, 1.0): 5}
    parts = find_partitions(cells, 10, 1.0)
    covered = sum(
        n
        for r in parts
        for (cx, cy), n in cells.items()
        if r.x <= cx and cx + 1 <= r.x2 and r.y <= cy and cy + 1 <= r.y2
    )
    assert covered == 20


def test_fractional_cell_size_no_float_drift():
    """eps-style sizes (0.6 = 2×0.3) must not suffer candidate-walk drift."""
    size = 0.6
    # corners as Spark computes them: floor(p/size)*size
    import math

    def corner(p):
        return math.floor(p / size) * size

    cells = {}
    for i in range(40):
        p = -3.0 + i * 0.37
        key = (corner(p), corner(-p))
        cells[key] = cells.get(key, 0) + 3
    parts = find_partitions(cells, 9, size)
    covered = sum(
        n
        for r in parts
        for (cx, cy), n in cells.items()
        if r.x <= cx + 1e-9 and cx + size <= r.x2 + 1e-9 and r.y <= cy + 1e-9 and cy + size <= r.y2 + 1e-9
    )
    assert covered == sum(cells.values())


def test_margins_shrink_grow():
    r = Rectangle(0.0, 0.0, 2.0, 2.0)
    (pid, inner, main, outer) = margins([r], 0.25)[0]
    assert pid == 0
    assert (inner.x, inner.y, inner.x2, inner.y2) == (0.25, 0.25, 1.75, 1.75)
    assert main == r
    assert (outer.x, outer.y, outer.x2, outer.y2) == (-0.25, -0.25, 2.25, 2.25)


def test_rectangle_containment_borders():
    """P6: contains is border-inclusive, almost_contains is exclusive
    (DBSCANRectangle.scala:34-36, 49-51)."""
    r = Rectangle(0.0, 0.0, 1.0, 1.0)
    assert r.contains_point(0.0, 0.5)
    assert r.contains_point(1.0, 1.0)
    assert not r.almost_contains_point(0.0, 0.5)
    assert not r.almost_contains_point(1.0, 1.0)
    assert r.almost_contains_point(0.5, 0.5)


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis): the fixed-seed tile-and-bound test
# generalized to arbitrary histograms, cell sizes and caps.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=60, deadline=None)
@given(
    cells=st.dictionaries(
        st.tuples(
            st.integers(min_value=-8, max_value=8),
            st.integers(min_value=-8, max_value=8),
        ),
        st.integers(min_value=1, max_value=30),
        min_size=1,
        max_size=60,
    ),
    size=st.sampled_from([0.5, 1.0, 2.5]),
    maxp=st.integers(min_value=1, max_value=120),
)
def test_bsp_invariants_property(cells, size, maxp):
    """For ANY histogram: partitions tile the occupied space (interior-
    disjoint, every cell counted exactly once) and respect the cap unless
    the rectangle is already at the minimum (un-splittable) size."""
    hist = {(i * size, j * size): n for (i, j), n in cells.items()}
    parts = find_partitions(hist, maxp, size)
    total = sum(hist.values())
    covered = 0
    for r in parts:
        c = sum(
            n
            for (cx, cy), n in hist.items()
            if r.x <= cx and cx + size <= r.x2
            and r.y <= cy and cy + size <= r.y2
        )
        unsplittable = (r.x2 - r.x <= 2 * size) and (r.y2 - r.y <= 2 * size)
        assert c <= maxp or unsplittable, (r, c, maxp)
        assert r.points == c, (r, c)
        covered += c
    assert covered == total
    for i, a in enumerate(parts):
        for b in parts[i + 1 :]:
            assert (
                a.x2 <= b.x or b.x2 <= a.x or a.y2 <= b.y or b.y2 <= a.y
            ), f"overlap {a} {b}"


def test_rectangle_points_not_part_of_identity():
    """The partitioner's point count rides on the box without changing
    what the box is: equal bounds compare and hash equal."""
    a, b = Rectangle(0.0, 0.0, 1.0, 1.0, 7), Rectangle(0.0, 0.0, 1.0, 1.0)
    assert a == b and hash(a) == hash(b) and b.points == 0


def test_pack_slots_longest_first():
    """Hand-checked LPT run: 9 → slot 0, 7 → slot 1, 6 → slot 2, then each
    next box onto the least-loaded slot (5 → 2, 4 → 1, 1 → 0)."""
    assert pack_slots([6, 1, 9, 4, 7, 5], 3) == [2, 0, 0, 1, 1, 2]
    assert pack_slots([], 4) == []
    assert pack_slots([3, 3, 3], 1) == [0, 0, 0]


@settings(max_examples=80, deadline=None)
@given(
    weights=st.lists(st.integers(min_value=0, max_value=5000), max_size=40),
    slots=st.integers(min_value=1, max_value=8),
)
def test_pack_slots_property(weights, slots):
    """Every box lands on a slot in [0, slots); the ``slots`` heaviest boxes
    land on distinct slots; and no slot carries more than the heaviest box
    on top of an even share (the LPT bound)."""
    got = pack_slots(weights, slots)
    assert len(got) == len(weights)
    assert all(0 <= s < slots for s in got)
    heaviest = sorted(range(len(weights)), key=lambda i: -weights[i])[:slots]
    assert len({got[i] for i in heaviest}) == len(heaviest)
    loads = [0] * slots
    for w, s in zip(weights, got):
        loads[s] += w
    assert max(loads) <= sum(weights) / slots + max(weights, default=0)
