"""Distributed DBSCAN pipeline: golden-fixture E2E + distributed-equals-local
property + predict."""

from __future__ import annotations

import numpy as np
import pytest

from dbscan_spark.dbscan import dbscan, predict
from dbscan_spark.kernel import local_dbscan, relabel_to_match


@pytest.fixture(scope="module")
def golden_df(spark, golden_points):
    return spark.createDataFrame(
        [(i, x, y, lbl) for i, (x, y, lbl) in enumerate(golden_points)],
        "id long, x double, y double, expected long",
    )


def test_golden_distributed_labels(spark, golden_df, golden_points):
    """DBSCANSuite.scala:30-59: train(eps=0.3, minPoints=10,
    maxPointsPerPartition=250) on the 749-point fixture reproduces every
    per-point label up to renaming (P3) with no lost or duplicated points."""
    result = dbscan(golden_df, eps=0.3, min_points=10, max_points_per_partition=250)
    rows = result.collect()
    assert len(rows) == len(golden_points)
    assert len({r["id"] for r in rows}) == len(golden_points)
    got = np.array([r["cluster"] for r in sorted(rows, key=lambda r: r["id"])])
    expected = np.array([p[2] for p in golden_points])
    ok, mapping = relabel_to_match(got, expected)
    assert ok, f"distributed labels diverge; partial mapping {mapping}"


def test_distributed_equals_local(spark, golden_df, golden_points):
    """The distributed pipeline must agree with the single-partition kernel
    on the same data — the merge logic cannot change the clustering."""
    x = np.array([p[0] for p in golden_points])
    y = np.array([p[1] for p in golden_points])
    local_cluster, local_flag = local_dbscan(x, y, 0.3, 10)
    rows = dbscan(golden_df, 0.3, 10, max_points_per_partition=100).collect()
    got = np.array([r["cluster"] for r in sorted(rows, key=lambda r: r["id"])])
    got_flag = np.array([r["flag"] for r in sorted(rows, key=lambda r: r["id"])])
    ok, _ = relabel_to_match(got, local_cluster)
    assert ok
    # flags: core/noise must agree exactly; border-vs-cluster choice can vary
    assert ((got_flag == "core") == (local_flag == "core")).all()
    assert ((got_flag == "noise") == (local_flag == "noise")).all()


@pytest.mark.parametrize("seed,max_pts", [(0, 60), (1, 120), (2, 40)])
def test_distributed_equals_local_random(spark, seed, max_pts):
    """Property: for random blobs and aggressive partitioning, distributed
    result == local kernel result (permutation-invariant)."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-4, 4, size=(4, 2))
    pts = np.vstack(
        [c + rng.normal(0, 0.25, size=(60, 2)) for c in centers]
        + [rng.uniform(-6, 6, size=(30, 2))]
    )
    eps, minp = 0.4, 5
    local_cluster, _ = local_dbscan(pts[:, 0], pts[:, 1], eps, minp)
    df = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        "id long, x double, y double",
    )
    rows = dbscan(df, eps, minp, max_points_per_partition=max_pts).collect()
    assert len(rows) == len(pts)
    got = np.array([r["cluster"] for r in sorted(rows, key=lambda r: r["id"])])
    ok, _ = relabel_to_match(got, local_cluster)
    assert ok


@pytest.mark.parametrize("seed,max_pts,dim", [(0, 60, 5), (1, 120, 16)])
def test_distributed_nd_equals_local(spark, seed, max_pts, dim):
    """Property (n-D generalization): distance over the full vector with
    partitioning on the first two dims must equal the single-node n-D
    kernel — the projection-distance bound keeps the margin merge exact."""
    from dbscan_spark.kernel import local_dbscan_matrix

    rng = np.random.default_rng(seed)
    centers = rng.uniform(-4, 4, size=(4, dim))
    pts = np.vstack(
        [c + rng.normal(0, 0.3, size=(50, dim)) for c in centers]
        + [rng.uniform(-6, 6, size=(25, dim))]
    )
    eps, minp = 0.45 * np.sqrt(dim), 5
    local_cluster, _ = local_dbscan_matrix(pts, eps, minp)
    df = spark.createDataFrame(
        [
            (i, float(p[0]), float(p[1]), [float(v) for v in p])
            for i, p in enumerate(pts)
        ],
        "id long, x double, y double, v array<double>",
    )
    rows = dbscan(
        df, eps, minp, max_points_per_partition=max_pts, features_col="v"
    ).collect()
    assert len(rows) == len(pts)
    got = np.array([r["cluster"] for r in sorted(rows, key=lambda r: r["id"])])
    ok, _ = relabel_to_match(got, local_cluster)
    assert ok


def test_nd_kernel_separates_separable_blobs():
    """Two well-separated 8-D blobs -> two clusters, distance genuinely
    over all dims (the blobs coincide in the first two dims, so a 2-D
    kernel would merge them)."""
    from dbscan_spark.kernel import local_dbscan_matrix

    rng = np.random.default_rng(7)
    a = rng.normal(0, 0.05, size=(30, 8))
    b = rng.normal(0, 0.05, size=(30, 8))
    b[:, 2:] += 5.0  # identical (x, y) footprint, far apart in dims 2..7
    X = np.vstack([a, b])
    cluster, flag = local_dbscan_matrix(X, eps=1.0, min_points=4)
    assert set(cluster[:30]) == {cluster[0]} and cluster[0] != 0
    assert set(cluster[30:]) == {cluster[30]} and cluster[30] != 0
    assert cluster[0] != cluster[30]


def test_skewed_hot_cell_end_to_end(spark):
    """P8 end-to-end: one grid cell holds far more points than
    max_points_per_partition (unsplittable hot spot). The pipeline must
    neither fail nor drop points, and must still match the local kernel."""
    rng = np.random.default_rng(3)
    eps, minp = 0.5, 5
    hot = rng.normal(0, 0.08, size=(400, 2))         # all inside one 2eps cell
    spread = rng.uniform(-8, 8, size=(80, 2))        # background
    pts = np.vstack([hot, spread])
    local_cluster, _ = local_dbscan(pts[:, 0], pts[:, 1], eps, minp)
    df = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        "id long, x double, y double",
    )
    rows = dbscan(df, eps, minp, max_points_per_partition=50).collect()
    assert len(rows) == len(pts)
    got = np.array([r["cluster"] for r in sorted(rows, key=lambda r: r["id"])])
    ok, _ = relabel_to_match(got, local_cluster)
    assert ok


_TAGS = ["tag", "pid", "ox", "in_margin", "global_cluster"]


@pytest.mark.parametrize(
    "tag,cap",
    [pytest.param(t, 2, id=t) for t in _TAGS]
    + [pytest.param(t, 1000, id=f"{t}-one-copy") for t in _TAGS],
)
def test_passthrough_columns(spark, tag, cap):
    """A payload column comes back once per row with its own value, also
    when it is named like a column the pipeline once used internally, or
    is an array or a map holding nulls. Cap 2 splits the input into
    several boxes, so rows (10, 11) are margin rows and the merge carries
    the payload of copies; cap 1000 leaves one box, so every row is one
    copy and the payload passes the row-id aggregate alone."""
    df = spark.createDataFrame(
        [
            (10, 0.0, 0.0, "a", ["u", None], {"k": 1, "n": None}),
            (11, 0.1, 0.0, "b", None, None),
            (12, 5.0, 5.0, "c", [], {"k": None}),
        ],
        f"id long, x double, y double, {tag} string, "
        "arr array<string>, m map<string,int>",
    )
    rows = dbscan(
        df, eps=0.5, min_points=2, max_points_per_partition=cap
    ).collect()
    assert sorted((r["id"], r[tag], r["arr"], r["m"]) for r in rows) == [
        (10, "a", ["u", None], {"k": 1, "n": None}),
        (11, "b", None, None),
        (12, "c", [], {"k": None}),
    ]
    by_id = {r["id"]: r for r in rows}
    assert by_id[10]["cluster"] == by_id[11]["cluster"] > 0
    assert by_id[12]["cluster"] == 0 and by_id[12]["flag"] == "noise"


def test_predict_labels_new_points(spark, golden_df):
    model = dbscan(golden_df, 0.3, 10, max_points_per_partition=250)
    new = spark.createDataFrame(
        [(0, 100.0, 100.0)], "nid long, x double, y double"
    )
    far = predict(model, new, eps=0.3).collect()
    assert far[0]["cluster"] == 0 and far[0]["flag"] == "noise"
    # a point on top of an existing core point joins its cluster
    core = model.filter("flag = 'core'").first()
    near = spark.createDataFrame(
        [(1, core["x"] + 0.01, core["y"])], "nid long, x double, y double"
    )
    got = predict(model, near, eps=0.3).collect()
    assert got[0]["cluster"] == core["cluster"]


def test_train_model_api_mirrors_reference(spark, golden_df):
    """Reference-parity surface: train() -> model.labeled_points +
    model.predict() must produce exactly what the underlying dbscan() and
    predict() functions produce (DBSCAN.scala:40-48, :253-256)."""
    from dbscan_spark import train

    model = train(golden_df, eps=0.3, min_points=10)
    direct = dbscan(golden_df, 0.3, 10, max_points_per_partition=250)
    lp = {
        (r["x"], r["y"]): (r["cluster"], r["flag"])
        for r in model.labeled_points.collect()
    }
    want = {
        (r["x"], r["y"]): (r["cluster"], r["flag"])
        for r in direct.collect()
    }
    assert lp == want
    core = model.labeled_points.filter("flag = 'core'").first()
    probe = spark.createDataFrame(
        [(1, core["x"], core["y"] + 0.01), (2, -50.0, -50.0)],
        "nid long, x double, y double",
    )
    got = {r["nid"]: r for r in model.predict(probe).collect()}
    assert got[1]["cluster"] == core["cluster"]
    assert got[2]["cluster"] == 0 and got[2]["flag"] == "noise"


def test_predict_uses_full_vector_when_features_col_set(spark):
    """Regression: a model trained with features_col must predict with the
    FULL n-D distance. A probe on top of a core point in the (x, y)
    projection but far away in the remaining dimensions must come back
    noise, not inherit the core's cluster."""
    from dbscan_spark import train

    rows = [
        (i, 0.1 * (i % 5), 0.1 * (i // 5), [0.1 * (i % 5), 0.1 * (i // 5), 0.0, 0.0])
        for i in range(25)
    ]
    df = spark.createDataFrame(
        rows, "id long, x double, y double, f array<double>"
    )
    model = train(df, eps=0.3, min_points=4, features_col="f")
    core = model.labeled_points.filter("flag = 'core'").first()
    probes = spark.createDataFrame(
        [
            (1, core["x"], core["y"], [core["x"], core["y"], 9.0, 9.0]),
            (2, core["x"], core["y"], list(core["f"])),
        ],
        "nid long, x double, y double, f array<double>",
    )
    got = {r["nid"]: r for r in model.predict(probes).collect()}
    assert got[1]["cluster"] == 0 and got[1]["flag"] == "noise"
    assert got[2]["cluster"] == core["cluster"]


def test_predict_surrounded_but_out_of_range(spark):
    """Regression: a probe whose entire 3x3 candidate-cell ring contains
    core points, every one beyond eps, must still come back as noise (not
    silently vanish from the output)."""
    eps = 0.3
    # probe at (0.02, 0.02) in cell (0,0); one core per ring cell, each
    # placed > eps from the probe
    cores = [
        (0.29, 0.29),    # cell (0,0), dist ~0.382
        (0.59, 0.02), (0.59, 0.59), (0.59, -0.29),   # cells (1, *)
        (-0.29, 0.02), (-0.29, 0.59), (-0.29, -0.29),  # cells (-1, *)
        (0.02, 0.59), (0.02, -0.29),  # cells (0, 1) and (0, -1)
    ]
    model = spark.createDataFrame(
        [(x, y, 1, "core") for x, y in cores],
        "x double, y double, cluster long, flag string",
    )
    probe = spark.createDataFrame([(7, 0.02, 0.02)], "nid long, x double, y double")
    rows = predict(model, probe, eps=eps).collect()
    assert len(rows) == 1
    assert rows[0]["cluster"] == 0 and rows[0]["flag"] == "noise"


def test_result_is_partition_invariant(spark):
    """Every row comes back exactly once with its own payload at any
    max_points_per_partition — duplicate coordinates in the margin zone
    must not collapse into one row — and the clustering does not depend
    on the partitioning beyond relabelling. 400 random points plus two
    duplicate pairs, each pair's rows with different ids and names: one
    at (5, 5), one at (0, 1) on the x = 0 line where the cap-50 BSP splits
    two partitions."""
    rng = np.random.default_rng(5)
    pts = rng.uniform(-6, 6, size=(400, 2))
    rows = [(i, float(x), float(y), f"p{i}") for i, (x, y) in enumerate(pts)]
    rows += [
        (400, 5.0, 5.0, "dup-a"),
        (401, 5.0, 5.0, "dup-b"),
        (402, 0.0, 1.0, "edge-a"),
        (403, 0.0, 1.0, "edge-b"),
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, name string")
    want = {r["id"]: r["name"] for r in df.collect()}
    by_cap = {}
    for cap in (50, 10000):
        rows = dbscan(df, eps=0.25, min_points=3, max_points_per_partition=cap).collect()
        assert len(rows) == len(want), cap
        assert {r["id"]: r["name"] for r in rows} == want, cap
        by_cap[cap] = sorted(rows, key=lambda r: r["id"])
    small, whole = by_cap[50], by_cap[10000]
    assert [r["flag"] for r in small] == [r["flag"] for r in whole]
    ok, _ = relabel_to_match(
        np.array([r["cluster"] for r in small]),
        np.array([r["cluster"] for r in whole]),
    )
    assert ok


def test_predict_ignores_null_payload(spark):
    """Two probes at the same coordinates, one with a null payload column:
    both come back once, with the same cluster."""
    model = spark.createDataFrame(
        [(0.0, 0.0, 7, "core"), (0.1, 0.0, 7, "core")],
        "x double, y double, cluster long, flag string",
    )
    probes = spark.createDataFrame(
        [(1, 0.05, 0.0, "a"), (2, 0.05, 0.0, None)],
        "nid long, x double, y double, tag string",
    )
    rows = predict(model, probes, eps=0.3).collect()
    assert sorted(r["nid"] for r in rows) == [1, 2]
    assert {r["nid"]: r["tag"] for r in rows} == {1: "a", 2: None}
    assert all(r["cluster"] == 7 and r["flag"] == "border" for r in rows)


@pytest.mark.parametrize(
    "payload", ["cell_x", "_cx", "_ox", "core_x", "core_cluster"]
)
def test_predict_passes_any_payload(spark, payload):
    """A probe column named like one predict() once used internally comes
    back with its own value, and the probe gets the right label."""
    model = spark.createDataFrame(
        [(0.0, 0.0, 7, "core"), (5.0, 5.0, 9, "core")],
        "x double, y double, cluster long, flag string",
    )
    probes = spark.createDataFrame(
        [(1, 0.05, 0.0, 101), (2, 4.9, 5.0, 102), (3, 20.0, 20.0, 103)],
        f"nid long, x double, y double, {payload} long",
    )
    rows = {r["nid"]: r for r in predict(model, probes, eps=0.3).collect()}
    assert {n: r[payload] for n, r in rows.items()} == {1: 101, 2: 102, 3: 103}
    assert {n: (r["cluster"], r["flag"]) for n, r in rows.items()} == {
        1: (7, "border"),
        2: (9, "border"),
        3: (0, "noise"),
    }


@pytest.mark.parametrize("name", ["cluster", "flag", "Flag", "__dbscan_rid"])
def test_reserved_columns_raise_before_spark(spark, name):
    """An input column named like an output column (or in the internal
    namespace) is refused with a ValueError naming it, before any job."""
    df = spark.createDataFrame(
        [(0, 0.0, 0.0, 1)], f"id long, x double, y double, {name} long"
    )
    model = spark.createDataFrame(
        [(0.0, 0.0, 1, "core")], "x double, y double, cluster long, flag string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("reserved-columns", "reserved-columns")
    try:
        with pytest.raises(ValueError, match=name):
            dbscan(df, eps=0.5, min_points=1)
        with pytest.raises(ValueError, match=name):
            predict(model, df, eps=0.5)
        assert not sc.statusTracker().getJobIdsForGroup("reserved-columns")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize(
    "eps,min_points",
    [(0.0, 3), (-1.0, 3), (float("nan"), 3), (float("inf"), 3), (0.5, 0)],
)
def test_invalid_parameters_raise_before_spark(spark, eps, min_points):
    df = spark.createDataFrame([(0, 0.0, 0.0)], "id long, x double, y double")
    with pytest.raises(ValueError):
        dbscan(df, eps=eps, min_points=min_points)
    if min_points >= 1:  # eps is the bad parameter: predict() refuses it too
        model = spark.createDataFrame(
            [(0.0, 0.0, 1, "core")], "x double, y double, cluster long, flag string"
        )
        with pytest.raises(ValueError):
            predict(model, df, eps=eps)


def test_non_finite_coordinates_are_noise(spark):
    """null / NaN / ±inf coordinates: each such row comes back exactly once
    as noise with its own payload, and the finite rows cluster as if they
    were alone."""
    nan, inf = float("nan"), float("inf")
    finite = [(i, 0.1 * i, 0.0, f"f{i}") for i in range(6)]
    hostile = [
        (10, None, 0.0, "null-x"),
        (11, 0.0, None, "null-y"),
        (12, nan, 0.0, "nan-x"),
        (13, 0.0, nan, "nan-y"),
        (14, inf, 0.0, "inf-x"),
        (15, 0.0, -inf, "ninf-y"),
    ]
    df = spark.createDataFrame(
        finite + hostile, "id long, x double, y double, tag string"
    )
    rows = dbscan(df, eps=0.15, min_points=2, max_points_per_partition=3).collect()
    by_id = {r["id"]: r for r in rows}
    assert len(rows) == len(finite) + len(hostile) == len(by_id)
    for i, _x, _y, tag in hostile:
        assert by_id[i]["tag"] == tag
        assert by_id[i]["cluster"] == 0 and by_id[i]["flag"] == "noise"
    assert len({by_id[i]["cluster"] for i, *_ in finite}) == 1
    assert all(by_id[i]["flag"] == "core" for i, *_ in finite)


@pytest.mark.parametrize("kind", ["empty", "all-null"])
def test_no_finite_input_is_materialized_noise(spark, kind):
    """Empty input, and input whose every row lacks a finite coordinate,
    come back like any other result: persisted and materialized, one
    ``cluster=0, flag='noise'`` row per input row with its own payload."""
    rows = [] if kind == "empty" else [
        (1, None, 0.0, "a"), (2, float("nan"), None, "b"), (3, None, None, None)
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, tag string")
    result = dbscan(df, eps=0.5, min_points=2)
    assert result.is_cached
    assert result.columns == df.columns + ["cluster", "flag"]
    got = sorted(result.collect(), key=lambda r: r["id"])
    assert [(r["id"], r["tag"]) for r in got] == [(i, t) for i, _x, _y, t in rows]
    assert all(r["cluster"] == 0 and r["flag"] == "noise" for r in got)
    result.unpersist()


def _skewed_points(seed):
    """Five hot blobs of unequal weight (each mostly inside one or two ε
    cells) over a uniform background."""
    rng = np.random.default_rng(seed)
    sizes = (500, 260, 150, 90, 60)
    centers = ((0.0, 0.0), (6.0, 1.0), (-5.0, 4.0), (3.0, -6.0), (-4.0, -5.0))
    blobs = [np.asarray(c) + rng.normal(0, 0.15, size=(n, 2))
             for c, n in zip(centers, sizes)]
    return np.vstack(blobs + [rng.uniform(-8, 8, size=(200, 2))])


def _box_count(pts, eps, cap):
    """How many BSP boxes dbscan() cuts ``pts`` into at this cap."""
    from dbscan_spark.partitioner import find_partitions

    size = 2 * eps
    hist = {}
    for x, y in pts:
        key = (np.floor(x / size) * size, np.floor(y / size) * size)
        hist[key] = hist.get(key, 0) + 1
    return len(find_partitions(hist, cap, size))


def test_kernel_stage_runs_one_task_per_slot(spark, tmp_path, monkeypatch):
    """The boxes are packed into ``slots = min(#boxes, defaultParallelism)``
    kernel tasks: read through ``statusTracker()``, every stage that runs
    the kernel runs exactly ``slots`` tasks, together they cover partitions
    0..slots-1, and no stage of the fit runs more than 2 × slots plus the
    input's partition count. The kernel is wrapped so each call leaves a
    file naming its stage and partition.

    The fit also runs at most 12 jobs, the count measured when the
    row-id aggregate became the fit's one cache (3 fits, 12 each). The
    plan before it, which cached the kernel output and read it in two
    branches, ran 14: a higher count means a fit phase came back."""
    import os
    import sys
    import time

    mod = sys.modules["dbscan_spark.dbscan"]  # the package attribute is the function
    eps, cap = 0.3, 120
    pts = _skewed_points(11)
    n_boxes = _box_count(pts, eps, cap)
    sc = spark.sparkContext
    slots = min(n_boxes, sc.defaultParallelism)
    assert n_boxes > slots or sc.defaultParallelism == 1, n_boxes

    kernel, out = mod.local_dbscan_matrix, str(tmp_path)

    def spy(X, eps, min_points):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"{ctx.stageId()}_{ctx.partitionId()}_{len(X)}_{os.getpid()}"
        with open(os.path.join(out, name), "a"):
            pass
        return kernel(X, eps, min_points)

    monkeypatch.setattr(mod, "local_dbscan_matrix", spy)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    ).coalesce(3)
    n_in = df.rdd.getNumPartitions()
    group = f"kernel-slots-{os.getpid()}"
    sc.setJobGroup(group, "dbscan kernel slot test")
    try:
        result = dbscan(df, eps, 5, max_points_per_partition=cap)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    result.unpersist()
    # a job after the fit: once the tracker lists it, it has seen every job
    # of the fit (the listener bus delivers events in order)
    sc.setJobGroup(group + "-end", "after the fit")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    calls = [tuple(map(int, f.split("_")[:2])) for f in os.listdir(out)]
    kernel_stages = {s for s, _p in calls}
    assert {p for _s, p in calls} == set(range(slots))
    st = sc.statusTracker()
    deadline = time.time() + 30
    while True:  # the listener bus posts stage status asynchronously
        stages = {
            sid: st.getStageInfo(sid)
            for jid in st.getJobIdsForGroup(group)
            for sid in st.getJobInfo(jid).stageIds
        }
        done = {sid: i for sid, i in stages.items() if i and i.numCompletedTasks}
        seen_all = bool(st.getJobIdsForGroup(group + "-end"))
        if (kernel_stages <= set(done) and seen_all) or time.time() > deadline:
            break
        time.sleep(0.2)
    jobs = st.getJobIdsForGroup(group)
    assert len(jobs) <= 12, len(jobs)
    for sid in kernel_stages:
        assert done[sid].numTasks == slots, (sid, done[sid].numTasks, slots)
    bound = 2 * slots + n_in
    assert max(i.numCompletedTasks for i in done.values()) <= bound, {
        sid: i.numCompletedTasks for sid, i in done.items()
    }


@pytest.mark.parametrize("cap", [120, 5000])
def test_skewed_result_is_partition_invariant(spark, cap):
    """A multi-hot-box skewed input clusters like the local kernel both when
    the boxes outnumber the cores (cap 120: several boxes share a kernel
    task) and when they do not (cap 5000: one box per task, tasks to
    spare)."""
    eps, minp = 0.3, 5
    pts = _skewed_points(12)
    n_boxes = _box_count(pts, eps, cap)
    dp = spark.sparkContext.defaultParallelism
    if cap == 120:
        assert n_boxes > dp, (n_boxes, dp)
    elif not n_boxes < dp:
        pytest.skip(f"{dp} cores leave no spare kernel task")
    local_cluster, local_flag = local_dbscan(pts[:, 0], pts[:, 1], eps, minp)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )
    rows = sorted(
        dbscan(df, eps, minp, max_points_per_partition=cap).collect(),
        key=lambda r: r["id"],
    )
    assert [r["id"] for r in rows] == list(range(len(pts)))
    got = np.array([r["cluster"] for r in rows])
    flags = np.array([r["flag"] for r in rows])
    assert (flags == local_flag).all()
    ok, _ = relabel_to_match(got, local_cluster)
    assert ok


def test_arrow_off_session_clusters_the_same(spark):
    """The rectangle and global-id tables are built from pandas; with Arrow
    off, createDataFrame takes its row-by-row path and the result is
    unchanged."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    df = spark.createDataFrame(
        [(i, 0.2 * (i % 10), 3.0 * (i // 10)) for i in range(40)],
        "id long, x double, y double",
    )

    def labels():
        rows = dbscan(df, eps=0.3, min_points=3, max_points_per_partition=8).collect()
        return sorted((r["id"], r["cluster"], r["flag"]) for r in rows)

    before = spark.conf.get(conf)
    want = labels()
    spark.conf.set(conf, "false")
    try:
        got = labels()
    finally:
        spark.conf.set(conf, before)
    assert got == want
    assert len({c for _i, c, _f in want}) == 4
