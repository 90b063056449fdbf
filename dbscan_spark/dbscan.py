"""Distributed DBSCAN as an idiomatic PySpark DataFrame pipeline.

Re-expression of the reference's RDD dataflow (DBSCAN.scala:80-242) in
DataFrame operators so Catalyst plans every distributed step:

1. grid histogram        — ``groupBy(floor(x/2ε), floor(y/2ε)).count()``
                           (reference O3-O5, DBSCAN.scala:84-90); only cell
                           counts ever reach the driver, never points.
2. spatial BSP           — driver-side pure function over the histogram
                           (partitioner.find_partitions; reference
                           EvenSplitPartitioner.scala).
3. point→partition assign — broadcast containment theta-join against the
                           ε-grown "outer" rectangles; points in overlap
                           margins are intentionally duplicated (reference
                           O8, DBSCAN.scala:108-112). BroadcastNestedLoopJoin
                           on a table of ≤ thousands of rows.
4. local clustering      — the boxes are packed longest-first onto
                           ``slots = min(#boxes, defaultParallelism)`` tasks
                           (partitioner.pack_slots; MR-DBSCAN's cost-based
                           balance applied at the task grain), then
                           ``repartitionById(slots, slot).groupBy(slot, pid)
                           .applyInPandas(kernel)`` — Arrow-batched numpy
                           DBSCAN per spatial partition, group size bounded
                           by ``max_points_per_partition`` (reference O9-O10,
                           whose ``groupByKey`` runs one task per box).
5. merge                 — every input row carries a row id from just
                           before step 3, through the kernel. Margin copies
                           (tagged by the kernel against their own
                           partition's ε-shrunk inner box) are grouped by
                           that id: one ``collect_set`` of (pid, cluster)
                           per point gives the cross-partition cluster
                           adjacency (O13-O14); driver union-find assigns
                           global ids over the (tiny) local-cluster graph
                           (O15, DBSCANGraph.scala); broadcast-join relabel
                           (O16) and an order-insensitive margin dedup on
                           the same id (O17 made deterministic, SURVEY.md
                           §2.3 P5).
6. union                 — inner ∪ deduped margin (O18) ∪ the rows with a
                           non-finite coordinate (noise); disjoint by the
                           strict/inclusive containment rules (P6).

Scale notes (100 TB thinking):
* Driver state is O(#grid cells) + O(#local clusters) — identical bound to
  the reference; raise ``minimum_rectangle_size`` (i.e. eps) or pre-filter
  if the cell histogram itself would explode.
* The only shuffles are the histogram aggregate (partial+final combine),
  the slot repartition for the kernel, and the margin repartition on the
  row id that both ``groupBy`` aggregates by row id keep; the rectangle
  and global-id tables are always broadcast, built from pandas so Arrow
  ships them to the JVM without a Python job.
* The kernel and margin shuffles are sized from ``slots``, not from
  ``spark.sql.shuffle.partitions``: each is the last shuffle of a
  persisted plan, and with
  ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` off
  (Spark's default) AQE leaves that shuffle's partitions as planned — no
  coalescing, no skew split — so an unsized one runs one task per shuffle
  partition. Skew is handled by the BSP bound ``max_points_per_partition``,
  exactly as in the reference (best-effort under unsplittable hot cells,
  P8), and then by the longest-first packing of the boxes onto the slots.
* ``repartitionById`` needs PySpark >= 4.1.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from dbscan_spark.graph import assign_global_ids
from dbscan_spark.kernel import local_dbscan_matrix
from dbscan_spark.partitioner import find_partitions, margins, pack_slots

_RID = "__dbscan_rid"  # internal row id; never part of a returned frame
_SLOT = "__dbscan_slot"  # kernel task of a box; never part of a returned frame


def _rects_df(spark, margin_list, slots):
    """Broadcast-able table of (pid, slot, outer) rectangle bounds, each box
    packed onto one of ``slots`` kernel tasks by its point count.

    Built as a pandas frame whose dtypes already match the schema: with
    Arrow on, it reaches the JVM with no Python job and no Arrow cast (a
    cast raised the driver's peak RSS by ~1 MB when measured)."""
    outer = [o for _pid, _inner, _main, o in margin_list]
    pdf = pd.DataFrame(
        {
            "pid": np.array([pid for pid, *_ in margin_list], dtype=np.int32),
            _SLOT: np.array(
                pack_slots([m.points for _p, _i, m, _o in margin_list], slots),
                dtype=np.int32,
            ),
            "ox": [r.x for r in outer],
            "oy": [r.y for r in outer],
            "ox2": [r.x2 for r in outer],
            "oy2": [r.y2 for r in outer],
        }
    )
    return spark.createDataFrame(
        pdf, f"pid int, {_SLOT} int, ox double, oy double, ox2 double, oy2 double"
    )


def _materialized(result: DataFrame) -> DataFrame:
    """``result`` persisted and computed once, as :func:`dbscan` returns it."""
    result = result.persist()
    result.count()
    return result


def _checked_eps(eps: float, caller: str) -> float:
    """``eps`` as a Python float; ``ValueError`` unless finite and > 0."""
    eps = float(eps)  # a numpy scalar would poison createDataFrame in dbscan()
    if not (math.isfinite(eps) and eps > 0):
        raise ValueError(f"{caller}: eps must be finite and > 0, got {eps!r}")
    return eps


def dbscan(
    df: DataFrame,
    eps: float,
    min_points: int,
    max_points_per_partition: int = 250,
    x_col: str = "x",
    y_col: str = "y",
    features_col: str | None = None,
) -> DataFrame:
    """Cluster points; returns the input columns plus ``cluster`` (long,
    0 = noise) and ``flag`` ('core'|'border'|'noise').

    With ``features_col=None`` this is strict 2-D reference parity:
    distance on (x, y). With ``features_col`` naming an ``array<double>``
    column, distance is Euclidean over the full vector while spatial
    partitioning stays on (x, y) — correct for any dimensionality because
    a projection distance never exceeds the full distance, so the ε-margin
    duplication in the (x, y) plane is a superset of n-D ε-connectivity
    across partitions (the same 2-D rule the reference hardwires,
    DBSCANPoint.scala:23-24, generalized instead of imposed).

    Every input row comes back exactly once, with its own payload, whatever
    ``max_points_per_partition`` is: each row is tagged with a row id
    (``monotonically_increasing_id``) just before the assignment join, and
    the margin merge reconciles a point's copies by that id, so rows with
    equal coordinates stay separate rows (the reference instead keys its
    dedup map on the point value, DBSCAN.scala:204-227). The id is
    computed once, when the cached kernel output materializes. A lost cache
    block is recomputed from the input, which gives the same ids only if
    the input itself recomputes deterministically (same partitions, same
    row order — true of file scans and local data, not of the unordered
    output of a shuffle).

    Rows whose x or y is null, NaN or ±inf are not clustered: they stay
    out of the histogram and the partitioner and come back once as
    ``cluster=0, flag='noise'`` with their own payload. ``eps`` must be
    finite and > 0 and ``min_points`` ≥ 1; anything else raises
    ``ValueError`` before any Spark job runs.

    Precondition when ``features_col`` is set: ``x_col``/``y_col`` MUST be
    the first two components of the feature vector (the projection the
    spatial partitioning runs on). Unrelated (x, y) columns would silently
    corrupt the cross-partition merge, so the kernel validates the
    equality per group and fails the job with a clear error otherwise.

    The returned DataFrame is persisted and already materialized (the
    merge phase is inherently eager — same as the reference); the cached
    kernel output is released before returning. The RESULT's cache
    belongs to the caller: call ``.unpersist()`` (or
    ``DBSCANModel.unpersist()``) when done, or a loop of dbscan() calls
    accumulates one cached result per call until LRU eviction.
    """
    eps = _checked_eps(eps, "dbscan")
    min_points = int(min_points)
    if min_points < 1:
        raise ValueError(f"dbscan: min_points must be >= 1, got {min_points}")
    spark = df.sparkSession
    size = 2.0 * eps  # minimumRectangleSize (DBSCAN.scala:74, P7)
    X, Y = F.col(x_col), F.col(y_col)
    # false for null, ±inf and NaN (Spark orders NaN above +inf)
    finite = F.coalesce(
        (F.abs(X) < math.inf) & (F.abs(Y) < math.inf), F.lit(False)
    )

    # -- 1. grid histogram (only cell counts reach the driver) -------------
    cell_rows = (
        df.filter(finite)
        .groupBy(
            (F.floor(X / size) * size).alias("cx"),
            (F.floor(Y / size) * size).alias("cy"),
        )
        .count()
        .collect()
    )
    hist = {(r["cx"], r["cy"]): r["count"] for r in cell_rows}
    noise = df.select(
        *df.columns,
        F.lit(0).cast("long").alias("cluster"),
        F.lit("noise").alias("flag"),
    )
    if not hist:  # no row has finite coordinates: all noise
        return _materialized(noise)

    # -- 2. driver-side BSP + ε margins; boxes packed into ``slots`` tasks,
    #       and every shuffle below is sized from the same count ---------
    parts = find_partitions(hist, max_points_per_partition, size)
    margin_list = margins(parts, eps)
    slots = min(len(parts), spark.sparkContext.defaultParallelism)
    rects = _rects_df(spark, margin_list, slots)

    # -- 3. assignment join: outer (ε-grown) containment, border-inclusive
    #       (P6: >= / <= for outer), duplicating margin points; every copy
    #       of a row carries the row's id. A non-finite coordinate matches
    #       no box, so those rows never reach the kernel ------------------
    in_outer = (
        (X >= F.col("ox")) & (X <= F.col("ox2"))
        & (Y >= F.col("oy")) & (Y <= F.col("oy2"))
    )
    assigned = (
        df.withColumn(_RID, F.monotonically_increasing_id())
        .join(F.broadcast(rects), in_outer)
        .select("pid", _SLOT, _RID, *df.columns)
    )

    # -- 4. per-partition numpy DBSCAN kernel ------------------------------
    #    The kernel also tags each row's margin candidacy against its OWN
    #    partition's ε-shrunk inner box (a vectorized bound check on data
    #    already in memory). A row with copies in two partitions lies
    #    within ε of its home box's edge, so every copy is tagged, and the
    #    merge below only ever sees the (small) tagged slice. The inner and
    #    outer boxes come from the same ``Rectangle.shrink(±eps)`` float
    #    expression, so no rounding gap opens between the two tests.
    out_schema = T.StructType(
        assigned.schema.fields
        + [
            T.StructField("cluster", T.LongType(), False),
            T.StructField("flag", T.StringType(), False),
            T.StructField("in_margin", T.BooleanType(), False),
        ]
    )

    inner_bounds = {
        pid: (inner.x, inner.y, inner.x2, inner.y2)
        for pid, inner, _main, _outer in margin_list
    }

    def _cluster_group(pdf):
        xs = pdf[x_col].to_numpy(dtype=np.float64)
        ys = pdf[y_col].to_numpy(dtype=np.float64)
        if features_col is not None:
            X = (
                np.stack(pdf[features_col].to_numpy())
                if len(pdf)
                else np.zeros((0, 2))
            )
            X = np.asarray(X, dtype=np.float64)
            if len(X) and not (
                np.array_equal(X[:, 0], xs) and np.array_equal(X[:, 1], ys)
            ):
                raise ValueError(
                    f"dbscan: ({x_col!r}, {y_col!r}) must equal the first "
                    f"two components of {features_col!r} — the spatial "
                    "partitioning runs on that projection and unrelated "
                    "columns would corrupt the cross-partition merge"
                )
        else:
            X = np.column_stack([xs, ys])
        labels, flags = local_dbscan_matrix(X, eps, min_points)
        out = pdf.copy()
        out["cluster"] = labels
        out["flag"] = flags
        if len(pdf):
            ix, iy, ix2, iy2 = inner_bounds[int(pdf["pid"].iloc[0])]
            out["in_margin"] = ~(
                (xs > ix) & (xs < ix2) & (ys > iy) & (ys < iy2)
            )
        else:
            out["in_margin"] = np.zeros(0, dtype=bool)
        return out

    # Slot s is Spark partition s (``repartitionById``; a hash of the slot
    # could land two slots in one task), and ``groupBy`` reuses that
    # exchange. A group is still one box, so its size bound is unchanged.
    clustered = (
        assigned.repartitionById(slots, _SLOT)
        .groupBy(_SLOT, "pid")
        .applyInPandas(_cluster_group, out_schema)
        .persist()
    )

    # -- 5a. adjacency: same row under two different (pid, cluster) ids,
    #        both non-noise ⇒ those local clusters are one global cluster.
    #        One collect_set aggregate groups each margin row's
    #        (pid, cluster) copies by row id; the pair expansion is a
    #        per-row HOF over sets bounded by the number of rectangles
    #        overlapping one point (≤4 in the BSP grid) -------------------
    #    Both aggregates by row id below (here and in 6b) keep this
    #    ``slots``-wide exchange: AQE does not coalesce the last shuffle of
    #    a persisted plan (6b's), so an unsized one runs
    #    spark.sql.shuffle.partitions tasks.
    margin = clustered.filter(F.col("in_margin")).repartition(slots, _RID)
    per_point = (
        margin.filter(F.col("cluster") > 0)
        .groupBy(_RID)
        .agg(
            F.collect_set(
                F.struct(F.col("pid").alias("p"), F.col("cluster").alias("c"))
            ).alias("ids")
        )
    )
    pairs = F.expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> "
        "struct(a.p AS p1, a.c AS c1, b.p AS p2, b.c AS c2)))), "
        "x -> x.p1 < x.p2)"
    )
    edges_df = per_point.select(F.explode(pairs).alias("e")).select(
        "e.p1", "e.c1", "e.p2", "e.c2"
    )

    # -- 5b. driver union-find over local-cluster ids (tiny). The distinct
    #        local ids ride along in the SAME job as the adjacency edges
    #        (union with null right-hand side), and ONE distinct over the
    #        fused union dedupes both row kinds (they can't collide: id
    #        rows have null p2) — one driver round-trip, one dedup
    #        exchange for the whole merge phase ---------------------------
    ids_df = clustered.filter(F.col("cluster") > 0).select(
        F.col("pid").alias("p1"),
        F.col("cluster").alias("c1"),
        F.lit(None).cast("int").alias("p2"),
        F.lit(None).cast("long").alias("c2"),
    )
    fused_rows = edges_df.unionByName(ids_df).distinct().collect()
    edge_rows = [r for r in fused_rows if r.p2 is not None]
    local_ids = [(r.p1, r.c1) for r in fused_rows if r.p2 is None]
    gmap = assign_global_ids(
        local_ids, [((r.p1, r.c1), (r.p2, r.c2)) for r in edge_rows]
    )
    gmap_df = spark.createDataFrame(  # typed as in _rects_df, for the same reason
        pd.DataFrame(
            {
                "pid": np.fromiter((p for p, _c in gmap), np.int32, len(gmap)),
                "cluster": np.fromiter((c for _p, c in gmap), np.int64, len(gmap)),
                "global_cluster": np.fromiter(gmap.values(), np.int64, len(gmap)),
            }
        ),
        "pid int, cluster long, global_cluster long",
    )
    gcluster = F.coalesce("global_cluster", F.lit(0))

    # -- 6a. inner points: strictly inside own partition's inner box keep
    #        exactly one copy — a plain cached-scan filter; relabel via
    #        broadcast map (left join keeps noise at 0) -------------------
    inner_final = (
        clustered.filter(~F.col("in_margin"))
        .join(F.broadcast(gmap_df), ["pid", "cluster"], "left")
        .select(*df.columns, gcluster.alias("cluster"), "flag")
    )

    # -- 6b. margin dedup by row id: order-insensitive replacement for the
    #        reference's nondeterministic "last non-noise wins" fold (P5):
    #        take max global id (density-connected copies share one id)
    #        and the strongest flag core > border > noise; every copy
    #        carries the same payload -----------------------------------
    flag_rank = (
        F.when(F.col("flag") == "core", 2)
        .when(F.col("flag") == "border", 1)
        .otherwise(0)
    )
    margin_final = (
        margin.join(F.broadcast(gmap_df), ["pid", "cluster"], "left")
        .groupBy(_RID)
        .agg(
            F.max(gcluster).alias("cluster"),
            F.max(F.struct(flag_rank.alias("r"), F.col("flag"))).alias("_f"),
            F.any_value(F.struct(*df.columns)).alias("_row"),
        )
        .select("_row.*", "cluster", F.col("_f.flag").alias("flag"))
    )

    # -- 6c. rows with a non-finite coordinate: noise, payload untouched --
    nonfinite = noise.filter(~finite)

    # -- 7. materialize the result, then release the kernel cache (it was
    #       only ever needed once more after the merge collect; the result
    #       keeps full lineage, so fault recovery recomputes rather than
    #       relying on unreliable checkpoint storage) --------------------
    result = _materialized(
        inner_final.unionByName(margin_final).unionByName(nonfinite)
    )
    clustered.unpersist()
    return result


def predict(
    model: DataFrame,
    new_points: DataFrame,
    eps: float,
    x_col: str = "x",
    y_col: str = "y",
    features_col: str | None = None,
) -> DataFrame:
    """Label new points against a fitted model (the reference declares this
    but throws NotImplementedError, DBSCAN.scala:244-251 — implemented here
    for real).

    A new point joins the cluster of its nearest core point within ε, else
    noise. Scalable formulation: key core points by their ε-grid cell, tag
    each probe row with a row id, explode it to its 3×3 candidate cell
    ring, left-join on the cell key (shuffle hash join — no cross join),
    then one aggregate per row id keeps the nearest core within ε (ties:
    smallest cluster). Every probe comes back exactly once with its own
    columns, whatever values (nulls included) they hold; a probe with a
    non-finite coordinate is noise. ``model`` is the output of
    :func:`dbscan`.

    With ``features_col`` (same contract as :func:`dbscan`: x/y are the
    first two vector components), the exact distance filter runs over the
    FULL vector while candidate generation stays on the (x, y) cell ring —
    correct because a projection distance never exceeds the full distance,
    so the ring is a superset of the true n-D ε-neighborhood.

    ``eps`` must be finite and > 0, as for :func:`dbscan`; anything else
    raises ``ValueError`` before any Spark job runs.
    """
    eps = _checked_eps(eps, "predict")
    core_cols = [
        F.col(x_col).alias("core_x"),
        F.col(y_col).alias("core_y"),
        F.col("cluster").alias("core_cluster"),
        F.floor(F.col(x_col) / eps).cast("long").alias("cell_x"),
        F.floor(F.col(y_col) / eps).cast("long").alias("cell_y"),
    ]
    if features_col is not None:
        core_cols.append(F.col(features_col).alias("core_feats"))
    cores = model.filter(F.col("flag") == "core").select(*core_cols)
    probes = (
        new_points.withColumn(_RID, F.monotonically_increasing_id())
        .withColumn("_cx", F.floor(F.col(x_col) / eps).cast("long"))
        .withColumn("_cy", F.floor(F.col(y_col) / eps).cast("long"))
        .withColumn("_ox", F.expr("explode(array(-1L, 0L, 1L))"))
        .withColumn("_oy", F.expr("explode(array(-1L, 0L, 1L))"))
        .withColumn("cell_x", F.col("_cx") + F.col("_ox"))
        .withColumn("cell_y", F.col("_cy") + F.col("_oy"))
    )
    if features_col is not None:
        dist2 = F.aggregate(
            F.zip_with(
                F.col(features_col),
                F.col("core_feats"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    else:
        dx = F.col(x_col) - F.col("core_x")
        dy = F.col(y_col) - F.col("core_y")
        dist2 = dx * dx + dy * dy

    # the left join keeps every probe, even one whose candidate cells hold
    # no core or only cores beyond ε; min() skips the null non-hits. The
    # aggregate stays in the lineage of ONE evaluation of the row id, so
    # ids never have to agree across two scans of ``new_points``.
    hit = F.when(
        dist2 <= eps * eps,
        F.struct(dist2.alias("d2"), F.col("core_cluster").alias("c")),
    )
    best = (
        probes.join(cores, ["cell_x", "cell_y"], "left")
        .groupBy(_RID)
        .agg(
            F.min(hit).alias("_hit"),
            F.any_value(F.struct(*new_points.columns)).alias("_row"),
        )
    )
    return best.select(
        "_row.*",
        F.coalesce(F.col("_hit.c"), F.lit(0)).alias("cluster"),
        F.when(F.col("_hit").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("flag"),
    )


class DBSCANModel:
    """Fitted-model wrapper mirroring the reference's public surface so a
    reference user can switch 1:1: ``DBSCAN.train(...)`` →
    :func:`train`, ``model.labeledPoints`` → :attr:`labeled_points`,
    ``model.predict(v)`` → :meth:`predict` (the reference *declares*
    predict but throws, DBSCAN.scala:249-251 — implemented here).

    ``labeled_points`` is the already-materialized clustering result (the
    input columns plus ``cluster``/``flag``), exactly what
    ``model.labeledPoints`` exposes in the reference (DBSCAN.scala:253-256).
    """

    def __init__(
        self,
        labeled_points: DataFrame,
        eps: float,
        min_points: int,
        max_points_per_partition: int,
        x_col: str = "x",
        y_col: str = "y",
        features_col: str | None = None,
    ) -> None:
        self.labeled_points = labeled_points
        self.eps = float(eps)
        self.min_points = int(min_points)
        self.max_points_per_partition = int(max_points_per_partition)
        self._x_col = x_col
        self._y_col = y_col
        self._features_col = features_col

    def predict(self, new_points: DataFrame) -> DataFrame:
        """Label new points against the fitted model: nearest core point
        within ε wins, else noise (see module-level :func:`predict`). A
        model fitted with ``features_col`` measures the full n-D distance;
        ``new_points`` must then carry the same column."""
        return predict(
            self.labeled_points,
            new_points,
            self.eps,
            x_col=self._x_col,
            y_col=self._y_col,
            features_col=self._features_col,
        )

    def unpersist(self) -> None:
        """Release the cached labeled_points (the result stays usable —
        full lineage is kept, so later actions recompute)."""
        self.labeled_points.unpersist()


def train(
    df: DataFrame,
    eps: float,
    min_points: int,
    max_points_per_partition: int = 250,
    x_col: str = "x",
    y_col: str = "y",
    features_col: str | None = None,
) -> DBSCANModel:
    """Reference-parity entry point (DBSCAN.train, DBSCAN.scala:40-48):
    runs :func:`dbscan` and wraps the result in a :class:`DBSCANModel`."""
    labeled = dbscan(
        df,
        eps=eps,
        min_points=min_points,
        max_points_per_partition=max_points_per_partition,
        x_col=x_col,
        y_col=y_col,
        features_col=features_col,
    )
    return DBSCANModel(
        labeled,
        eps,
        min_points,
        max_points_per_partition,
        x_col,
        y_col,
        features_col,
    )
