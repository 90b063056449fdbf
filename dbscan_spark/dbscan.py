"""Distributed DBSCAN as an idiomatic PySpark DataFrame pipeline.

Re-expression of the reference's RDD dataflow (DBSCAN.scala:80-242) in
DataFrame operators so Catalyst plans every distributed step:

1. grid histogram        — ``groupBy(floor(x/2ε), floor(y/2ε)).count()``
                           (reference O3-O5, DBSCAN.scala:84-90); only cell
                           counts ever reach the driver, never points.
2. spatial BSP           — driver-side pure function over the histogram
                           (partitioner.find_partitions; reference
                           EvenSplitPartitioner.scala).
3. point→partition assign — every input row gets a row id, then a
                           broadcast containment theta-join against the
                           ε-grown "outer" rectangles; points in overlap
                           margins are intentionally duplicated, each copy
                           carrying its row's id (reference O8,
                           DBSCAN.scala:108-112). BroadcastNestedLoopJoin
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
5. merge                 — ONE persisted ``groupBy`` of every kernel row by
                           row id reconciles each point's copies (reference
                           DBSCAN.scala:148-227): the ``collect_set`` of its
                           non-noise (pid, cluster) copies gives the local
                           cluster ids and the cross-partition cluster
                           adjacency (O13-O14) in one collect, and the same
                           row's strongest flag and payload come from the
                           same aggregate. Driver union-find assigns global
                           ids over the (tiny) local-cluster graph (O15,
                           DBSCANGraph.scala).
6. relabel               — every aggregate row, keyed by the smallest
                           (pid, cluster) of its copies (all of them are
                           pairwise edges, so they share one global id —
                           O17 made deterministic, SURVEY.md §2.3 P5), goes
                           through ONE broadcast join on the global-id map
                           (O16), then ∪ the rows with a non-finite
                           coordinate (noise), which match no box and so
                           never reach the kernel.

Every column created here lives in the ``__dbscan_`` namespace and none is
ever returned, so a payload column of any other name passes through;
``cluster`` and ``flag`` are the output names and may not be input columns.

Scale notes (100 TB thinking):
* Driver state is O(#grid cells) + O(#local clusters) — identical bound to
  the reference; raise ``minimum_rectangle_size`` (i.e. eps) or pre-filter
  if the cell histogram itself would explode.
* The only shuffles are the histogram aggregate (partial+final combine),
  the slot repartition for the kernel, the repartition of every kernel
  row on the row id that the one ``groupBy`` by row id keeps, and the
  distinct of the merge graph's (small) id pairs; the rectangle and
  global-id tables are always broadcast, built from pandas so Arrow ships
  them to the JVM without a Python job. The row-id
  shuffle carries the single-copy rows too (most rows on fragmented
  data): in exchange, the kernel output is never cached, and the one
  cached frame, the row-id aggregate, is one row per input row.
* The kernel and row-id shuffles are sized from ``slots``, not from
  ``spark.sql.shuffle.partitions``: the kernel one so that slot s is task
  s, the row-id one because it is the last shuffle of the persisted
  aggregate, and with
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

# Internal columns, never part of a returned frame. The shared prefix keeps
# them apart from any payload column (see _check_columns).
_NS = "__dbscan_"
_RID = _NS + "rid"  # row id
_SLOT = _NS + "slot"  # kernel task of a box
_PID = _NS + "pid"  # spatial partition (BSP box)
_OX, _OY, _OX2, _OY2 = (_NS + c for c in ("ox", "oy", "ox2", "oy2"))
_LOCAL = _NS + "local"  # the kernel's cluster id within one box
_FLAG = _NS + "flag"
_GLOBAL = _NS + "global"  # global cluster id
_IDS = _NS + "ids"  # a row's non-noise (pid, local) copies
_ROW = _NS + "row"  # a row's payload as one struct
_EDGE = _NS + "edge"
_CELL = _NS + "cell"
_CORE = _NS + "core"
_HIT = _NS + "hit"


def _check_columns(df: DataFrame, caller: str) -> None:
    """``ValueError`` if ``df`` has a column named like an output column
    (``cluster``, ``flag``) or in the internal namespace."""
    for name in df.columns:
        low = name.lower()  # Spark resolves names case-insensitively
        if low in ("cluster", "flag") or low.startswith(_NS):
            raise ValueError(
                f"{caller}: input column {name!r} is reserved: 'cluster' and "
                f"'flag' are output columns and {_NS!r}* names are internal"
            )


def _rects_df(spark, margin_list, slots):
    """Broadcast-able table of (pid, slot, outer) rectangle bounds, each box
    packed onto one of ``slots`` kernel tasks by its point count.

    Built as a pandas frame whose dtypes already match the schema: with
    Arrow on, it reaches the JVM with no Python job and no Arrow cast (a
    cast raised the driver's peak RSS by ~1 MB when measured)."""
    outer = [o for _pid, _inner, _main, o in margin_list]
    pdf = pd.DataFrame(
        {
            _PID: np.array([pid for pid, *_ in margin_list], dtype=np.int32),
            _SLOT: np.array(
                pack_slots([m.points for _p, _i, m, _o in margin_list], slots),
                dtype=np.int32,
            ),
            _OX: [r.x for r in outer],
            _OY: [r.y for r in outer],
            _OX2: [r.x2 for r in outer],
            _OY2: [r.y2 for r in outer],
        }
    )
    return spark.createDataFrame(
        pdf,
        f"{_PID} int, {_SLOT} int, {_OX} double, {_OY} double, "
        f"{_OX2} double, {_OY2} double",
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
    the merge reconciles a point's copies by that id, so rows with
    equal coordinates stay separate rows (the reference instead keys its
    dedup map on the point value, DBSCAN.scala:204-227). The id is
    computed once, when the cached row-id aggregate materializes. A lost cache
    block is recomputed from the input, which gives the same ids only if
    the input itself recomputes deterministically (same partitions, same
    row order — true of file scans and local data, not of the unordered
    output of a shuffle).

    Column names: ``cluster`` and ``flag`` are the output columns, so an
    input column of either name (in any case) raises ``ValueError``, as
    does one starting with ``__dbscan_`` — the namespace of every column
    the pipeline creates internally. Any other payload column comes back
    unchanged.

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
    row-id aggregate is released before returning. The RESULT's cache
    belongs to the caller: call ``.unpersist()`` (or
    ``DBSCANModel.unpersist()``) when done, or a loop of dbscan() calls
    accumulates one cached result per call until LRU eviction.
    """
    eps = _checked_eps(eps, "dbscan")
    min_points = int(min_points)
    if min_points < 1:
        raise ValueError(f"dbscan: min_points must be >= 1, got {min_points}")
    _check_columns(df, "dbscan")
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
            (F.floor(X / size) * size).alias(_NS + "cx"),
            (F.floor(Y / size) * size).alias(_NS + "cy"),
        )
        .count()
        .collect()
    )
    hist = {(cx, cy): n for cx, cy, n in cell_rows}
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
        (X >= F.col(_OX)) & (X <= F.col(_OX2))
        & (Y >= F.col(_OY)) & (Y <= F.col(_OY2))
    )
    assigned = (
        df.withColumn(_RID, F.monotonically_increasing_id())
        .join(F.broadcast(rects), in_outer)
        .select(_PID, _SLOT, _RID, *df.columns)
    )

    # -- 4. per-partition numpy DBSCAN kernel ------------------------------
    out_schema = T.StructType(
        assigned.schema.fields
        + [
            T.StructField(_LOCAL, T.LongType(), False),
            T.StructField(_FLAG, T.StringType(), False),
        ]
    )

    def _cluster_group(pdf):  # one box; a grouped map never passes an empty one
        xs = pdf[x_col].to_numpy(dtype=np.float64)
        ys = pdf[y_col].to_numpy(dtype=np.float64)
        if features_col is not None:
            X = np.asarray(np.stack(pdf[features_col].to_numpy()), np.float64)
            if not (np.array_equal(X[:, 0], xs) and np.array_equal(X[:, 1], ys)):
                raise ValueError(
                    f"dbscan: ({x_col!r}, {y_col!r}) must equal the first "
                    f"two components of {features_col!r} — the spatial "
                    "partitioning runs on that projection and unrelated "
                    "columns would corrupt the cross-partition merge"
                )
        else:
            X = np.column_stack([xs, ys])
        labels, flags = local_dbscan_matrix(X, eps, min_points)
        return pdf.assign(**{_LOCAL: labels, _FLAG: flags})

    # Slot s is Spark partition s (``repartitionById``; a hash of the slot
    # could land two slots in one task), and ``groupBy`` reuses that
    # exchange. A group is still one box, so its size bound is unchanged.
    clustered = (
        assigned.repartitionById(slots, _SLOT)
        .groupBy(_SLOT, _PID)
        .applyInPandas(_cluster_group, out_schema)
    )

    # -- 5. ONE aggregate per row id over every kernel row, persisted: the
    #       one cache of the fit, read by the merge collect and the result.
    #       ``ids`` is the set of the row's non-noise (pid, local cluster)
    #       copies (collect_set skips the nulls of noise copies); the
    #       strongest flag core > border > noise and the payload (every
    #       copy carries the same) come from the same groupBy. This
    #       ``slots``-wide exchange is the last shuffle of a persisted
    #       plan: AQE does not coalesce it, so an unsized one would run
    #       spark.sql.shuffle.partitions tasks --------------------------------
    local_id = F.struct(F.col(_PID).alias("p"), F.col(_LOCAL).alias("c"))
    flag_rank = (
        F.when(F.col(_FLAG) == "core", 2)
        .when(F.col(_FLAG) == "border", 1)
        .otherwise(0)
    )
    per_row = (
        clustered.repartition(slots, _RID)
        .groupBy(_RID)
        .agg(
            F.collect_set(F.when(F.col(_LOCAL) > 0, local_id)).alias(_IDS),
            F.max(F.struct(flag_rank.alias("r"), F.col(_FLAG).alias("f"))).alias(_FLAG),
            F.any_value(F.struct(*df.columns)).alias(_ROW),
        )
        .persist()
    )

    # -- 5a. the merge graph from ``ids`` alone (Catalyst prunes the flag
    #        and payload): the self-pairs are the local cluster ids, and a
    #        row under two (pid, cluster) ids ⇒ those local clusters are
    #        one global cluster (p1 < p2; a row has one copy per box). The
    #        pair expansion is a per-row HOF over sets bounded by the number
    #        of rectangles overlapping one point (≤4 in the BSP grid). ONE
    #        distinct dedupes both kinds — one driver round-trip -----------
    pairs = F.expr(
        f"filter(flatten(transform({_IDS}, a -> transform({_IDS}, b -> "
        "struct(a.p AS p1, a.c AS c1, b.p AS p2, b.c AS c2)))), "
        "e -> e.p1 <= e.p2)"
    )
    # collected as flat rows: a nested Row per edge held ~0.3 MB more
    # driver memory on 1.4k edges and ids when measured
    fused = (
        per_row.select(F.explode(pairs).alias(_EDGE))
        .distinct()
        .select(f"{_EDGE}.*")
        .collect()
    )

    # -- 5b. driver union-find over local-cluster ids (tiny) ---------------
    gmap = assign_global_ids(
        [(p1, c1) for p1, c1, p2, _c2 in fused if p1 == p2],
        [((p1, c1), (p2, c2)) for p1, c1, p2, c2 in fused if p1 != p2],
    )
    gmap_df = spark.createDataFrame(  # typed as in _rects_df, for the same reason
        pd.DataFrame(
            {
                _PID: np.fromiter((p for p, _c in gmap), np.int32, len(gmap)),
                _LOCAL: np.fromiter((c for _p, c in gmap), np.int64, len(gmap)),
                _GLOBAL: np.fromiter(gmap.values(), np.int64, len(gmap)),
            }
        ),
        f"{_PID} int, {_LOCAL} long, {_GLOBAL} long",
    )

    # -- 6. relabel: every row is keyed by the smallest of its copies'
    #       (pid, cluster) ids — one copy for a row inside its box's inner
    #       box; every pair of a margin row's copies is an edge, so all
    #       share one global id (the reference's order-dependent "last
    #       non-noise wins" fold made deterministic, P5). ONE broadcast left
    #       join on the global-id map; a null key (noise in every copy)
    #       finds no match and stays 0 -------------------------------------
    key = F.array_min(_IDS)
    relabelled = (
        per_row.select(
            f"{_ROW}.*",
            key["p"].alias(_PID),
            key["c"].alias(_LOCAL),
            F.col(_FLAG)["f"].alias(_FLAG),
        )
        .join(F.broadcast(gmap_df), [_PID, _LOCAL], "left")
        .select(
            *df.columns,
            F.coalesce(_GLOBAL, F.lit(0)).alias("cluster"),
            F.col(_FLAG).alias("flag"),
        )
    )

    # -- 7. ∪ the rows with a non-finite coordinate (noise, payload
    #       untouched); materialize the result, then release the row-id
    #       aggregate (the result keeps full lineage, so fault recovery
    #       recomputes rather than relying on unreliable checkpoint
    #       storage) -----------------------------------------------------
    result = _materialized(relabelled.unionByName(noise.filter(~finite)))
    per_row.unpersist()
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

    ``eps`` must be finite and > 0, as for :func:`dbscan`. As there, a
    ``new_points`` column named ``cluster`` or ``flag`` (the output
    columns) or starting with ``__dbscan_`` (the internal namespace) is
    refused; any other probe column comes back unchanged. Each of these
    raises ``ValueError`` before any Spark job runs.
    """
    eps = _checked_eps(eps, "predict")
    _check_columns(new_points, "predict")
    X, Y = F.col(x_col), F.col(y_col)
    cx, cy = F.floor(X / eps).cast("long"), F.floor(Y / eps).cast("long")
    fields = [X.alias("x"), Y.alias("y"), F.col("cluster").alias("cluster")]
    if features_col is not None:
        fields.append(F.col(features_col).alias("feats"))
    cores = model.filter(F.col("flag") == "core").select(
        F.struct(cx.alias("x"), cy.alias("y")).alias(_CELL),
        F.struct(*fields).alias(_CORE),
    )
    ring = F.array(
        *(
            F.struct((cx + dx).alias("x"), (cy + dy).alias("y"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
    )
    probes = new_points.withColumn(
        _RID, F.monotonically_increasing_id()
    ).withColumn(_CELL, F.explode(ring))
    core = F.col(_CORE)
    if features_col is not None:
        dist2 = F.aggregate(
            F.zip_with(
                F.col(features_col), core["feats"], lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    else:
        dx, dy = X - core["x"], Y - core["y"]
        dist2 = dx * dx + dy * dy

    # the left join keeps every probe, even one whose candidate cells hold
    # no core or only cores beyond ε; min() skips the null non-hits. The
    # aggregate stays in the lineage of ONE evaluation of the row id, so
    # ids never have to agree across two scans of ``new_points``.
    hit = F.when(
        dist2 <= eps * eps, F.struct(dist2.alias("d2"), core["cluster"].alias("c"))
    )
    best = (
        probes.join(cores, _CELL, "left")
        .groupBy(_RID)
        .agg(
            F.min(hit).alias(_HIT),
            F.any_value(F.struct(*new_points.columns)).alias(_ROW),
        )
    )
    return best.select(
        f"{_ROW}.*",
        F.coalesce(F.col(_HIT)["c"], F.lit(0)).alias("cluster"),
        F.when(F.col(_HIT).isNotNull(), F.lit("border"))
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
