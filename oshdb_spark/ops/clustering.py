"""Distributed k-means (Lloyd's) over embedding columns (array<float>).

The training loop a large-scale training-data pipeline needs
(cluster-based dedup / diversity sampling, SemDeDup-style grouping) and
the real coarse quantizer behind IVF ANN (similarity.ivf_ann's labeled
centroid stub).

Scale posture per iteration:
- centroids are a k×dim broadcast literal baked into the plan (no join);
- assignment is a map-side Catalyst argmin over the centroid array
  (aggregate/zip_with higher-order functions, no Python, no shuffle);
- the update is a partial+final hash aggregate producing k rows of
  (count, dim element sums) — the only shuffle is k groups wide.
The driver holds k×dim floats between iterations — the irreducible
synchronization point of Lloyd's — never row data.

Determinism contract (what the DuckDB oracle replays): init = first k
vectors ordered by id; ties in the argmin go to the lowest centroid
index; empty clusters keep their previous centroid; centroids are
quantized to 6 decimals (half-away-from-zero) after every update so
Spark's and the oracle's float-summation orders cannot drift apart
across iterations.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _vec_lit(vec) -> str:
    return "array(" + ", ".join(f"cast({float(x)} as double)" for x in vec) + ")"


def _l2_argmin_expr(vec_sql: str, cents: list[list[float]]) -> str:
    """Index of the nearest centroid by squared L2; strict-less fold keeps
    the LOWEST index on exact ties (matches the oracle's ORDER BY d, c)."""
    terms = []
    for ci, c in enumerate(cents):
        d = (
            f"aggregate(zip_with({vec_sql}, {_vec_lit(c)},"
            f" (x, y) -> (x - y) * (x - y)), cast(0 as double), (a, x) -> a + x)"
        )
        terms.append(f"named_struct('c', {ci}, 'd', {d})")
    arr = "array(" + ", ".join(terms) + ")"
    return (
        f"aggregate({arr},"
        f" named_struct('c', -1, 'd', cast('Infinity' as double)),"
        f" (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END).c"
    )


def _q6(x: float) -> float:
    """Quantize to 6 decimals, half away from zero (= SQL round())."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[int]]:
    """Lloyd's k-means; returns (centroids, last-iteration cluster sizes).

    Sizes are the assignment counts of the FINAL iteration's argmin (the
    one that produced the returned centroids), so callers get consistent
    (centroid, population) pairs without an extra pass.

    Small k × dim iterates on the pure-codegen plan (argmin expression +
    per-dimension sum aggregates) that bit-reproduces the DuckDB oracle's
    sequential fold; past _EXPR_ARGMIN_MAX_K centroids or
    _EXPR_UPDATE_MAX_CELLS k·dim plan cells the iteration switches to the
    Arrow partial-stats path (see _kmeans_update_arrow) — the expression
    tree and the agg column count would otherwise grow O(k·dim), blowing
    plan/codegen limits at the SemDeDup-scale k≈√n the docstring above
    promises."""
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    cents = [[float(x) for x in r[0]] for r in init_rows]
    if not cents:
        return [], []
    dim = len(cents[0])
    big = (
        len(cents) > _EXPR_ARGMIN_MAX_K
        or len(cents) * dim > _EXPR_UPDATE_MAX_CELLS
    )
    v = f"cast({vec_col} as array<double>)"
    sizes = [0] * len(cents)
    for _ in range(n_iter):
        if big:
            stats = _kmeans_update_arrow(df, cents, vec_col)
        else:
            assigned = df.withColumn("_cl", F.expr(_l2_argmin_expr(v, cents)))
            agg = assigned.groupBy("_cl").agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(F.expr(f"{v}[{i}]")).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            stats = {
                int(r["_cl"]): (
                    int(r["_n"]),
                    [float(r[f"_s{i}"]) for i in range(dim)],
                )
                for r in agg.collect()
            }
        sizes = [stats[c][0] if c in stats else 0 for c in range(len(cents))]
        cents = [
            [_q6(stats[c][1][i] / sizes[c]) for i in range(dim)]
            if sizes[c]
            else cents[c]  # empty cluster keeps its previous centroid
            for c in range(len(cents))
        ]
    return cents, sizes


# k·dim ceiling for the codegen update aggregate: dim sum() columns per
# iteration is fine at the tested k=8 × dim≤64, but a 768-dim corpus
# already means 768 aggregate expressions — cheap enough — while large-k
# SemDeDup training (k≈10^4-10^5) must not build k-branch argmin trees
# NOR collect k×dim cells through a row-per-centroid driver fetch.
_EXPR_UPDATE_MAX_CELLS = 16_384


def _kmeans_update_arrow(
    df: DataFrame, cents: list[list[float]], vec_col: str
) -> dict[int, tuple[int, list[float]]]:
    """One Lloyd iteration's sufficient statistics via Arrow partials.

    Stage 1 (mapInPandas, narrow): each Arrow batch assigns its rows with
    a (batch × k) GEMM argmin and emits ONE partial row per cluster
    present — (cluster, n, sum-vector). Stage 2 shuffles only those
    partials (≤ batches × k rows, each 1+dim numbers — never the data)
    and merges them per cluster with applyInPandas. Every cluster's merge
    input is ≤ the batch count, so a 90%-head cluster costs the same as a
    uniform one — the skew-safe analogue of the map-side combine the
    codegen path gets from partial HashAggregate."""
    spark = df.sparkSession
    C = np.asarray(cents, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    dim = C.shape[1]

    part_schema = T.StructType(
        [
            T.StructField("_cl", T.IntegerType()),
            T.StructField("_n", T.LongType()),
            T.StructField("_sums", T.ArrayType(T.DoubleType())),
        ]
    )

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            d = -2.0 * (X @ C.T) + c2[None, :]
            cl = np.argmin(d, axis=1)  # first minimum = lowest index
            order = np.argsort(cl, kind="stable")
            uniq, starts = np.unique(cl[order], return_index=True)
            out_n = np.diff(np.append(starts, len(cl)))
            sums = np.add.reduceat(X[order], starts, axis=0)
            yield pd.DataFrame(
                {
                    "_cl": uniq.astype(np.int32),
                    "_n": out_n.astype(np.int64),
                    "_sums": [row.tolist() for row in sums],
                }
            )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack([np.asarray(s, dtype=np.float64) for s in pdf["_sums"]])
        return pd.DataFrame(
            {
                "_cl": [int(pdf["_cl"].iloc[0])],
                "_n": [int(pdf["_n"].sum())],
                "_sums": [mat.sum(axis=0).tolist()],
            }
        )

    partials = df.select(vec_col).mapInPandas(_partials, schema=part_schema)
    merged = partials.groupBy("_cl").applyInPandas(_merge, schema=part_schema)
    return {
        int(r["_cl"]): (int(r["_n"]), [float(x) for x in r["_sums"]])
        for r in merged.collect()
    }


# Above this many centroids the unrolled Catalyst argmin expression is
# replaced by an Arrow-batched matrix argmin: the expression tree grows
# O(k·dim) and would blow past plan/codegen limits around k≈10^3
# (SemDeDup-style k≈√n at corpus scale is 10^4-10^5), while the numpy
# path is a (batch × k) GEMM whose centroid matrix ships once per task
# in the closure. The Catalyst path is kept for small k because it is
# pure codegen (no Python worker) and bit-reproduces the DuckDB oracle's
# sequential-fold distances; the matrix path sums in pairwise order, so
# exact distance TIES could in principle break differently in the last
# ulp — fine for assignment quality, which is why the oracle-checked
# queries (k=8) stay on the expression path.
_EXPR_ARGMIN_MAX_K = 64


def kmeans_assign(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
    out: str = "cluster",
) -> DataFrame:
    """Map-side nearest-centroid assignment (no shuffle). Small k compiles
    to a whole-stage-codegen argmin expression; large k (>64) runs a
    vectorized pandas-UDF matrix argmin (see _EXPR_ARGMIN_MAX_K)."""
    if len(cents) <= _EXPR_ARGMIN_MAX_K:
        v = f"cast({vec_col} as array<double>)"
        return df.withColumn(out, F.expr(_l2_argmin_expr(v, cents)))

    C = np.asarray(cents, dtype=np.float64)  # k × dim
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def _assign(s: pd.Series) -> pd.Series:
        # NULL vectors get −1, as in the expression fold (its NULL
        # distances never replace the seed)
        out = np.full(len(s), -1, dtype=np.int32)
        valid = s.notna().to_numpy()
        if valid.any():
            X = np.stack([np.asarray(v, dtype=np.float64) for v in s[valid]])
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant per
            # row, so argmin over (-2x·c + ||c||²) suffices — np.argmin
            # takes the FIRST minimal index (the lowest-centroid tie rule)
            d = -2.0 * (X @ C.T) + c2[None, :]
            out[valid] = np.argmin(d, axis=1)
        return pd.Series(out)

    return df.withColumn(out, _assign(F.col(vec_col)))


def dbscan_points(
    pts: DataFrame,
    eps_meters: float,
    min_pts: int,
    id_col: str = "pid",
    lon7_col: str = "lon7",
    lat7_col: str = "lat7",
    lat_max: float = 70.0,
    max_iter: int = 50,
) -> DataFrame:
    """Distributed DBSCAN (Ester et al., KDD'96) over fixed-point
    geographic points — density clustering for stay regions, venue
    discovery, and hot-zone extraction.

    Decomposes into three primitives that each scale independently:

    1. ε-neighbor pairs via the PBSM neighbor-cell replication join
       (:func:`oshdb_spark.geo.spatial_join.distance_join`) — every pair
       within ``eps_meters`` by the reference equirectangular metric
       meets in exactly one grid cell, one hash equi-join, no dedup;
    2. core points = ε-degree ≥ ``min_pts`` − 1 (the classic count
       includes the point itself) — one partial+final count aggregate;
    3. clusters = connected components of the core-core ε-graph
       (alternating large-star/small-star, O(log n) shuffle rounds);
       border points (non-core with ≥ 1 core ε-neighbor) attach to the
       MINIMUM core-neighbor label; everything else is noise (omitted).

    Labels are component-minimum core ids — deterministic, independent
    of partitioning and row order (exact integer degree counts, min-fold
    label propagation, min-fold border attachment). Returns
    ``(id_col, cluster, is_core)`` for core and border points.

    At 100 TB the cost is dominated by the pair join, which is bounded
    by the ε-ball point density (inherent to exact DBSCAN), not by n²;
    the CC rounds move core-core EDGES only, and the border attachment
    is one more aggregate over the already-materialized pair list."""
    from ..geo.spatial_join import distance_join
    from .graph import connected_components

    base = pts.select(
        F.col(id_col).alias("_pid"), F.col(lon7_col), F.col(lat7_col)
    )
    pairs = (
        distance_join(
            base,
            base.withColumnRenamed("_pid", "_qid"),
            eps_meters,
            lon7_col=lon7_col,
            lat7_col=lat7_col,
            lat_max=lat_max,
        )
        .filter(F.col("_pid") != F.col("_qid"))
        .select("_pid", "_qid")
    )
    # the ε-graph is consumed three times (degrees, core-core edges,
    # border attachment) — keep it materialized once
    pairs = pairs.localCheckpoint()
    core = (
        pairs.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_nn"))
        .filter(F.col("_nn") >= int(min_pts) - 1)
        .select("_pid")
    )
    core_edges = pairs.join(core, "_pid").join(
        core.withColumnRenamed("_pid", "_qid"), "_qid"
    )
    cc = connected_components(
        core_edges, src="_pid", dst="_qid", max_iter=max_iter
    )
    # cores with no core ε-neighbor are singleton clusters of themselves
    isolated = core.join(
        cc.select(F.col("node").alias("_pid")), "_pid", "left_anti"
    ).select(F.col("_pid"), F.col("_pid").alias("cluster"))
    core_labels = cc.select(
        F.col("node").alias("_pid"), F.col("component").alias("cluster")
    ).union(isolated)
    border = (
        pairs.join(core, "_pid", "left_anti")
        .join(
            core_labels.withColumnRenamed("_pid", "_qid"), "_qid"
        )
        .groupBy("_pid")
        .agg(F.min("cluster").alias("cluster"))
    )
    return core_labels.withColumn("is_core", F.lit(1)).union(
        border.withColumn("is_core", F.lit(0))
    ).withColumnRenamed("_pid", id_col)
