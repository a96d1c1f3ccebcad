"""1-D k-means — the reference's Hadoop-MR clustering workload
(K-means/src/main/java/wc/CountFollowers.java) re-expressed Spark-first.

Semantics reproduced (behavior studied, no code taken):
- centroid seeding: c_j = max/k · j for j = 1..k
  (createGoodCentroids, K-means/.../CountFollowers.java:224-236).
- assignment: nearest centroid by absolute distance
  (euclideanDistance, :272-274), ties → lowest centroid id.
- update: cluster mean. The reference truncates the mean to a long
  (:130-131, `(long) average`); we compute the true floating mean by
  default with ``compat_truncate`` for exact parity.
- loop: ≤ ``max_iter`` iterations or centroid-list stability (:177-200).
- SSE: Σ (centroid − x)² per cluster (:133-140), computed as a metric.

Scale design: k is tiny, data is huge — so centroids travel INTO the
plan as literals (the Spark-native form of the reference's
distributed-cache centroid file, :73-89), assignment is a pure
whole-stage-codegen expression (array_min over (distance, cid) structs —
no UDF, no crossJoin shuffle), and the per-iteration reduction is one
groupBy over k groups. Points are pre-aggregated to (value, weight)
pairs — at 100 TB the distinct-value table is orders of magnitude
smaller than the row count, and the weighted mean is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import state_width
from ..sources.io import from_rows, to_driver

_SCHEMA = "cluster_id long, centroid double, n_points long"


def seed_centroids(mx: float, k: int) -> list[float]:
    """Evenly spaced seeds: max/k · j (K-means/.../CountFollowers.java:224-236)."""
    first = mx / k
    return [first * j for j in range(1, k + 1)]


def _assign_expr(centroids: dict[int, float]) -> F.Column:
    """argmin over literal (cid → centroid) pairs: array_min of
    (|x−c|, cid) structs — lexicographic struct ordering gives the
    lowest-cid tiebreak. Centroids travel as a dict so cluster ids stay
    STABLE when a cluster loses all members and vanishes (a positional
    list silently re-numbers the survivors — a real bug caught by the
    follower-count oracle)."""
    pairs = [
        F.struct(
            F.abs(F.col("x") - F.lit(float(c))).alias("d"),
            F.lit(cid).cast("long").alias("cid"),
        )
        for cid, c in sorted(centroids.items())
    ]
    return F.array_min(F.array(*pairs))["cid"]


def kmeans_1d(
    points: DataFrame,
    value_col: str,
    k: int = 4,
    max_iter: int = 10,
    fixed_iterations: int | None = None,
    compat_truncate: bool = False,
) -> DataFrame:
    """Cluster a 1-D column; returns (cluster_id, centroid, n_points).

    ``fixed_iterations`` disables the convergence test and runs exactly
    that many assign+update rounds (used by the SQL-oracle query, which
    unrolls the same rounds). Otherwise: stop early when the centroid
    list is exactly stable, like the reference's file comparison
    (K-means/.../CountFollowers.java:192-197).

    A distinct-value table of at most ``io.DRIVER_STATE_CAP`` rows
    finishes on the driver: one bounded read, then the same rounds in
    numpy (argmin with the lowest-cid tie-break over the same stable
    cluster ids), returned as a local table. Both paths return the same
    schema and result (exactly, whenever the weighted sums are exact —
    integer values such as follower counts); only larger tables run the
    distributed rounds.
    """
    weighted = (
        points.select(F.col(value_col).cast("double").alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rounds = fixed_iterations if fixed_iterations is not None else max_iter
    # the bounded read loads the cache (a cached partition is stored
    # whole, however few of its rows the limit takes), so above the cap
    # the distinct-value aggregate is not run a second time
    local = to_driver(weighted)
    if local is not None:
        weighted.unpersist()
        rows = _kmeans_local(
            local, k, rounds, fixed_iterations is None, compat_truncate
        )
        return from_rows(points.sparkSession, rows, _SCHEMA)
    # one job over the cache reads the seed's max and the table size
    mx, n = weighted.agg(F.max("x"), F.count(F.lit(1))).first()
    centroids = {j + 1: c for j, c in enumerate(seed_centroids(mx, k))}
    # Size the round scans to the distinct-value table: at fixture scale
    # one partition, so every round's k-group aggregate and the final one
    # plan with no Exchange — plan-local, where a scoped shuffle-width
    # conf would flip the shared session. Not a fixed 1: the distinct
    # table grows with scale (kmeans_centroids clusters o_totalprice).
    table = weighted.coalesce(state_width(n))

    for _ in range(rounds):
        updated = (
            table.select("x", "w", _assign_expr(centroids).alias("cid"))
            .groupBy("cid")
            .agg((F.sum(F.col("x") * F.col("w")) / F.sum("w")).alias("c"))
            .collect()
        )
        new_centroids = {
            int(r["cid"]): (
                float(r["c"]) if not compat_truncate else float(int(r["c"]))
            )
            for r in updated
        }
        if fixed_iterations is None and new_centroids == centroids:
            break
        centroids = new_centroids

    # the final assignment is k rows too: read it while the table is
    # cached and hand back a local table, instead of a lazy plan whose
    # action would rebuild the unpersisted distinct-value table
    sizes = (
        table.select("w", _assign_expr(centroids).alias("cid"))
        .groupBy("cid")
        .agg(F.sum("w").alias("n_points"))
        .collect()
    )
    weighted.unpersist()
    return from_rows(
        points.sparkSession,
        [(cid, centroids[cid], n) for cid, n in sizes],
        _SCHEMA,
    )


def _kmeans_local(local, k, rounds, converge, compat_truncate) -> list[tuple]:
    """:func:`kmeans_1d`'s rounds over a driver-side (x, w) table. A NULL
    x joins the lowest cid (its distance struct ties every centroid) and
    adds its weight to that cluster's count but nothing to its sum, as
    Spark's ``sum`` skips the NULL product. A round whose cluster holds
    only NULLs has no mean for it and raises ``TypeError``, as the
    distributed round does on its NULL centroid."""
    import numpy as np

    xcol = local.column("x")
    null = xcol.is_null().to_numpy(zero_copy_only=False)
    x = xcol.fill_null(0.0).to_numpy()
    w = local.column("w").to_numpy().astype(np.float64)
    xw = np.where(null, 0.0, x * w)
    mx = float(x[~null].max()) if (~null).any() else None
    centroids = {j + 1: c for j, c in enumerate(seed_centroids(mx, k))}

    def assign(cents):
        """(cid of each cluster that has members, member weight, weighted
        sum of x) — argmin takes the first of tied distances, and the
        cids are sorted, so ties go to the lowest cid."""
        cids = sorted(cents)
        dist = np.abs(x[:, None] - np.array([cents[c] for c in cids]))
        at = dist.argmin(axis=1)
        at[null] = 0
        hit = np.flatnonzero(np.bincount(at, minlength=len(cids)))
        den = np.bincount(at, weights=w, minlength=len(cids))
        num = np.bincount(at, weights=xw, minlength=len(cids))
        known = np.bincount(at[~null], minlength=len(cids))
        return [(cids[j], den[j], num[j], known[j] > 0) for j in hit]

    def mean(cid, n, s, known):
        if not known:
            raise TypeError(f"k-means cluster {cid} holds only NULL values")
        return float(s / n)

    for _ in range(rounds):
        new = {cid: mean(cid, *rest) for cid, *rest in assign(centroids)}
        if compat_truncate:
            new = {cid: float(int(c)) for cid, c in new.items()}
        if converge and new == centroids:
            break
        centroids = new
    return [(cid, centroids[cid], int(n)) for cid, n, _, _ in assign(centroids)]


def kmeans_sse(points: DataFrame, value_col: str, centroids: list[float]) -> float:
    """Σ (centroid_assigned − x)² — the reference's SSE counter
    (K-means/.../CountFollowers.java:133-140) as a one-pass aggregate."""
    df = points.select(F.col(value_col).cast("double").alias("x"))
    pairs = [
        F.struct(
            F.abs(F.col("x") - F.lit(float(c))).alias("d"),
            F.lit(float(c)).alias("c"),
        )
        for c in centroids
    ]
    nearest = F.array_min(F.array(*pairs))["c"]
    return df.agg(F.sum(F.pow(nearest - F.col("x"), F.lit(2)))).first()[0]
