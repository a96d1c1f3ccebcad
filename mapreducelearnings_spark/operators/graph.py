"""Graph algorithm layer: PageRank, SSSP, triangle counting — the
reference's signature iterative capability (SURVEY.md §2.8), expressed
as DataFrame loop bodies under the :mod:`..plans.iterate` runner.

Reference parity cites (behavior studied, no code taken):
- chain-graph generator + PageRank w/ dummy-vertex dangling mass:
  PageRankRDD/src/main/scala/wc/FollowerCount.scala:33-70, run as
  ``pagerank_standard`` at damping 1 (vertex 0 pinned to rank 0; the DF
  twin PageRankDataSet:70's when/otherwise quirk that also credits
  vertex 0 is ``pagerank_chain(credit_dummy=True)``, SURVEY.md §4
  item 2).
- SSSP (parallel BFS with min-relaxation):
  SingleSourceShortestPathRDD/src/main/scala/wc/FollowerCount.scala:36-51.
- triangle counting, shuffle and broadcast variants:
  ReduceSideJoin/src/main/java/wc/CountFollowers.java:79-164;
  RepJoin/src/main/java/wc/CountFollowers.java:92-122 (count/3 at :119).

An input within ``io.DRIVER_STATE_CAP`` rows is read once and finished
on the driver in numpy (see the section below). For the triangle counts
that read happens at call time, so under the cap they are eager, and
``triangle_count``'s ``broadcast_probe`` only picks the join plan that
runs above the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import iterate, loop_conf, loop_width
from ..sources import io
from ..sources.io import from_columns, from_rows, to_driver

INF = float("inf")

# ---------------------------------------------------------------------------
# Driver-side finish for small graphs: pagerank_standard, sssp,
# connected_components and the triangle counts read an edge list of at
# most io.DRIVER_STATE_CAP rows once (io.to_driver) and finish in numpy.
# A bare parquet scan is read from its files with no Spark job, and above
# the cap it is not read at all (its footers count the rows). The Spark
# jobs of the distributed plans are almost all driver overhead at that
# size (PERFORMANCE.md lessons 29, 32 and 33); above the cap the
# distributed plan is the only path.
# ---------------------------------------------------------------------------


def _vertex_field(edges: DataFrame) -> T.StructField:
    """The distributed path's ``vertex`` field: the src ∪ dst union's
    widened type and nullability. Columns of one type need no union
    analysis (0.035–0.09 s a call, PERFORMANCE.md lesson 32): the union
    keeps the type, and a column of it is nullable if either side is."""
    s, d = edges.schema["src"], edges.schema["dst"]
    if s.dataType == d.dataType:
        return T.StructField("vertex", s.dataType, s.nullable or d.nullable)
    return (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .schema["vertex"]
    )


def _dense_ids(src, dst):
    """(ids, si, di) of two Arrow columns of one type: ``ids`` the sorted
    distinct non-NULL endpoints, ``si``/``di`` each edge's endpoint
    positions in ``ids`` (−1 for NULL)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    both = pa.chunked_array(src.chunks + dst.chunks, type=src.type)
    ids = pc.unique(both.drop_null())
    ids = ids.take(pc.sort_indices(ids))

    def pos(col):
        return pc.index_in(col, value_set=ids).fill_null(-1).to_numpy()

    return ids, pos(src), pos(dst)


def _driver_graph(edges: DataFrame, drop_null_dst: bool = False):
    """An edge list within the cap, read once and densely indexed:
    (field, ids, si, di, has_null), else ``None``. ``field`` is
    :func:`_vertex_field`, ``ids``/``si``/``di`` are :func:`_dense_ids`
    of the endpoints cast to its type, and ``has_null`` whether a NULL
    endpoint exists — the distributed union keeps NULL as one vertex
    that no equi-join reaches. ``drop_null_dst`` drops the rows with a
    NULL dst after the read, so a bare scan keeps its file read; the
    field is the same as the filtered plan's, since a filter keeps its
    input's columns."""
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    local = to_driver(edges.select("src", "dst"))
    if local is None:
        return None
    if drop_null_dst:
        local = local.filter(pc.is_valid(local.column("dst")))
    field = _vertex_field(edges)
    at = to_arrow_type(field.dataType)
    src, dst = local.column("src").cast(at), local.column("dst").cast(at)
    ids, si, di = _dense_ids(src, dst)
    return field, ids, si, di, src.null_count + dst.null_count > 0


def _local_result(spark, graph, values, value_field: T.StructField) -> DataFrame:
    """(vertex, value) local table over ``graph``'s ids; ``values`` has
    one more entry, last, for the NULL vertex if there is one."""
    import pyarrow as pa

    field, ids, _, _, has_null = graph
    if has_null:
        ids = pa.concat_arrays([ids, pa.nulls(1, ids.type)])
    return from_columns(spark, [ids, values], T.StructType([field, value_field]))


# ---------------------------------------------------------------------------
# Synthetic chain graph (distributed — the reference builds it in a
# driver-side Map, capping k; spark.range scales to any k) and the
# reference's PageRank over it.
# ---------------------------------------------------------------------------


def chain_graph(spark: SparkSession, k: int) -> DataFrame:
    """Edges (src, dst) of k linear chains of k vertices (ids 1..k²);
    chain tails link to the dangling dummy vertex 0
    (PageRankRDD/.../FollowerCount.scala:33-50)."""
    if k < 1:
        raise ValueError(f"a chain graph needs k >= 1, got k={k}")
    verts = spark.range(1, k * k + 1).select(F.col("id").alias("v"))
    return verts.select(
        F.col("v").alias("src"),
        F.when(F.col("v") % k == 0, F.lit(0)).otherwise(F.col("v") + 1).alias("dst"),
    )


def pagerank_chain(
    spark: SparkSession,
    k: int = 100,
    iterations: int = 10,
    credit_dummy: bool = False,
) -> DataFrame:
    """PageRank on :func:`chain_graph` with the reference's no-damping,
    dummy-vertex dangling-mass semantics
    (PageRankRDD/.../FollowerCount.scala:58-70): each iteration the
    chain tails' rank flows to vertex 0, which spreads it as delta/k²
    over the real vertices and is pinned to rank 0.

    That is :func:`pagerank_standard` at damping 1 on the edges inside
    the chains: the tails are its dangling vertices and its NULL sink
    stands in for vertex 0, whose row is appended. ``loop_partitions``
    follows the state size (:func:`..plans.iterate.loop_width`).

    ``credit_dummy=True`` reproduces the DF variant's operator-precedence
    quirk (PageRankDataSet/.../FollowerCount.scala:70): the
    ``when(vertex===0, 0).otherwise(rank) + delta/N`` there binds the
    ``+`` outside the when/otherwise, so vertex 0 is credited the last
    delta/N like everyone else: the rank of vertex 1, a chain head that
    receives only that share (the mass leaks, and ranks no longer sum
    to 1). Default False = the RDD variant's pin to 0 (SURVEY.md §4
    item 2).
    """
    edges = chain_graph(spark, k)
    if k == 1:  # no edge inside the chain: the lone vertex keeps its rank
        ranks = from_rows(spark, [(1, 1.0)], "vertex long, rank double not null")
    else:
        ranks = pagerank_standard(
            spark, edges.where(F.col("dst") != 0), iterations, damping=1.0,
            loop_partitions=loop_width(k * k),
        )
    # vertex 0's row, from vertex 1's; a CASE with no ELSE keeps the
    # reference's nullable vertex column
    zero = F.when(F.col("vertex") == 1, F.lit(0).cast("long"))
    dummy = F.col("rank") if credit_dummy and iterations > 0 else F.lit(0.0)
    return ranks.unionByName(
        ranks.where(F.col("vertex") == 1).select(
            zero.alias("vertex"), dummy.alias("rank")
        )
    )


# ---------------------------------------------------------------------------
# Single-source shortest path (parallel BFS, min-relaxation)
# ---------------------------------------------------------------------------


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source,
    max_iter: int = 64,
    loop_partitions: int | None = 4,
) -> DataFrame:
    """Unweighted SSSP: hop distance from ``source``; unreachable stays
    +inf (SingleSourceShortestPathRDD/.../FollowerCount.scala:29,36-51).

    Loop body: relax every edge whose tail has a finite distance
    (join → project dist+1), take the per-vertex min of old and relaxed
    distances, stop when no distance changed (diff-count join — the
    reference's convergence test, :42-44).

    ``loop_partitions`` defaults to the state-sized width 4 (r15 — see
    :func:`..plans.iterate.loop_width`: 8→4 measured 0.84×/0.87× on the
    two sssp entries, width 2 regressed the path unroll); big-graph callers
    pass their own ∝|V| width or None to inherit the session's.

    An edge list of at most ``io.DRIVER_STATE_CAP`` rows finishes on the
    driver: one bounded read, then a level-synchronous BFS bounded by
    ``max_iter`` in numpy, returned as a local table. Both paths return
    the same schema and the same distances (hop counts are exact in
    either); only graphs above the cap run the distributed loop.
    """
    graph = _driver_graph(edges)
    if graph is not None:
        return _sssp_local(spark, graph, source, max_iter)

    # Every per-iteration join hints shuffle_hash on its loop-state side.
    # Both sides are already hash-partitioned on the key at the loop
    # width, so the hinted join plans with no exchange; without the hint
    # the k-row state falls under autoBroadcastJoinThreshold (AQE is off
    # in the loop) and each join becomes a BroadcastExchange — one extra
    # Spark job per join per iteration (the hints alone took SSSP from 20
    # to 9 jobs per call and collect on the 5k-vertex follower graph,
    # pagerank_standard from 37 to 17).
    def step(dist: DataFrame, _i: int) -> DataFrame:
        d = dist.hint("shuffle_hash")
        # one shuffle per iteration: only the relaxed candidates are
        # regrouped (min over in-edges), then folded onto the
        # co-partitioned state; least() skips the NULL of a vertex with
        # no finite in-neighbour
        relaxed = (
            edges.join(d, edges.src == d.vertex)
            .where(F.col("dist") != INF)
            .groupBy(edges.dst.alias("vertex"))
            .agg(F.min(F.col("dist") + 1).alias("rd"))
        )
        return dist.join(relaxed.hint("shuffle_hash"), "vertex", "left").select(
            "vertex", F.least("dist", "rd").alias("dist")
        )

    def converged(old: DataFrame, new: DataFrame) -> bool:
        changed = (
            new.alias("n")
            .join(old.alias("o").hint("shuffle_hash"), "vertex")
            .where(F.col("n.dist") != F.col("o.dist"))
            .count()
        )
        return changed == 0

    # the setup runs in the scope too: persist() plans the cached tree at
    # call time, and under the session's AQE each of its exchanges would
    # run as a job of its own
    with loop_conf(spark, loop_partitions):
        # co-partition the loop-invariant edge list AND the distance
        # state on the join key at loop width (same rationale as
        # pagerank_standard)
        if loop_partitions:
            edges = edges.repartition(loop_partitions, "src")
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        vertices = edges.select(F.col("src").alias("vertex")).unionByName(
            edges.select(F.col("dst").alias("vertex"))
        )
        if loop_partitions:
            vertices = vertices.repartition(loop_partitions, "vertex")
        vertices = vertices.distinct().persist(StorageLevel.MEMORY_AND_DISK)
        start = F.when(F.col("vertex") == source, 0.0).otherwise(F.lit(INF))
        dist0 = vertices.select("vertex", start.alias("dist"))
        # check_every=2 (r14): min-relax is a monotone fixpoint, so a
        # late convergence check returns the identical distance table —
        # it only halves the per-iteration diff-count control jobs
        # (each a full job of scheduling overhead on this k-row state)
        # at the cost of at most one no-op extra step.
        out = iterate(
            dist0, step, converged=converged, max_iter=max_iter, check_every=2
        )
    edges.unpersist()
    vertices.unpersist()
    return out


def _sssp_local(spark, graph, source, max_iter):
    """:func:`sssp` on a driver-side graph. Synchronous min-relaxation
    leaves d(v) = BFS depth when it is at most the number of steps run,
    so a BFS cut at ``max_iter`` levels is the distributed fixpoint
    (or its state when ``max_iter`` runs out first)."""
    import numpy as np
    import pyarrow.compute as pc

    _, ids, si, di, has_null = graph
    live = (si >= 0) & (di >= 0)  # a NULL endpoint joins nothing
    s, d = si[live], di[live]
    dist = np.full(len(ids) + has_null, INF)
    at = pc.index(ids, source).as_py()
    if at >= 0:
        dist[at] = 0.0
        frontier = np.zeros(len(dist), dtype=bool)
        frontier[at] = True
        for level in range(1, max_iter + 1):
            reached = np.zeros(len(dist), dtype=bool)
            reached[d[frontier[s]]] = True
            frontier = reached & (dist == INF)
            if not frontier.any():
                break
            dist[frontier] = float(level)
    return _local_result(
        spark, graph, dist, T.StructField("dist", T.DoubleType(), False)
    )


# ---------------------------------------------------------------------------
# Triangle counting (directed 3-cycles / 3, per the reference)
# ---------------------------------------------------------------------------


#: Wedges the driver kernel expands per step: the driver holds a fixed
#: amount of wedge state whatever the graph's shape.
_WEDGE_CHUNK = 1 << 18


def _triangle_counts(edges: DataFrame):
    """(cycles, loop_walks) of an edge list within the cap, read once;
    ``None`` above it. ``cycles`` is :func:`triangle_count_ordered`'s
    count and ``cycles + loop_walks div 3`` is :func:`triangle_count`'s.

    Both plans count edge-row triples, so duplicate edges count with
    their multiplicity m(u, v), and a NULL endpoint joins nothing (it
    still adds to the other endpoint's degree, as in the ordered plan's
    degree table). Ids of any atomic type compare as the joins compare
    them: -0.0 equals 0.0, NaN equals NaN, and columns of two types
    compare as their widened type (only that case pays
    :func:`_vertex_field`'s analysis). The kernel replays the ordered
    plan on the distinct edges: rank(v) = (degree(v), v); edge u→v is
    an anchor→b edge when v out-ranks u, else (self-loops too) a
    c→anchor edge of anchor v; each anchor's wedges (anchor→b, c→anchor)
    close on the edge b→c. That counts every 3-cycle of distinct
    vertices once and every 2-cycle u⇄v once per self-loop on u or v.
    The plain plan counts each of those three times (once per starting
    edge) and, beyond them, the pure self-loop walks v→v→v→v:
    loop_walks = Σ m(v, v)³.
    Wedges are expanded ``_WEDGE_CHUNK`` at a time; the degree order
    bounds them by O(|E|^1.5), so a hub costs no more than its edges."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    local = to_driver(edges.select("src", "dst"))
    if local is None:
        return None
    src, dst = local.column("src"), local.column("dst")
    if src.type != dst.type:  # the joins compare the widened type
        at = to_arrow_type(_vertex_field(edges).dataType)
        src, dst = src.cast(at), dst.cast(at)
    if pa.types.is_floating(src.type):  # joins equate -0.0 and 0.0
        src, dst = pc.add(src, 0.0), pc.add(dst, 0.0)
    ids, s, d = _dense_ids(src, dst)
    s, d, n = s.astype(np.int64), d.astype(np.int64), len(ids)
    deg = np.bincount(np.concatenate([s, d]) + 1, minlength=n + 1)[1:]
    rank = np.empty(n, np.int64)
    rank[np.argsort(deg, kind="stable")] = np.arange(n)  # ties: ids ascend
    both = (s >= 0) & (d >= 0)
    keys, mult = np.unique(s[both] * n + d[both], return_counts=True)
    u, v = np.divmod(keys, n)
    loop_walks = int(np.sum(mult[u == v] ** 3))

    up = rank[v] > rank[u]
    ab_anchor, ab_b, ab_m = u[up], v[up], mult[up]  # already sorted by u
    order = np.argsort(v[~up], kind="stable")
    ca_anchor, ca_c, ca_m = v[~up][order], u[~up][order], mult[~up][order]
    na = np.bincount(ab_anchor, minlength=n)
    nc = np.bincount(ca_anchor, minlength=n)
    ab_start = np.cumsum(na) - na
    ca_start = np.cumsum(nc) - nc
    offsets = np.concatenate([[0], np.cumsum(na * nc)])
    cycles = 0
    for lo in range(0, int(offsets[-1]), _WEDGE_CHUNK):
        wid = np.arange(lo, min(lo + _WEDGE_CHUNK, offsets[-1]))
        x = np.searchsorted(offsets, wid, side="right") - 1
        i, j = np.divmod(wid - offsets[x], nc[x])
        ai, ci = ab_start[x] + i, ca_start[x] + j
        close = ab_b[ai] * n + ca_c[ci]
        pos = np.minimum(np.searchsorted(keys, close), len(keys) - 1)
        hit = keys[pos] == close
        cycles += int(np.sum(ab_m[ai][hit] * ca_m[ci][hit] * mult[pos[hit]]))
    return cycles, loop_walks


def _count_table(spark, count: int, nullable: bool) -> DataFrame:
    """The one-row ``triangles`` local table of a driver-path count."""
    field = T.StructField("triangles", T.LongType(), nullable)
    return from_rows(spark, [(count,)], T.StructType([field]))


def triangle_count(edges: DataFrame, broadcast_probe: bool = False) -> DataFrame:
    """Count directed 3-cycles and divide by 3 — each cycle is found once
    per starting vertex (RepJoin/.../CountFollowers.java:119 divides by 3;
    ReduceSideJoin runs the same two-join plan shuffle-side).

    An edge list within ``io.DRIVER_STATE_CAP`` rows is read once at
    call time and counted on the driver in numpy
    (:func:`_triangle_counts`); the result is a one-row local table with
    the join plan's schema, so under the cap the call is eager. Above
    the cap the join plan below runs, and ``broadcast_probe`` picks it:
    True replicates the closing edge set to every task (RepJoin's
    distributed-cache hash map); False lets the joins shuffle
    (ReduceSideJoin). Same result, two physical strategies — the
    reference's own cross-implementation test oracle (SURVEY.md §5).
    Every edge row counts, so input with duplicates or self-loops counts
    closed walks, not triangles: deduplicate and drop self-loops first.
    """
    counts = _triangle_counts(edges)
    if counts is not None:
        cycles, loop_walks = counts
        return _count_table(edges.sparkSession, cycles + loop_walks // 3, True)
    a, b, c = edges.alias("a"), edges.alias("b"), edges.alias("c")
    if broadcast_probe:
        b, c = F.broadcast(b), F.broadcast(c)
    cycles = a.join(b, F.col("a.dst") == F.col("b.src")).join(
        c, (F.col("b.dst") == F.col("c.src")) & (F.col("c.dst") == F.col("a.src"))
    )
    return cycles.agg(F.expr("count(1) div 3").alias("triangles"))


def triangle_count_ordered(edges: DataFrame) -> DataFrame:
    """Directed 3-cycle count via degree-ordered anchoring — same result
    as :func:`triangle_count` (cross-implementation equality tested), but
    skew-safe at scale.

    The plain plan's ``a.dst == b.src`` wedge join is quadratic in hub
    degree on power-law graphs; the reference only survives hubs through
    its id caps (RepJoin/.../CountFollowers.java:55,90). Here every cycle
    ``a→b→c→a`` is counted exactly once, anchored at its MINIMUM vertex
    under the total order ``rank(v) = (degree(v), v)``: wedges are pairs
    (anchor→b, c→anchor) where BOTH b and c out-rank the anchor. A
    vertex's effective wedge fan-out therefore counts only higher-degree
    neighbours, which is O(sqrt(|E|)) for any vertex — hubs anchor no
    wedges at all — giving the classic O(|E|^1.5) bound with no per-key
    blowup, and no /3 correction (each cycle has one minimum).

    Two shuffles on vertex keys (degree agg + wedge join) plus one
    two-column equi-join to close the wedge; degree table joins are
    broadcast-eligible when small. The ``edges`` input appears in four
    subtrees (degree union ×2, annotation, closing edge set) — AQE's
    runtime exchange reuse dedupes the repeated derivations (measured:
    7 ReusedExchange in the adaptive plan at sf0.01), so callers need
    not pre-materialize; persist ``edges`` anyway when it is itself an
    expensive derivation and AQE is off.

    Under ``io.DRIVER_STATE_CAP`` the same anchoring runs on the driver
    (:func:`_triangle_counts`), eagerly, into a one-row local table with
    this plan's schema. It differs from :func:`triangle_count` only on
    self-loops: the pure self-loop walks v→v→v→v are never anchored.
    """
    counts = _triangle_counts(edges)
    if counts is not None:
        return _count_table(edges.sparkSession, counts[0], False)
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    def annotate(e: DataFrame) -> DataFrame:
        return (
            e.join(deg.withColumnRenamed("v", "src"), "src")
            .withColumnRenamed("deg", "sdeg")
            .join(deg.withColumnRenamed("v", "dst"), "dst")
            .withColumnRenamed("deg", "ddeg")
        )

    ann = annotate(edges)
    outranks_src = (F.col("ddeg") > F.col("sdeg")) | (
        (F.col("ddeg") == F.col("sdeg")) & (F.col("dst") > F.col("src"))
    )
    # anchor→b edges (b out-ranks anchor) and c→anchor edges (c out-ranks
    # anchor); the wedge join key is the anchor — the low-rank vertex.
    ab = ann.where(outranks_src).select(
        F.col("src").alias("anchor"), F.col("dst").alias("b")
    )
    ca = ann.where(~outranks_src).select(
        F.col("dst").alias("anchor"), F.col("src").alias("c")
    )
    wedges = ab.join(ca, "anchor")
    closing = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("triangles")
    )


# ---------------------------------------------------------------------------
# SSSP with path reconstruction (ShortestPathMR parity)
# ---------------------------------------------------------------------------


def sssp_with_paths(
    spark: SparkSession,
    edges: DataFrame,
    source,
    max_iter: int = 64,
    loop_partitions: int | None = 4,
) -> DataFrame:
    """SSSP distances + one canonical shortest path per reachable vertex
    (vertex, dist, path) — the capability of ShortestPathMR's
    predecessor-string tracking (ShortestPathMR/src/main/java/wc/
    CountFollowers.java:81-112), with a cleaner deterministic spec:

    the path is taken through the MIN-PREDECESSOR tree — pred(v) is the
    smallest vertex u with an edge u→v and dist(u) = dist(v) − 1. This
    pins tie-breaking among equal-length paths (the reference's outcome
    depends on reducer iteration order), making the result reproducible
    and oracle-checkable. Cost: the distance fixpoint, one join to build
    the predecessor forest, then depth-many tiny joins to unroll paths —
    all linear in |V| + |E|.
    """
    # checkpointed, not persisted: every unroll join below would
    # otherwise re-plan and cache-match sssp's whole loop lineage (above
    # the cap 35–43 s → 6.6–7.3 s on the 50k-edge follower graph, 4 vCPUs)
    dist = sssp(spark, edges, source, max_iter, loop_partitions).localCheckpoint(
        eager=True
    )
    reach = dist.where(F.col("dist") != INF)
    dsrc = reach.select(
        F.col("vertex").alias("p_src"), F.col("dist").alias("d_src")
    )
    ddst = reach.select(
        F.col("vertex").alias("p_dst"), F.col("dist").alias("d_dst")
    )
    pred = (
        edges.join(dsrc, edges.src == dsrc.p_src)
        .join(ddst, edges.dst == ddst.p_dst)
        .where(F.col("d_src") == F.col("d_dst") - 1)
        .groupBy(F.col("dst").alias("vertex"))
        .agg(F.min("src").alias("pred"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    max_d = reach.agg(F.max("dist")).first()[0] or 0.0

    paths = reach.where(F.col("vertex") == source).select(
        "vertex", "dist", F.array(F.col("vertex")).alias("path")
    )
    frontier, persisted = paths, [pred]
    # pure-lazy unroll: depth is bounded by max_d (small for real graphs'
    # diameters), frontiers persist lazily, and the whole forest
    # materializes in ONE job — no per-depth checkpoint/isEmpty
    # round-trips. It runs at the session's own width: a scoped loop
    # conf measured a wash here (see plans.iterate.loop_conf).
    for _d in range(int(max_d)):
        nxt = (
            pred.join(
                frontier.select(
                    F.col("vertex").alias("pred"), F.col("path").alias("ppath")
                ),
                "pred",
            )
            .join(reach, "vertex")
            .select(
                "vertex",
                "dist",
                F.concat(F.col("ppath"), F.array(F.col("vertex"))).alias("path"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        paths = paths.unionByName(nxt)
        frontier = nxt
        persisted.append(nxt)
    out = paths.localCheckpoint(eager=True)
    # the checkpoint holds the forest: release pred and every frontier,
    # or a repeated call cache-matches the stale frames
    for df in persisted:
        df.unpersist()
    return out


# ---------------------------------------------------------------------------
# Connected components (two-phase distributed union-find)
# ---------------------------------------------------------------------------


# Diagnostics from the most recent connected_components call (driver-side
# observability for tests and ops: how big was the residual the driver
# finish actually read, and how many extra/star rounds fired).
CC_LAST_STATS: dict[str, int] = {}


def _forest_contract(edges: DataFrame) -> DataFrame:
    """One distributed contraction pass: per-partition UNION-FIND over
    the edge stream (Arrow batches via mapInPandas), emitting the local
    spanning forest (vertex → min vertex of its local tree). The union
    of the per-partition forests preserves exact connectivity: a vertex
    whose edges land in several partitions appears in several local
    trees and bridges them."""
    import pandas as pd

    def uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["src"].values, pdf["dst"].values):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    # union-by-MIN, not by rank: the root must stay the
                    # smallest id so component = min vertex id exactly
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            verts = list(parent)
            yield pd.DataFrame(
                {"src": verts, "dst": [find(v) for v in verts]}
            )

    return edges.mapInPandas(uf, "src long, dst long")


def _root_graph(forest: DataFrame) -> DataFrame:
    """Edges among local roots: a vertex with k>1 local roots bridges
    them — emit (min_root, other_root) per extra root. Size is bounded
    by the number of partition-boundary vertices, orders of magnitude
    below |V|."""
    return (
        forest.groupBy("src")
        .agg(
            F.min("dst").alias("r0"),
            F.collect_set("dst").alias("rs"),
        )
        .select(F.col("r0").alias("src"), F.explode("rs").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


_CC_SCHEMA = T.StructType(
    [T.StructField("vertex", T.LongType()), T.StructField("component", T.LongType())]
)


def _components_local(spark, local) -> DataFrame:
    """(vertex, component) local table of a driver-side edge table: every
    endpoint of a row without a NULL, labelled with the smallest id of
    its component. Each round hooks every root onto the smallest root
    across its edges, then pointer-jumps until every vertex points at
    its root. Over :func:`_dense_ids` positions the smallest position is
    the smallest id, and a parent is never above its child, so a
    component's root is its minimum."""
    import numpy as np
    import pyarrow as pa

    local = local.drop_null()  # a NULL endpoint adds no vertex, no link
    ids, s, d = _dense_ids(
        local.column("src").cast(pa.int64()), local.column("dst").cast(pa.int64())
    )
    parent = np.arange(len(ids))
    while True:
        while not np.array_equal(up := parent[parent], parent):
            parent = up
        ps, pd = parent[s], parent[d]
        if np.array_equal(ps, pd):
            break
        np.minimum.at(parent, np.maximum(ps, pd), np.minimum(ps, pd))
    return from_columns(spark, [ids, ids.take(parent)], _CC_SCHEMA)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 8,
    loop_partitions: int | None = 8,
    driver_edge_cap: int | None = None,
    star_budget: int = 12,
    label_partitions: int | None = 4,
) -> DataFrame:
    """Undirected connected components — the SURVEY.md §2.11 near-dedup
    clustering step (candidate PAIRS become duplicate CLUSTERS).

    Two-phase distributed union-find, NOT a min-label fixpoint loop
    (O(diameter) shuffle rounds; measured 33 s on a 1 k-vertex sf0.1
    graph purely in per-round job overhead). The raw edge list is round
    0's RESIDUAL; while a residual exceeds ``driver_edge_cap`` rows
    (default ``io.DRIVER_STATE_CAP``, read at call time; 0 contracts
    until the residual is empty; a negative cap skips the read of the
    edge list and then reads each later residual as a cap of 0 would):

    1. a ``mapInPandas`` pass runs union-find per partition and emits
       the local spanning forest (vertex → local min root) — exact
       connectivity, |V| narrow rows, embarrassingly parallel;
    2. the next residual is the ROOT GRAPH (edges among local roots,
       bounded by partition-boundary vertices, ≪ |V|). After the first
       contraction, up to ``max_iter`` further plain forest rounds run;
       then — if a hostile partition layout keeps the per-partition
       union-find from making progress — each further round prepends
       one alternating large-/small-star contraction (:func:`_star_round`,
       pure JVM, layout-independent label progress; Kiveris et al. SoCC
       2014) before the forest pass, up to ``star_budget`` rounds. Star
       rounds preserve both components and the vertex set, so the
       (root → contracted-root) composition below is unchanged.

    Every residual is read through ``io.to_driver``, so the driver never
    holds more than ``driver_edge_cap`` + 1 of its rows, and the
    residual handed to the driver finish (:func:`_components_local`,
    numpy) is bounded by the cap REGARDLESS of partition layout (up to
    the star budget, which converges in O(log²) rounds per the paper).
    A graph with at most ``driver_edge_cap`` edges runs ZERO contraction
    rounds and never enters ``loop_conf``: one bounded read (none at all
    from a bare parquet scan, read from its files), the driver finish,
    and the labels come back as a local table — no Python worker starts
    (lesson 28 in PERFORMANCE.md). Otherwise one broadcast join +
    min-agg maps every vertex to its component. ``CC_LAST_STATS``
    reports the rounds run. Both paths give the same labels. An edge
    with a NULL endpoint adds no vertex and no link on either path.

    Returns (vertex, component) with component = min vertex id in the
    component (union-by-min keeps every local root the minimum of its
    tree, and every vertex ≥ its root, so the global min survives both
    phases). At 100 TB: phase 1 scales with edge partitions, phase 2
    touches only boundary vertices, the labelling is one shuffle on
    (vertex) — no O(diameter) loop ever runs.
    """
    g = edges.select("src", "dst")
    local = to_driver(g, driver_edge_cap)
    if local is not None:
        # the residual is the whole edge list: its map covers every
        # vertex and IS the answer
        CC_LAST_STATS.update(residual_edges=local.num_rows, rounds=0, star_rounds=0)
        return _components_local(spark, local)
    # an edge with a NULL endpoint adds no vertex and no link
    g = g.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # a negative cap reads no residual at all, which would spend the
    # whole round budget: floored at 0, contraction stops at the first
    # empty residual
    cap = io.DRIVER_STATE_CAP if driver_edge_cap is None else driver_edge_cap
    residual_cap = max(cap, 0)
    # Two widths for two concerns (r15): ``loop_partitions`` keeps the
    # CONTRACTION width (it gates the per-partition Python union-find's
    # parallelism over edge rows — compute-bound, wants cores), while
    # the root-graph groupBys and label joins are k-row shuffles that
    # want the small state-sized width (``label_partitions``;
    # loop_width() carries the ABBA evidence — 0.93–0.94× on the
    # dedup-clusters entries with the
    # contraction width left at 8, vs mixed results when the
    # contraction width was shrunk too).
    with loop_conf(spark, label_partitions):
        forests = []  # (vertex → root) map of every contraction round
        budget = 1 + max_iter + star_budget
        while local is None and len(forests) < budget:
            rounds = len(forests)
            src = g
            if rounds > max_iter:
                # forest-only budget exhausted above the cap: the
                # adversarial case where consecutive path vertices
                # never co-locate, so partition-local union-find
                # stalls. One star round contracts toward component
                # minima independent of layout; the forest pass then
                # folds the contraction into a composable root map.
                src = _star_round(
                    g, large=((rounds - 1 - max_iter) % 2 == 0)
                ).localCheckpoint(eager=True)
            f = _forest_contract(src.repartition(loop_partitions or 8, "src"))
            forests.append(f.persist(StorageLevel.MEMORY_AND_DISK))
            g = _root_graph(forests[-1])
            local = to_driver(g, residual_cap)
        if local is None:
            # round budget exhausted while still above the cap
            # (adversarial layouts only): read the full residual
            local = g.toArrow()
        CC_LAST_STATS["residual_edges"] = local.num_rows
        CC_LAST_STATS["rounds"] = len(forests)
        CC_LAST_STATS["star_rounds"] = max(0, len(forests) - 1 - max_iter)

        mapping = _components_local(spark, local)
        labels = forests[0]
        for f2 in forests[1:]:
            # compose: vertex → root → contracted root (left join:
            # roots untouched by the extra round keep their label).
            # DEDUPE the map to one row per vertex first: the forest
            # emits a vertex once per partition it appears in (that
            # duplication is what lets _root_graph discover bridges),
            # so joining the raw forest multiplies labels rows per
            # round — exponential growth over many residual rounds
            # (measured: 244M rows by round 15 on the hostile-layout
            # fixture). Taking the MIN root per vertex is exact: the
            # dropped alternative roots are still bridged to the kept
            # one through _root_graph's edges (which read the full
            # duplicated forest), so every label still reaches its
            # component minimum through later maps or the driver
            # union-find; the join becomes 1:1 and labels stay
            # |forest|-sized for any number of rounds.
            m = f2.groupBy("src").agg(F.min("dst").alias("_c")).select(
                F.col("src").alias("_r"), F.col("_c")
            )
            labels = labels.join(m, labels.dst == m._r, "left").select(
                "src", F.coalesce(F.col("_c"), F.col("dst")).alias("dst")
            )
        if local.num_rows:
            labels = labels.join(
                F.broadcast(mapping), labels.dst == mapping.vertex, "left"
            ).select(
                "src", F.coalesce(F.col("component"), F.col("dst")).alias("dst")
            )
        out = (
            labels.groupBy("src")
            .agg(F.min("dst").alias("component"))
            .select(F.col("src").alias("vertex"), "component")
            .localCheckpoint(eager=True)
        )
    for f2 in forests:
        f2.unpersist()
    return out


def contract_delta(base_labels: DataFrame, delta_edges: DataFrame) -> DataFrame:
    """Delta edges with endpoints contracted onto their existing
    component labels (unknown endpoints pass through). The result is
    the ONLY graph :func:`incremental_components` ever clusters — its
    size is bounded by |delta|, which is what the touched-only-work
    test asserts."""
    lab_src = base_labels.select(
        F.col("vertex").alias("src"), F.col("component").alias("csrc")
    )
    lab_dst = base_labels.select(
        F.col("vertex").alias("dst"), F.col("component").alias("cdst")
    )
    return (
        delta_edges.select("src", "dst")
        .join(lab_src, "src", "left")
        .join(lab_dst, "dst", "left")
        .select(
            F.coalesce("csrc", "src").alias("src"),
            F.coalesce("cdst", "dst").alias("dst"),
        )
        # a delta edge internal to one existing component contracts to a
        # self-loop — it merges nothing, so drop it here (delta-sized
        # filter) instead of letting it ride as a clustered row
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def incremental_components(
    spark: SparkSession,
    base_labels: DataFrame,
    delta_edges: DataFrame,
    materialize: bool = True,
    **cc_kwargs,
) -> DataFrame:
    """Merge a DELTA batch of edges into existing component labels
    without recomputing components from scratch — the streaming-dedup
    maintenance step (a new document batch's LSH pairs arrive against
    an already-clustered corpus).

    ``base_labels`` is (vertex, component) with component = min vertex
    id of the component (the :func:`connected_components` contract).
    Because each label is itself the minimum of its component, the
    delta can be CONTRACTED before any clustering happens:

    1. map each delta endpoint to its existing label (left join;
       endpoints the base has never seen pass through as themselves);
    2. run :func:`connected_components` on the resulting COMPONENT
       GRAPH — its size is bounded by |delta|, not |base|, and its
       min-label outputs are exactly the merged components' new labels;
    3. apply the (old label → new label) remap to the base with one
       broadcast join (labels of untouched components miss the remap
       and survive unchanged — no base shuffle), and union in the
       delta-only vertices with their labels from step 2.

    Result is IDENTICAL to from-scratch clustering on base ∪ delta
    edges (oracle + test), but the clustering work touches only
    delta-adjacent components: at 100 TB the base is a label table
    scanned once map-side, never re-clustered.
    """
    d = delta_edges.select("src", "dst")
    comp_edges = contract_delta(base_labels, d)
    # already materialized: connected_components eagerly localCheckpoints
    # its output, so both uses below share one computed table.
    merged = connected_components(spark, comp_edges, **cc_kwargs)
    # merged: (vertex = old label | delta-only vertex id, component = new
    # label). As an old-label → new-label remap it is delta-sized.
    remap = merged.select(
        F.col("vertex").alias("component"), F.col("component").alias("_nc")
    )
    rebased = base_labels.join(F.broadcast(remap), "component", "left").select(
        "vertex", F.coalesce("_nc", "component").alias("component")
    )
    delta_only = (
        d.select(F.col("src").alias("vertex"))
        .unionAll(d.select(F.col("dst").alias("vertex")))
        .distinct()
        .join(base_labels.select("vertex"), "vertex", "left_anti")
        .join(merged, "vertex")
        .select("vertex", "component")
    )
    out = rebased.unionByName(delta_only)
    # Steady-state use folds batch after batch through this function
    # (labels are maintained forever, never rebuilt). The fold scans
    # its input labels four times (contract ×2, remap, delta_only), so
    # without truncation each fold would replay every prior fold's
    # plan — geometric recompute in the number of batches. Eager
    # localCheckpoint (the same loop discipline connected_components
    # ends with) pins each generation of labels to one materialized
    # table. ``materialize=False`` returns the lazy plan (plan tests).
    return out.localCheckpoint(eager=True) if materialize else out


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One LARGE-STAR (or SMALL-STAR) round of the alternating
    min-label contraction from Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SoCC 2014) — entirely JVM-side (groupBy +
    collect_set + explode + codegen comparisons), no Python.

    For each vertex u with (symmetrized) neighborhood Γ(u) and
    m = min(Γ(u) ∪ {u}):

    - large-star emits (v, m) for every neighbor v > u;
    - small-star emits (v, m) for every neighbor v ≤ u, plus (u, m).

    Both operations preserve the connected components of the graph and
    the vertex set (every non-isolated vertex reappears in the output),
    while monotonically pulling edges toward each component's minimum —
    so a fixed number of rounds is a CORRECT pre-contraction for any
    exact finisher. One shuffle per round (the groupBy on u; the
    explode is map-side). Known caveat at scale: the min label of a big
    component accumulates degree round over round (the paper's skew),
    so this phase is bounded to a few rounds and an exact finisher
    (union-find) handles the residual.
    """
    sym = edges.where(F.col("src") != F.col("dst"))
    sym = sym.union(sym.select(F.col("dst"), F.col("src")))
    grouped = sym.groupBy("src").agg(
        F.collect_set("dst").alias("nbrs"),
        F.min("dst").alias("mn"),
    )
    m = F.least(F.col("mn"), F.col("src"))
    ex = grouped.select(
        F.col("src").alias("u"), m.alias("m"), F.explode("nbrs").alias("v")
    )
    if large:
        out = ex.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        )
    else:
        out = (
            ex.where(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .union(grouped.select(F.col("src"), m.alias("dst")))
        )
    return out.where(F.col("src") != F.col("dst"))


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    star_rounds: int = 2,
    **kwargs,
) -> DataFrame:
    """Connected components with a pure-JVM pre-contraction: a few
    alternating large-star/small-star rounds (all codegen — see
    :func:`_star_round`) collapse most of each component onto its
    minimum label BEFORE the exact :func:`connected_components`
    union-find finisher sees the edges. Same (vertex, component) output
    contract, component = min vertex id.

    Why both paths exist: the two-phase union-find's phase 1 iterates
    edge rows in Python inside Arrow batches — exact and
    partition-parallel, but the engine's one Python-speed inner loop.
    Star rounds keep the whole contraction JVM-side at one shuffle per
    round; after 2 rounds the residual graph is mostly stars, so the
    Python loop touches near-trivial state. At 100 TB pick by edge
    volume: star rounds win when Python-batch throughput is the
    bottleneck; straight union-find wins when the extra star shuffles
    dominate (measured at sf0.1 in bench.py: `dedup_clusters` vs
    `dedup_clusters_star`).
    """
    e = edges.select("src", "dst")
    # Self-loops carry no connectivity but DO carry vertex existence
    # (a vertex seen only as (v, v) must still get a singleton label,
    # matching connected_components' contract); star rounds drop them,
    # so re-attach after contraction for the finisher to register.
    selfs = e.where(F.col("src") == F.col("dst")).distinct()
    for i in range(star_rounds):
        # localCheckpoint between rounds keeps the loop plan linear
        # (same reason as the PageRank runner): round k+1's groupBy
        # otherwise re-plans k stacked shuffles.
        e = _star_round(e, large=(i % 2 == 0)).localCheckpoint(eager=True)
    return connected_components(spark, e.union(selfs), **kwargs)


# ---------------------------------------------------------------------------
# Standard (damped, out-degree-normalized) PageRank — generalizes the
# reference's chain-only variant to arbitrary graphs.
# ---------------------------------------------------------------------------


def pagerank_standard(
    spark: SparkSession,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    loop_partitions: int | None = 4,
) -> DataFrame:
    """Textbook PageRank: rank'(v) = (1−d)/N + d·(Σ_{u→v} rank(u)/deg(u)
    + dangling/N). The reference's variant (PageRankRDD) forwards FULL
    rank per edge (its chains have out-degree 1, so the two coincide
    there); this operator handles arbitrary out-degrees and dangling
    vertices, which the engine needs for real graphs.

    Scale shape: the edge list is pre-weighted ONCE with 1/deg(src)
    (loop-invariant — the division never re-runs inside the loop),
    co-partitioned on src (the durable form of the reference's
    ``partitionBy(HashPartitioner(3)).cache()``,
    PageRankRDD/.../FollowerCount.scala:53-55), and the
    dangling scalar folds into the SAME mass aggregation: dangling
    vertices get one synthetic edge to a NULL sink, so each iteration is
    a single join+group-sum job whose NULL row IS the dangling mass
    (read back as a 1-row collect from the cached result) — halving the
    per-iteration job count vs a separate left_anti aggregation.
    ``loop_partitions`` defaults to the state-sized width 4 (r15, ABBA
    0.85× — :func:`..plans.iterate.loop_width` has the derivation).

    An edge list of at most ``io.DRIVER_STATE_CAP`` rows finishes on the
    driver: one bounded read, then the same recurrence as a ``bincount``
    mat-vec in numpy, returned as a local table. Both paths return the
    same schema and the same ranks up to summation order (relative
    1e-12); only graphs above the cap run the distributed loop.
    """
    # a genuine NULL dst in unclean input would otherwise be folded into
    # the synthetic NULL-sink group and silently counted as dangling mass
    graph = _driver_graph(edges, drop_null_dst=True)
    if graph is not None:
        return _pagerank_local(spark, graph, iterations, damping)
    edges = edges.where(F.col("dst").isNotNull())
    with loop_conf(spark, loop_partitions):
        verts = (
            edges.select(F.col("src").alias("v"))
            .unionByName(edges.select(F.col("dst").alias("v")))
            .distinct()
        )
        if loop_partitions:
            verts = verts.repartition(loop_partitions, "v")
        verts = verts.persist(StorageLevel.MEMORY_AND_DISK)
        n = max(1, verts.count())  # an edgeless graph ranks nothing

        # edges co-partitioned on src like verts on v: the degree
        # aggregate, the weighting join and the dangling anti-join plan
        # without exchanges and without broadcast jobs (hints: see sssp)
        if loop_partitions:
            edges = edges.repartition(loop_partitions, "src")
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("dg"))
        dst_t = dict(edges.dtypes)["dst"]
        weighted = (
            edges.join(deg.hint("shuffle_hash"), "src")
            .select("src", "dst", (F.lit(1.0) / F.col("dg")).alias("w"))
            .unionByName(
                # dangling v → ⊥ sink, weight 1: its whole rank lands in
                # the NULL group of the mass aggregation
                verts.join(
                    deg.select(F.col("src").alias("v")).hint("shuffle_hash"),
                    "v",
                    "left_anti",
                ).select(
                    F.col("v").alias("src"),
                    F.lit(None).cast(dst_t).alias("dst"),
                    F.lit(1.0).alias("w"),
                )
            )
        )
        if loop_partitions:
            weighted = weighted.repartition(loop_partitions, "src")
        weighted = weighted.persist(StorageLevel.MEMORY_AND_DISK)

        ranks = verts.select("v", F.lit(1.0 / n).alias("r"))
        prev = None
        try:
            for i in range(iterations):
                r = ranks.hint("shuffle_hash")  # see the join-hint note in sssp
                mass = (
                    weighted.join(r, weighted.src == r.v)
                    .groupBy(weighted.dst.alias("v"))
                    .agg(F.sum(F.col("r") * F.col("w")).alias("m"))
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                # the collect keeps the plan linear (OPTIMIZATION_r15.md, REJECTED 1)
                drow = mass.where(F.col("v").isNull()).select("m").collect()
                dangling = float(drow[0]["m"]) if drow else 0.0
                new_ranks = verts.join(mass.hint("shuffle_hash"), "v", "left").select(
                    "v",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("m"), F.lit(0.0))
                            + F.lit(dangling / n)
                        )
                    ).alias("r"),
                )
                if (i + 1) % 4 == 0 or i == iterations - 1:
                    # truncate lineage; mid-loop lazily, so the next
                    # iteration's mass collect writes the checkpoint in
                    # its own job while this mass is still cached
                    new_ranks = new_ranks.localCheckpoint(
                        eager=i == iterations - 1
                    )
                if prev is not None:
                    prev.unpersist()
                prev = mass
                ranks = new_ranks
        finally:
            for df in (prev, weighted, verts):
                if df is not None:
                    df.unpersist()
    return ranks.select(F.col("v").alias("vertex"), F.col("r").alias("rank"))


def _pagerank_local(spark, graph, iterations, damping):
    """:func:`pagerank_standard` on a driver-side graph (NULL dst
    already dropped). A NULL src is a vertex no join reaches: it counts
    in N and receives the base and dangling shares, but its out-edges
    and its own rank never propagate — as in the distributed plan."""
    import numpy as np

    _, ids, si, di, has_null = graph
    v = len(ids)
    n = max(1, v + has_null)  # an edgeless graph ranks nothing
    live = si >= 0
    s, d = si[live], di[live]
    deg = np.bincount(s, minlength=v)
    w = 1.0 / deg[s]
    dangling = deg == 0
    r = np.full(v + has_null, 1.0 / n)
    for _ in range(iterations):
        mass = np.bincount(d, weights=r[s] * w, minlength=v + has_null)
        share = r[:v][dangling].sum() / n
        r = (1.0 - damping) / n + damping * (mass + share)
    return _local_result(
        spark, graph, r, T.StructField("rank", T.DoubleType(), False)
    )
