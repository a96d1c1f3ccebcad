"""Graph/iterative algorithm tests: the reference's own invariants
(SURVEY.md §5) plus hand-computable micro-fixtures (FIXTURES.md).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducelearnings_spark.operators import graph as G
from mapreducelearnings_spark.operators import kmeans as KM
from mapreducelearnings_spark.operators import relational as R
from mapreducelearnings_spark.catalog import graph_edges, load_table
from mapreducelearnings_spark.sources import io

from .conftest import jobs_of


# --- PageRank ---------------------------------------------------------------


def test_pagerank_rank_sum_is_one(spark):
    """The reference prints the rank sum every iteration and it must stay
    ≈ 1 (PageRankRDD/.../FollowerCount.scala:69)."""
    ranks = G.pagerank_chain(spark, k=10, iterations=10)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9


def test_pagerank_k3_hand_computed(spark):
    """k=3 chain: 9 vertices in 3 chains 1→2→3→0, 4→5→6→0, 7→8→9→0.
    After 1 iteration: heads get only delta/9; delta = mass into 0 = 3/9.
    mass(2)=rank(1)=1/9, etc. So rank(head)=1/27, others 1/9+1/27."""
    edges, ranks0 = G.chain_graph(spark, 3)
    ranks = G.pagerank(spark, edges, ranks0, n_vertices=9, iterations=1)
    got = {r["vertex"]: r["rank"] for r in ranks.collect()}
    delta_share = (3 / 9) / 9
    assert got[0] == 0.0
    for head in (1, 4, 7):
        assert abs(got[head] - delta_share) < 1e-12
    for mid in (2, 3, 5, 6, 8, 9):
        assert abs(got[mid] - (1 / 9 + delta_share)) < 1e-12


def test_pagerank_dummy_vertex_pinned_to_zero(spark):
    ranks = G.pagerank_chain(spark, k=5, iterations=3)
    assert ranks.where(F.col("vertex") == 0).first()["rank"] == 0.0


# --- SSSP -------------------------------------------------------------------


@pytest.fixture(scope="module")
def micro_graph(spark):
    """Hand-solved 6-vertex graph (FIXTURES.md §3): component reachable
    from 1, an unreachable component, a cycle, and two equal-length paths."""
    rows = [
        (1, 2), (2, 3), (1, 4), (4, 3),  # two equal paths 1→…→3
        (3, 1),                          # cycle back to source
        (5, 6),                          # unreachable component
    ]
    return spark.createDataFrame(rows, "src: long, dst: long")


def test_sssp_micro_graph_distances(spark, micro_graph):
    dist = {r["vertex"]: r["dist"] for r in G.sssp(spark, micro_graph, 1).collect()}
    assert dist[1] == 0.0
    assert dist[2] == 1.0 and dist[4] == 1.0
    assert dist[3] == 2.0  # min over the two equal paths
    assert dist[5] == G.INF and dist[6] == G.INF  # unreachable stays +inf


def test_sssp_source_stays_zero_despite_cycle(spark, micro_graph):
    dist = {r["vertex"]: r["dist"] for r in G.sssp(spark, micro_graph, 1).collect()}
    assert dist[1] == 0.0  # 3→1 relaxation must not overwrite the source


def test_sssp_triangle_inequality(spark, sf_dir):
    """d(v) ≤ d(u) + 1 for every edge u→v with finite d(u)."""
    edges = graph_edges(spark, sf_dir)
    dist = G.sssp(spark, edges, 1)
    viol = (
        edges.join(dist.withColumnRenamed("dist", "du"), edges.src == dist.vertex)
        .drop("vertex")
        .join(
            dist.withColumnRenamed("dist", "dv").withColumnRenamed("vertex", "v2"),
            edges.dst == F.col("v2"),
        )
        .where((F.col("du") != G.INF) & (F.col("dv") > F.col("du") + 1))
        .count()
    )
    assert viol == 0


# --- Triangles --------------------------------------------------------------


def test_triangle_cross_implementation_equivalence(spark, sf_dir):
    """All three physical strategies must agree — the reference's own
    RepJoin vs ReduceSideJoin redundancy (SURVEY.md §5), extended with
    the degree-ordered skew-safe plan."""
    e = graph_edges(spark, sf_dir)
    a = G.triangle_count(e, broadcast_probe=False).first()["triangles"]
    b = G.triangle_count(e, broadcast_probe=True).first()["triangles"]
    c = G.triangle_count_ordered(e).first()["triangles"]
    assert a == b == c


def test_triangle_known_micro_graph(spark):
    # one directed 3-cycle + noise edges
    rows = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    e = spark.createDataFrame(rows, "src: long, dst: long")
    assert G.triangle_count(e).first()["triangles"] == 1
    assert G.triangle_count_ordered(e).first()["triangles"] == 1


def test_triangle_ordered_hub_graph(spark):
    """A star hub plus satellite cycles — the shape where the unoriented
    wedge join blows up quadratically in hub degree. The ordered plan
    must still agree with the reference-faithful plan, including cycles
    THROUGH the hub (where the hub is never the anchor) and degree-tie
    cycles (id tiebreak)."""
    rows = []
    # hub 0 with 40 out- and 40 in-edges (degree 80)
    for i in range(1, 41):
        rows.append((0, i))
        rows.append((100 + i, 0))
    # 10 directed 3-cycles through the hub: 0 -> i -> 100+i -> 0
    for i in range(1, 11):
        rows.append((i, 100 + i))
    # 5 hub-free cycles among degree-2 vertices (all-tie ranks)
    for j in range(5):
        a, b, c = 200 + 3 * j, 201 + 3 * j, 202 + 3 * j
        rows += [(a, b), (b, c), (c, a)]
    e = spark.createDataFrame(rows, "src: long, dst: long").distinct()
    ref = G.triangle_count(e).first()["triangles"]
    ordered = G.triangle_count_ordered(e).first()["triangles"]
    assert ref == ordered == 15


# --- k-means ----------------------------------------------------------------


def test_kmeans_sse_non_increasing(spark, sf_dir):
    """SSE must not increase across iterations
    (SSE per K-means/.../CountFollowers.java:133-140)."""
    orders = load_table(spark, sf_dir, "orders")
    sses = []
    for iters in (1, 2, 4, 6):
        out = KM.kmeans_1d(orders, "o_totalprice", k=4, fixed_iterations=iters)
        cents = [r["centroid"] for r in out.collect()]
        sses.append(KM.kmeans_sse(orders, "o_totalprice", cents))
    assert all(a >= b - 1e-6 for a, b in zip(sses, sses[1:]))


def test_kmeans_converges_and_counts_cover_all_points(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    out = KM.kmeans_1d(orders, "o_totalprice", k=4, max_iter=10).collect()
    assert sum(r["n_points"] for r in out) == orders.count()
    assert len(out) <= 4


def test_kmeans_compat_truncate_matches_reference_longs(spark, sf_dir):
    """compat flag reproduces the reference's long-truncated means
    (K-means/.../CountFollowers.java:130-131)."""
    orders = load_table(spark, sf_dir, "orders")
    out = KM.kmeans_1d(
        orders, "o_totalprice", k=4, fixed_iterations=3, compat_truncate=True
    ).collect()
    for r in out:
        assert r["centroid"] == float(int(r["centroid"]))


# --- connected components ---------------------------------------------------


def test_connected_components_micro_graph(spark):
    """Two components {1,2,3} and {7,9}; direction must not matter."""
    rows = [(1, 2), (3, 2), (9, 7)]
    edges = spark.createDataFrame(rows, "src: long, dst: long")
    got = {
        r["vertex"]: r["component"]
        for r in G.connected_components(spark, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_connected_components_long_path_and_multi_round(spark):
    """A 64-vertex path graph is one component (the old min-label loop's
    worst case — diameter shuffle rounds; union-find contracts it in one
    pass), and forcing driver_edge_cap=1 exercises the extra
    distributed-contraction rounds plus the label-composition joins."""
    rows = [(i, i + 1) for i in range(64)]
    edges = spark.createDataFrame(rows, "src: long, dst: long")
    for kwargs in ({}, {"driver_edge_cap": 1}):
        got = {
            r["vertex"]: r["component"]
            for r in G.connected_components(spark, edges, **kwargs).collect()
        }
        assert got == {v: 0 for v in range(65)}


def test_connected_components_cluster_invariants(spark, sf_dir):
    """Every vertex's component label is the min vertex of its component,
    and endpoints of every edge share a component."""
    edges = graph_edges(spark, sf_dir)
    cc = G.connected_components(spark, edges)
    labels = {r["vertex"]: r["component"] for r in cc.collect()}
    for r in edges.collect():
        assert labels[r["src"]] == labels[r["dst"]]
    comps = {}
    for v, c in labels.items():
        comps.setdefault(c, []).append(v)
    for c, vs in comps.items():
        assert c == min(vs)


def test_connected_components_star_agrees_with_union_find(spark):
    """The pure-JVM large-star/small-star pre-contraction must yield the
    exact same (vertex, component) labeling as the straight two-phase
    union-find on graphs that stress it differently: a long path (many
    star rounds short of convergence — the union-find finisher must
    absorb the residual), disjoint micro-components, a star, and a
    random-ish multigraph with both edge directions and duplicates."""
    graphs = [
        [(i, i + 1) for i in range(64)],
        [(1, 2), (3, 2), (9, 7), (11, 11)],
        [(100, i) for i in range(1, 9)],
        [(5, 3), (3, 5), (5, 3), (2, 8), (8, 6), (6, 2), (40, 41)],
    ]
    for rows in graphs:
        edges = spark.createDataFrame(rows, "src: long, dst: long")
        base = {
            r["vertex"]: r["component"]
            for r in G.connected_components(spark, edges).collect()
        }
        for rounds in (1, 2, 3):
            star = {
                r["vertex"]: r["component"]
                for r in G.connected_components_star(
                    spark, edges, star_rounds=rounds
                ).collect()
            }
            assert star == base, (rows, rounds)


def test_connected_components_star_plan_is_python_free_precontract(spark):
    """The star rounds themselves must be JVM-only: no ArrowEvalPython /
    mapInPandas node inside a round's plan (the Python union-find is
    allowed only downstream, in the finisher)."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
    one_round = G._star_round(edges, large=True)
    plan = one_round._sc._jvm.PythonSQLUtils.explainString(
        one_round._jdf.queryExecution(), "formatted"
    )
    # (the toy createDataFrame source prints as applySchemaToPythonRDD —
    # only Python *eval* operators are forbidden in the round itself)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan


# --- standard (damped) PageRank ---------------------------------------------


def test_pagerank_standard_rank_sum_is_one(spark, sf_dir):
    """With out-degree normalization + dangling redistribution, total
    rank is conserved at 1 every iteration."""
    ranks = G.pagerank_standard(spark, graph_edges(spark, sf_dir), iterations=5)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9


def test_pagerank_standard_handles_dangling(spark):
    """Graph with a dangling sink: 1→2, 1→3, 2→3; 3 has no out-edges.
    Mass must be conserved (redistributed), not lost."""
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src: long, dst: long")
    ranks = G.pagerank_standard(spark, edges, iterations=8)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9
    got = {r["vertex"]: r["rank"] for r in ranks.collect()}
    assert got[3] > got[2] > got[1]  # 3 receives from both, 1 only dangling share


def test_connected_components_survives_capped_residual_rounds(spark):
    """Adversarial layout for the two-phase union-find: long paths whose
    consecutive vertices hash to DIFFERENT partitions, so phase 1's
    per-partition forests contract almost nothing and the root graph
    stays large; with a tiny driver_edge_cap the extra contraction
    rounds must fire (several of them) and the residual handed to the
    driver union-find must be under the cap — while the labels stay
    exactly right. This is the one CC path the fixture graphs never
    forced (VERDICT r04 Next #6)."""
    n_paths, plen = 4, 250
    edges = []
    for p in range(n_paths):
        base = p * plen
        edges += [(base + i, base + i + 1) for i in range(plen - 1)]
    e = spark.createDataFrame(edges, "src long, dst long")

    cap = 16
    # the adversarial premise must hold: after one local contraction the
    # root graph still dwarfs the cap (otherwise this test proves nothing)
    with G._loop_shuffle_partitions(spark, 8):
        forest = G._forest_contract(e.repartition(8, "src"))
        g0 = G._root_graph(forest)
        assert g0.count() > cap, "layout failed to stress the residual path"
        # and one extra round still doesn't fit under the cap → ≥2 rounds
        f2 = G._forest_contract(g0.repartition(8, "src"))
        assert G._root_graph(f2).count() > cap

    out = G.connected_components(
        spark, e, max_iter=8, loop_partitions=8, driver_edge_cap=cap
    )
    got = {r["vertex"]: r["component"] for r in out.collect()}
    want = {
        p * plen + i: p * plen
        for p in range(n_paths)
        for i in range(plen)
    }
    assert got == want
    # the residual handed to the driver union-find is under the cap —
    # the star fallback guarantees this even when forest rounds stall
    assert G.CC_LAST_STATS["residual_edges"] <= cap


def test_connected_components_star_fallback_bounds_driver_read(spark):
    """Exhaust the forest-only budget above the cap (max_iter=1 on the
    hostile long-path layout): the alternating star rounds must take
    over, contract the residual under driver_edge_cap, and leave the
    labels exactly right — the driver read is bounded regardless of
    partition layout (VERDICT r07 Next #6)."""
    n_paths, plen = 4, 250
    edges = []
    for p in range(n_paths):
        base = p * plen
        edges += [(base + i, base + i + 1) for i in range(plen - 1)]
    e = spark.createDataFrame(edges, "src long, dst long")

    cap = 16
    out = G.connected_components(
        spark, e, max_iter=1, loop_partitions=8,
        driver_edge_cap=cap, star_budget=16,
    )
    got = {r["vertex"]: r["component"] for r in out.collect()}
    want = {
        p * plen + i: p * plen
        for p in range(n_paths)
        for i in range(plen)
    }
    assert got == want
    assert G.CC_LAST_STATS["residual_edges"] <= cap
    assert G.CC_LAST_STATS["star_rounds"] >= 1


# --- incremental component maintenance --------------------------------------


def test_incremental_components_exact_and_touched_only(spark):
    """Merging a delta batch into existing labels must (a) equal the
    from-scratch clustering on base+delta, and (b) cluster only a
    delta-sized contracted graph — the base is remapped by broadcast,
    never re-clustered."""
    # base: 50 disjoint 2-vertex components (i <-> 1000+i)
    base_edges = spark.createDataFrame(
        [(i, 1000 + i) for i in range(50)], "src: long, dst: long"
    )
    base_labels = G.connected_components(spark, base_edges)
    # delta: join components 3 and 7, attach brand-new vertex 9999 to
    # component 11, plus an edge INTERNAL to component 5 — it contracts
    # to a self-loop, merges nothing, and must be dropped before
    # clustering (ADVICE r7)
    delta = spark.createDataFrame(
        [(1003, 1007), (9999, 11), (5, 1005)], "src: long, dst: long"
    )
    out = G.incremental_components(spark, base_labels, delta)

    scratch = G.connected_components(spark, base_edges.unionAll(delta))
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, scratch.collect())
    )

    # touched-only work: the contracted graph the incremental path
    # clusters has exactly the 2 component-merging delta edges — the
    # internal edge's self-loop is filtered, and the base's 50 edges
    # never appear
    contracted = G.contract_delta(base_labels, delta)
    assert contracted.count() == 2
    assert contracted.where(F.col("src") == F.col("dst")).count() == 0
    # and the base-side remap is a broadcast join — no base shuffle
    # (materialize=False exposes the lazy plan; the default eagerly
    # localCheckpoints, which replaces the plan with an RDD scan)
    lazy = G.incremental_components(
        spark, base_labels, delta, materialize=False
    )
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_incremental_components_folds_over_batches(spark):
    """Repeated maintenance stays exact: folding three successive delta
    batches through incremental_components equals one from-scratch
    clustering of everything — the steady-state streaming-dedup story
    (labels are maintained forever, never rebuilt)."""
    base_edges = spark.createDataFrame(
        [(i, 100 + i) for i in range(10)], "src: long, dst: long"
    )
    batches = [
        [(100, 101)],                  # merge comps 0 and 1
        [(102, 103), (500, 9)],        # merge 2+3; new vertex 500 into 9
        [(500, 104), (600, 601)],      # chain new into comp 4; new island
    ]
    labels = G.connected_components(spark, base_edges)
    all_edges = base_edges
    for rows in batches:
        delta = spark.createDataFrame(rows, "src: long, dst: long")
        labels = G.incremental_components(spark, labels, delta)
        all_edges = all_edges.unionAll(delta)
    scratch = G.connected_components(spark, all_edges)
    assert sorted(map(tuple, labels.collect())) == sorted(
        map(tuple, scratch.collect())
    )


def _python_components(rows):
    """vertex → min vertex of its undirected component, plain Python."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_cc_fused_residual_matches_unfused(spark):
    """Every residual is read through the one bounded io.to_driver read.
    Labels and CC_LAST_STATS must match a plain-Python union-find both
    under the cap (the raw edge list is the residual: zero rounds) and
    when a tiny cap forces contraction rounds until the round budget
    runs out and the full residual is read."""
    rows = [(i, i + 1) for i in range(60)] + [(200, 201), (300, 300)]
    edges = spark.createDataFrame(rows, "src: long, dst: long")
    want = sorted(_python_components(rows).items())

    under = sorted(map(tuple, G.connected_components(spark, edges).collect()))
    under_stats = dict(G.CC_LAST_STATS)
    # tiny cap: every round's residual exceeds it, so the loop keeps
    # contracting until the budget (1 + max_iter + star_budget) is spent
    # and finishes through the full residual read
    capped = sorted(
        map(
            tuple,
            G.connected_components(
                spark, edges, driver_edge_cap=2, max_iter=2, star_budget=2,
            ).collect(),
        )
    )
    capped_stats = dict(G.CC_LAST_STATS)
    assert under == want
    assert capped == want
    # residual_edges is the exact size of the residual the driver read
    assert under_stats == {"residual_edges": len(rows), "rounds": 0, "star_rounds": 0}
    assert capped_stats["rounds"] == 1 + 2 + 2
    assert capped_stats["star_rounds"] == 2
    assert capped_stats["residual_edges"] > 2


# --- Spark job budgets of the loop operators ---------------------------------


@pytest.fixture
def action_plans(monkeypatch):
    """Executed plan of every collect/count/localCheckpoint a test runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    for name in ("collect", "count", "localCheckpoint"):
        real = getattr(DataFrame, name)

        def spy(self, *a, _real=real, **k):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return _real(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spy)
    return plans


@pytest.fixture
def distributed(monkeypatch):
    """A negative cap: the loop operators skip the driver path and read
    nothing."""
    monkeypatch.setattr(io, "DRIVER_STATE_CAP", -1)


def test_pagerank_standard_job_budget(spark, action_plans, distributed):
    """Distributed path: 10 iterations = 1 vertex count + 10
    dangling-mass collects + the final checkpoint (the two mid-loop
    checkpoints are lazy and ride the next collect). Every join in the
    loop (and in the edge weighting) is a co-partitioned shuffled hash
    join: a BroadcastExchange would add one job per join per
    iteration."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)], "src: long, dst: long"
    )
    _, jobs = jobs_of(
        spark, lambda: G.pagerank_standard(spark, edges, iterations=10)
    )
    assert jobs == 12
    assert len(action_plans) == 14  # 3 localCheckpoint calls
    assert all("BroadcastExchange" not in p for p in action_plans)
    assert any("ShuffledHashJoin" in p for p in action_plans)


def test_sssp_job_budget(spark, micro_graph, action_plans, distributed):
    """Distributed path: the micro-graph converges at iteration 3: one
    diff-count at iteration 1, then the checkpoint and the diff-count at
    iteration 3. No loop join is broadcast."""
    _, jobs = jobs_of(spark, lambda: G.sssp(spark, micro_graph, 1))
    assert jobs == 3
    assert all("BroadcastExchange" not in p for p in action_plans)
    assert any("ShuffledHashJoin" in p for p in action_plans)


def test_connected_components_under_cap_runs_zero_rounds(spark):
    """A graph within driver_edge_cap goes straight to the driver
    union-find: one bounded read, no contraction round, and the labels
    come back as a local table (no job, no Python worker)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "src: long, dst: long"
    )
    out, jobs = jobs_of(spark, lambda: G.connected_components(spark, edges))
    assert jobs == 1
    assert G.CC_LAST_STATS["rounds"] == 0
    assert G.CC_LAST_STATS["star_rounds"] == 0
    assert G.CC_LAST_STATS["residual_edges"] == 4
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    got, jobs = jobs_of(spark, out.collect)
    assert jobs == 0
    assert dict(map(tuple, got)) == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9}


# --- degenerate inputs -------------------------------------------------------


def test_connected_components_empty_edge_list(spark):
    edges = spark.createDataFrame([], "src: long, dst: long")
    for kwargs in ({}, {"driver_edge_cap": 0}):
        out = G.connected_components(spark, edges, **kwargs)
        assert out.schema.simpleString() == "struct<vertex:bigint,component:bigint>"
        assert out.collect() == []


@pytest.mark.parametrize(
    "rows, want",
    [
        # self-loops only: every vertex is its own component
        ([(3, 3), (5, 5), (5, 5)], {3: 3, 5: 5}),
        # duplicate and reversed edges merge nothing extra
        (
            [(1, 2), (1, 2), (2, 1), (4, 5), (4, 5), (5, 5)],
            {1: 1, 2: 1, 4: 4, 5: 4},
        ),
    ],
)
def test_connected_components_self_loops_and_duplicates(spark, rows, want):
    edges = spark.createDataFrame(rows, "src: long, dst: long")
    # under the cap (driver union-find only) and with contraction rounds
    for kwargs in ({}, {"driver_edge_cap": 1}):
        got = dict(map(tuple, G.connected_components(spark, edges, **kwargs).collect()))
        assert got == want


def test_sssp_absent_source_is_all_unreachable(spark, micro_graph):
    dist = dict(map(tuple, G.sssp(spark, micro_graph, 99).collect()))
    assert set(dist) == {1, 2, 3, 4, 5, 6}
    assert all(d == G.INF for d in dist.values())


def test_pagerank_standard_edgeless_graph(spark):
    """No edges: every vertex is dangling and there is nothing to rank."""
    edges = spark.createDataFrame([], "src: long, dst: long")
    ranks = G.pagerank_standard(spark, edges, iterations=3)
    assert ranks.columns == ["vertex", "rank"]
    assert ranks.collect() == []


def test_pagerank_standard_all_mass_through_dangling_sink(spark):
    """Star into one sink: 1→0, 2→0, 3→0. Vertex 0 is dangling, so every
    iteration's whole mass passes through the dangling share; the result
    must match the textbook recurrence computed in plain Python."""
    edges = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "src: long, dst: long")
    d, n, its = 0.85, 4, 6
    r = dict.fromkeys(range(n), 1.0 / n)
    for _ in range(its):
        m = {0: r[1] + r[2] + r[3], 1: 0.0, 2: 0.0, 3: 0.0}
        r = {v: (1 - d) / n + d * (m[v] + r[0] / n) for v in range(n)}
    got = dict(map(tuple, G.pagerank_standard(spark, edges, iterations=its).collect()))
    assert got.keys() == r.keys()
    assert all(abs(got[v] - r[v]) < 1e-12 for v in r)
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_iterate_checkpoint_reuses_materialized_states(spark):
    """iterate(check_every=2, checkpoint_every=4): iteration 2 is neither
    checked nor checkpointed, so its state is still an unloaded lazy
    persist when the loop moves on. Its parent's cache must survive
    until the iteration-3 checkpoint has run, or that job recomputes the
    whole chain. The step counts the rows it evaluates: 4 steps over n
    rows must evaluate exactly 4·n rows."""
    from mapreducelearnings_spark.plans.iterate import iterate

    n = 50
    evaluated = spark.sparkContext.accumulator(0)

    def count_and_bump(v):
        evaluated.add(1)
        return v + 1

    bump = F.udf(count_and_bump, "long")

    state = spark.range(n).select("id", F.col("id").alias("v"))
    out = iterate(
        state,
        lambda s, _i: s.select("id", bump("v").alias("v")),
        converged=lambda old, new: new.count() < 0,  # never converges
        max_iter=4,
        checkpoint_every=4,
        check_every=2,
    )
    assert sorted(r["v"] for r in out.collect()) == [i + 4 for i in range(n)]
    assert evaluated.value == 4 * n


# --- driver path vs distributed path ------------------------------------------

GRAPHS = {
    "micro": [(1, 2), (2, 3), (1, 4), (4, 3), (3, 1), (5, 6)],
    "empty": [],
    "self_loop": [(7, 7)],
    "duplicates": [(1, 2), (1, 2), (2, 1), (2, 3), (2, 3)],
    "dangling_star": [(1, 0), (2, 0), (3, 0)],
    "disconnected": [(1, 2), (2, 1), (10, 11), (11, 12), (20, 20)],
    "null_endpoints": [(1, 2), (2, None), (None, 3), (3, 4), (4, None)],
    "long_path": [(i, i + 1) for i in range(12)],
}


def _on_both_paths(monkeypatch, run):
    """``run()`` on the driver path (default cap) and on the distributed
    path (a negative cap); each result's (schema, (rows, jobs of the
    collect)). The driver result must plan a LocalTableScan."""
    local = run()
    assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()
    with monkeypatch.context() as m:
        m.setattr(io, "DRIVER_STATE_CAP", -1)
        dist = run()
    return (
        (local.schema, jobs_of(local.sparkSession, local.collect)),
        (dist.schema, (dist.collect(), 0)),
    )


def test_to_driver_is_one_bounded_read(spark, monkeypatch):
    """At most cap rows: the whole frame as one Arrow table, read by one
    job even over several partitions. Above the cap: None. A cap of 0
    still reads, so an empty frame is an empty table; a negative cap
    reads nothing."""
    df = spark.range(0, 40, 1, 4).select(F.col("id").alias("src"))
    table, jobs = jobs_of(spark, lambda: io.to_driver(df, 40))
    assert jobs == 1 and sorted(table.column("src").to_pylist()) == list(range(40))
    assert io.to_driver(df, 39) is None
    assert jobs_of(spark, lambda: io.to_driver(df, 0)) == (None, 1)
    empty = df.where(F.col("src") < 0)
    table, jobs = jobs_of(spark, lambda: io.to_driver(empty, 0))
    assert jobs == 1 and table.num_rows == 0
    monkeypatch.setattr(io, "DRIVER_STATE_CAP", -1)
    assert jobs_of(spark, lambda: io.to_driver(df)) == (None, 0)


def _edges(spark, name):
    return spark.createDataFrame(GRAPHS[name], "src: long, dst: long")


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_standard_driver_path_matches_distributed(spark, monkeypatch, name):
    edges = _edges(spark, name)
    (ls, (lrows, ljobs)), (ds, (drows, _)) = _on_both_paths(
        monkeypatch, lambda: G.pagerank_standard(spark, edges, iterations=7)
    )
    assert ljobs == 0
    assert ls == ds
    got, want = dict(map(tuple, lrows)), dict(map(tuple, drows))
    assert got.keys() == want.keys()
    assert all(got[v] == pytest.approx(want[v], rel=1e-12, abs=0) for v in want)


@pytest.mark.parametrize(
    "name, source, max_iter",
    [(name, 1, 64) for name in sorted(GRAPHS)]
    + [
        ("micro", 99, 64),  # absent source: all unreachable
        ("long_path", 0, 5),  # path longer than max_iter
        ("long_path", 0, 0),
    ],
)
def test_sssp_driver_path_matches_distributed(
    spark, monkeypatch, name, source, max_iter
):
    edges = _edges(spark, name)
    (ls, (lrows, ljobs)), (ds, (drows, _)) = _on_both_paths(
        monkeypatch, lambda: G.sssp(spark, edges, source, max_iter=max_iter)
    )
    assert ljobs == 0
    assert ls == ds
    assert sorted(map(tuple, lrows), key=repr) == sorted(map(tuple, drows), key=repr)
    if name == "long_path" and source == 0:
        got = dict(map(tuple, lrows))
        assert got[max_iter] == float(max_iter) and got[max_iter + 1] == G.INF


def test_loop_operators_keep_non_nullable_vertex_schema(spark, monkeypatch):
    """Edges with non-nullable ids (a ring built from spark.range): the
    driver path's vertex field must carry the same nullability."""
    nxt = F.when(F.col("id") == 5, F.lit(0)).otherwise(F.col("id") + 1)
    ring = spark.range(6).select(F.col("id").alias("src"), nxt.alias("dst"))
    for run in (
        lambda: G.pagerank_standard(spark, ring, iterations=3),
        lambda: G.sssp(spark, ring, 0),
    ):
        (ls, (lrows, _)), (ds, (drows, _)) = _on_both_paths(monkeypatch, run)
        assert ls == ds and not ls["vertex"].nullable
        assert sorted(lrows) == pytest.approx(sorted(drows), rel=1e-12)


_DIGITS = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]


@pytest.mark.parametrize(
    "values, k, kwargs, raises",
    [
        (_DIGITS, 4, {"fixed_iterations": 5}, None),
        (_DIGITS, 3, {"max_iter": 10}, None),
        ([5, 5, 5, 2], 4, {"fixed_iterations": 3}, None),  # k above the distinct values
        ([1, 2, 9, 10], 3, {"fixed_iterations": 2}, None),  # the middle cluster empties
        (
            [1.5, 2.5, 7.25, 8.0, 100.5], 2,
            {"max_iter": 6, "compat_truncate": True}, None,
        ),
        ([4, None, 1, 9, None], 2, {"fixed_iterations": 2}, None),  # NULL values
        # cluster 1 holds only the NULL: it has no mean on either path
        ([None, 10, 10], 2, {"fixed_iterations": 1}, TypeError),
    ],
)
def test_kmeans_1d_driver_path_matches_distributed(
    spark, monkeypatch, values, k, kwargs, raises
):
    points = spark.createDataFrame(
        [(None if v is None else float(v),) for v in values], "v double"
    )
    def run():
        return KM.kmeans_1d(points, "v", k=k, **kwargs)

    if raises:
        for cap in (io.DRIVER_STATE_CAP, -1):
            monkeypatch.setattr(io, "DRIVER_STATE_CAP", cap)
            with pytest.raises(raises):
                run()
        return
    (ls, (lrows, ljobs)), (ds, (drows, _)) = _on_both_paths(monkeypatch, run)
    assert ljobs == 0
    assert ls == ds
    assert sorted(map(tuple, lrows)) == sorted(map(tuple, drows))
    assert sum(r["n_points"] for r in lrows) == len(values)


def test_kmeans_1d_above_cap_aggregates_the_points_once(spark, monkeypatch):
    """Above the cap the bounded read loads the cached distinct-value
    table, so the rounds reuse it: every point is evaluated once, not
    once for the read and again for the rounds."""
    evaluated = spark.sparkContext.accumulator(0)

    def count(v):
        evaluated.add(1)
        return v

    values = [1.0, 2.0, 2.0, 3.0, 8.0, 9.0, 9.0, 10.0]
    points = spark.createDataFrame([(v,) for v in values], "v double").select(
        F.udf(count, "double")("v").alias("v")
    )
    monkeypatch.setattr(io, "DRIVER_STATE_CAP", 2)  # 6 distinct values
    out = KM.kmeans_1d(points, "v", k=2, fixed_iterations=3).collect()
    assert evaluated.value == len(values)
    assert sorted((r["centroid"], r["n_points"]) for r in out) == [(2.0, 4), (9.0, 4)]


@pytest.fixture(scope="module")
def follower_parquet(spark, tmp_path_factory):
    """A 5k-vertex / 50k-edge power-law follower graph in one parquet
    file — the benchmark's graph shape (FIXTURES.md §1)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(1)
    ids = rng.permutation(np.arange(1, 50_001))[:5_000]
    src = ids[rng.zipf(1.6, 50_000) % 5_000]
    dst = ids[rng.zipf(1.3, 50_000) % 5_000]
    path = str(tmp_path_factory.mktemp("follower") / "edges.parquet")
    pq.write_table(pa.table({"src": src, "dst": dst}), path)
    return path


def test_loop_operators_under_cap_run_only_the_bounded_read(spark, follower_parquet):
    """Under the cap each operator's only jobs are its bounded read's: one
    for the single-file edge list, four for k-means' distinct-value
    table (the follower-count and distinct-value aggregates each run as
    an AQE stage while the table is cached, and the cached table's
    partitions reach the limit through a single-partition exchange). The
    result is a local table: its collect runs no job."""
    edges = spark.read.parquet(follower_parquet)
    source = edges.first()["src"]
    cases = [
        (lambda: G.pagerank_standard(spark, edges, iterations=10), 1),
        (lambda: G.sssp(spark, edges, source), 1),
        (lambda: G.connected_components(spark, edges), 1),
        (
            lambda: KM.kmeans_1d(
                R.follower_count(edges), "cnt", k=4, fixed_iterations=6
            ),
            4,
        ),
    ]
    for run, budget in cases:
        out, jobs = jobs_of(spark, run)
        assert jobs == budget
        assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
        rows, jobs = jobs_of(spark, out.collect)
        assert jobs == 0 and rows


def test_loop_operators_under_cap_leave_session_conf_alone(spark, micro_graph):
    """Under the cap no operator enters loop_conf: the session's conf is
    identical before and after each call."""
    points = spark.createDataFrame([(1.0,), (2.0,), (9.0,)], "v double")
    for run in (
        lambda: G.pagerank_standard(spark, micro_graph),
        lambda: G.sssp(spark, micro_graph, 1),
        lambda: KM.kmeans_1d(points, "v", k=2),
    ):
        before = spark.conf.getAll
        run().collect()
        assert spark.conf.getAll == before
