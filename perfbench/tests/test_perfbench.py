"""Self-tests for the benchmark's own pieces (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import os
import sys
import types

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import datagen  # noqa: E402
import gate  # noqa: E402
import reference as ref  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# -- generator ---------------------------------------------------------------


def test_edge_csv_is_byte_identical_per_seed(tmp_path):
    paths = []
    for i, seed in enumerate((7, 7, 8)):
        p = tmp_path / f"e{i}.csv"
        datagen.write_edges_csv(str(p), datagen.make_edges(seed, 500, 5000))
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_edges_have_the_reference_input_shape():
    e = datagen.make_edges(3, 1000, 10_000)
    assert e.shape == (10_000, 2)
    assert not (e[:, 0] == e[:, 1]).any()  # no self-loops
    pairs = {tuple(x) for x in e.tolist()}
    assert len(pairs) < len(e)  # duplicate edges
    assert set(e[:, 1]) - set(e[:, 0])  # vertices with no out-edges
    assert e.max() > 3 * 1000  # ids reach past the max-filter cap


def test_tables_are_deterministic_per_seed():
    a = datagen.make_tables(0.001, 42)
    b = datagen.make_tables(0.001, 42)
    c = datagen.make_tables(0.001, 43)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


# -- tail percentile ---------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(25, 0, -1)]
    value, pct, beyond = stats.tail(values)
    assert value == 15.0
    assert beyond == 10 == sum(v > value for v in values)
    assert pct == pytest.approx(100 * 14 / 24)


def test_tail_with_twenty_one_samples_is_the_median():
    value, pct, beyond = stats.tail([float(v) for v in range(21)])
    assert (value, pct, beyond) == (10.0, 50.0, 10)


def test_tail_below_twenty_one_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([float(v) for v in range(20)]) == (19.0, 100.0, 0)


def test_stopwatch_removes_the_stolen_share(monkeypatch):
    clock = iter([10.0, 14.0])
    ticks = iter([[0] * 10, [200, 0, 100, 50, 0, 0, 0, 100, 0, 0]])
    monkeypatch.setattr(stats.time, "perf_counter", lambda: next(clock))
    monkeypatch.setattr(stats, "cpu_ticks", lambda: next(ticks))
    # busy = user + system = 300 ticks, steal = 100: 3/4 of the runnable
    # time was the guest's
    assert stats.Stopwatch().stop() == (4.0, 3.0)


def test_latency_summary_geomean_is_over_per_query_medians():
    out = stats.latency_summary([("a", 1.0), ("a", 3.0), ("b", 8.0)])
    assert out["latency_geomean_s"] == pytest.approx((2.0 * 8.0) ** 0.5)
    assert out["latency_p50_s"] == 3.0


# -- correctness gate --------------------------------------------------------


def test_oracle_check_flags_a_perturbed_result():
    con = duckdb.connect()
    check = gate.oracle_check(
        con, "SELECT * FROM (VALUES (1, 2.5), (2, 3.5)) t(k, v)"
    )
    assert check([(2, 3.5), (1, 2.5)], ["k", "v"]) is None
    assert check([(1, 2.5), (2, 3.5000001)], ["k", "v"]) is not None
    assert check([(1, 2.5)], ["k", "v"]) is not None
    assert check([(1, 2.5), (2, 3.5)], ["k", "w"]) is not None


GRAPH = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 7), (1, 2)]


def _reference_rows():
    counts = ref.follower_count(GRAPH)
    clusters = ref.kmeans_1d(counts.values(), 2, 3)
    return {
        "edge_ingest": [(len(GRAPH),)],
        "follower_count": list(counts.items()),
        "pagerank": list(ref.pagerank_standard(GRAPH).items()),
        "sssp": list(ref.sssp(GRAPH, 1).items()),
        "connected_components": list(ref.connected_components(GRAPH).items()),
        "triangles": [(ref.triangle_count(GRAPH, 5),)],
        "kmeans": [(cid, c, n) for cid, (c, n) in clusters.items()],
    }


def test_graph_checks_accept_reference_rows_and_flag_perturbations():
    checks = gate.graph_checks(GRAPH, source=1, cap=5, k=2, rounds=3)
    rows = _reference_rows()
    for name, check in checks.items():
        assert check(rows[name], []) is None, name

    def perturbed(name, i, fn):
        r = list(rows[name])
        r[i] = fn(r[i])
        return checks[name](r, [])

    assert perturbed("pagerank", 0, lambda r: (r[0], r[1] * (1 + 1e-6)))
    assert perturbed("sssp", 0, lambda r: (r[0], r[1] + 1.0))
    assert perturbed("connected_components", 0, lambda r: (r[0], r[1] + 100))
    assert perturbed("kmeans", 0, lambda r: (r[0], r[1], r[2] + 1))
    assert perturbed("follower_count", 0, lambda r: (r[0], r[1] + 1))
    assert checks["triangles"]([(rows["triangles"][0][0] + 1,)], []) is not None
    assert checks["sssp"](rows["sssp"][1:], []) is not None  # a vertex lost


def test_reference_semantics_on_a_hand_solved_graph():
    dist = ref.sssp(GRAPH, 1)
    assert dist[4] == 3.0 and dist[6] == float("inf")
    comps = ref.connected_components(GRAPH)
    assert comps[5] == 1 and comps[7] == 6
    assert ref.triangle_count(GRAPH, 5) == 1
    assert sum(ref.pagerank_standard(GRAPH).values()) == pytest.approx(1.0)


def test_recall_counts_found_exact_pairs():
    exact = [(0, 1), (0, 2), (1, 3), (1, 4)]
    assert gate.recall([(0, 1), (0, 9), (1, 3), (1, 4)], exact) == 0.75


# -- spans -------------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_the_union_of_direct_children():
    clock = FakeClock()
    tr = spans.Tracer(clock)
    with tr.span("parent") as parent:  # [0, 10]
        clock.t = 1
        with tr.span("a"):  # [1, 5]: closes after its child b
            clock.t = 2
            with tr.span("b"):  # [2, 5] overlaps a
                with tr.span("grandchild"):  # not a direct child of parent
                    clock.t = 5
        clock.t = 8
        with tr.span("c"):  # [8, 10]
            clock.t = 10
    a = tr.spans[1]
    assert a.end == 5  # a closes after its child b
    assert parent.duration == 10
    # children of parent: a [1, 5], c [8, 10] -> covered 6
    assert tr.self_time(parent) == pytest.approx(4.0)
    assert tr.total("parent", self_only=True) == pytest.approx(4.0)
    assert tr.self_time(a) == pytest.approx(1.0)  # b covers [2, 5]


def test_covered_merges_overlaps_and_gaps():
    assert spans._covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans._covered([]) == 0


def test_instrumenter_patches_every_binding_and_restores(monkeypatch):
    mod = types.ModuleType("pkgx.layer")

    def work(x):
        # re-enters the layer through the module binding
        return 0 if x == 0 else mod.work(x - 1) + 1

    mod.work = work
    other = types.ModuleType("pkgx.user")
    other.work = work  # a `from layer import work` binding
    monkeypatch.setitem(sys.modules, "pkgx.layer", mod)
    monkeypatch.setitem(sys.modules, "pkgx.user", other)
    tr = spans.Tracer()
    with spans.Instrumenter(tr, "pkgx") as inst:
        inst.wrap(work, "layer")
        assert other.work(3) == 3 and mod.work(2) == 2
    assert other.work is work and mod.work is work
    # the nested calls fold into the outer span: one span per outer call
    assert [s.name for s in tr.spans] == ["layer", "layer"]


def test_event_log_totals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "exec-a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "untimed"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 100}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0, "Submission Time": 100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 150},
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500,
                          "Peak Execution Memory": 64,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                          "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 0,
                          "Input Metrics": {"Bytes Read": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 150}, "Task Metrics": {"Executor CPU Time": 9e9}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    out = spans.event_log_totals(str(tmp_path), "untimed")
    assert out["spark.jobs"] == 1
    assert out["spark.stages"] == 1  # stage 1 was skipped, stage 2 is untimed
    assert out["spark.tasks"] == 1
    assert out["spark.task_wait_s"] == pytest.approx(0.05)
    assert out["spark.executor_cpu_s"] == pytest.approx(2.0)
    assert out["spark.gc_s"] == pytest.approx(0.5)
    assert out["spark.shuffle_read_bytes"] == 3
    assert out["spark.shuffle_write_bytes"] == 5
    assert out["spark.spill_bytes"] == 7
    assert out["spark.peak_exec_mem_bytes"] == 64
    assert out["catalog.scan_bytes"] == 11
