"""Sources/sinks round-trips, RDD-strategy parity, salting equivalence,
bucketed-join exchange elimination, SSSP path reconstruction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducelearnings_spark.catalog import follower_edges, load_table
from mapreducelearnings_spark.functions import skew as SK
from mapreducelearnings_spark.operators import graph as G
from mapreducelearnings_spark.operators import rdd_parity as RP
from mapreducelearnings_spark.operators import relational as R
from mapreducelearnings_spark.sources import io as IO


# --- sources / sinks --------------------------------------------------------


def test_csv_roundtrip_with_separator(spark, sf_dir, tmp_path):
    """Text sink with separator (RepJoin/.../CountFollowers.java:130) and
    schema-required CSV scan round-trip losslessly."""
    edges = follower_edges(spark, sf_dir).limit(500)
    path = str(tmp_path / "edges_csv")
    IO.write_csv(edges, path, sep="|")
    back = IO.read_csv(spark, path, "src BIGINT, dst BIGINT", sep="|")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, edges.collect()))


def test_text_scan_and_edge_parse_drops_malformed(spark, tmp_path):
    """The reference's split-by-comma parse with row sanity predicates
    (K-means/.../CountFollowers.java:38; RepJoin:49)."""
    p = tmp_path / "edges.txt"
    p.write_text("1,2\n3,4\nbad\n5,\n,6\nx,y\n7,8\n")
    lines = IO.read_text(spark, str(p))
    parsed = IO.parse_edge_lines(lines)
    assert sorted(map(tuple, parsed.collect())) == [(1, 2), (3, 4), (7, 8)]


def test_text_tuple_sink_byte_parity(spark, tmp_path):
    """Golden-file byte parity with the reference's saveAsTextFile on an
    RDD[(k, v)] — Scala Tuple2.toString lines, ``(k,v)`` with no space
    (ReduceByKey/.../FollowersCount.scala:29)."""
    df = spark.createDataFrame(
        [("12", 3), ("7", 1), ("alice", 42)], "k: string, v: int"
    ).coalesce(1)
    path = tmp_path / "tuples_txt"
    IO.write_text_tuples(df, str(path))
    data = b"".join(
        p.read_bytes() for p in sorted(path.glob("part-*"))
    )
    assert sorted(data.splitlines()) == sorted(
        [b"(12,3)", b"(7,1)", b"(alice,42)"]
    )


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_pq")
    IO.write_parquet(docs, path)
    assert IO.read_parquet(spark, path).count() == docs.count()


def test_orc_roundtrip_pushes_filters(spark, sf_dir, tmp_path):
    """ORC sink/scan roundtrip with the same pushdown contract as
    parquet: values survive and a filtered read shows PushedFilters at
    the scan."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "orders_orc")
    IO.write_orc(orders, path)
    back = IO.read_orc(spark, path)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    q = back.where(F.col("o_orderkey") <= 100).select("o_orderkey")
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(o_orderkey,100)" in plan


def test_bucketed_join_eliminates_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with NO
    Exchange — the durable co-partitioning that replaces the reference's
    HashPartitioner(3) (PageRankRDD/.../FollowerCount.scala:53-55)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    IO.write_bucketed(orders, "t_orders_b", "o_custkey", 8, sort_col="o_custkey")
    IO.write_bucketed(customer, "t_customer_b", "c_custkey", 8, sort_col="c_custkey")
    o = IO.read_table(spark, "t_orders_b")
    c = IO.read_table(spark, "t_customer_b")
    joined = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert joined.count() == orders.join(customer, orders.o_custkey == customer.c_custkey).count()


# --- RDD strategy parity ----------------------------------------------------


@pytest.mark.parametrize("strategy", RP.STRATEGIES)
def test_rdd_strategies_match_dataframe_path(spark, sf_dir, strategy):
    """All four reference *ByKey modules compute the same grouped count;
    each RDD twin must equal the engine's DataFrame path."""
    edges = follower_edges(spark, sf_dir)
    expect = sorted(map(tuple, R.follower_count(edges).collect()))
    got = sorted(map(tuple, RP.follower_count_rdd(spark, edges, strategy).collect()))
    assert got == expect


# --- salting ----------------------------------------------------------------


def test_salted_aggregations_match_direct(spark, sf_dir):
    edges = follower_edges(spark, sf_dir)
    direct = sorted(map(tuple, R.follower_count(edges).collect()))
    salted = sorted(map(tuple, SK.salted_count(edges, "dst").collect()))
    assert salted == direct

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), F.col("l_quantity").alias("v")
    )
    a = {r["k"]: round(r["val_sum"], 6) for r in SK.salted_sum(li, "k", "v").collect()}
    b = {
        r["k"]: round(r["val_sum"], 6)
        for r in li.groupBy("k").agg(F.sum("v").alias("val_sum")).collect()
    }
    assert a == b


# --- SSSP paths -------------------------------------------------------------


def test_sssp_paths_micro_graph(spark):
    """Hand-solved: 1→2→3, 1→4→3 (tie on 3 broken by min-predecessor 2),
    3→1 cycle, 5→6 unreachable."""
    rows = [(1, 2), (2, 3), (1, 4), (4, 3), (3, 1), (5, 6)]
    edges = spark.createDataFrame(rows, "src: long, dst: long")
    got = {r["vertex"]: (r["dist"], list(r["path"])) for r in
           G.sssp_with_paths(spark, edges, 1).collect()}
    assert got[1] == (0.0, [1])
    assert got[2] == (1.0, [1, 2])
    assert got[4] == (1.0, [1, 4])
    assert got[3] == (2.0, [1, 2, 3])  # min-predecessor tiebreak: via 2, not 4
    assert 5 not in got and 6 not in got  # unreachable ⇒ no path row


def test_sssp_paths_distances_consistent_with_sssp(spark, sf_dir):
    from mapreducelearnings_spark.catalog import graph_edges

    edges = graph_edges(spark, sf_dir)
    plain = {
        r["vertex"]: r["dist"]
        for r in G.sssp(spark, edges, 1).collect()
        if r["dist"] != G.INF
    }
    withp = {r["vertex"]: r["dist"] for r in G.sssp_with_paths(spark, edges, 1).collect()}
    assert plain == withp


# --- as-of join -------------------------------------------------------------


def test_asof_join_hand_computed(spark):
    """Hand-built point-in-time fixture: matches must take the latest
    right row at-or-before the left ts, with (ts, tiebreak) ordering,
    and NULL-fill when nothing precedes."""
    from mapreducelearnings_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [
            (1, 10, 100.0, 1),   # key 1: quotes at t=10 (two, ids 1,2), t=20
            (1, 10, 101.0, 2),
            (1, 20, 102.0, 3),
            (2, 15, 200.0, 4),
        ],
        "k: long, t: long, px: double, qid: long",
    )
    trades = spark.createDataFrame(
        [
            (1, 5, 900),    # before any quote → NULL
            (1, 10, 901),   # equal ts → latest tiebreak quote (qid 2)
            (1, 25, 902),   # after all → qid 3
            (2, 15, 903),   # exact match
            (3, 50, 904),   # key with no quotes → NULL
        ],
        "k: long, t: long, trade_id: int",
    )
    out = asof_join(
        trades, quotes, "k", "t", "t",
        right_payload=["px", "qid"], tiebreak="qid",
    )
    got = {r["trade_id"]: (r["px"], r["qid"]) for r in out.collect()}
    assert got[900] == (None, None)
    assert got[901] == (101.0, 2)  # equal-ts: highest tiebreak wins
    assert got[902] == (102.0, 3)
    assert got[903] == (200.0, 4)
    assert got[904] == (None, None)
    assert out.count() == trades.count()  # left join: every trade kept


def test_observation_metrics_ride_the_pass(spark, sf_dir):
    """df.observe() — the engine's counter channel (the reference
    piggybacks Hadoop Counters on the map pass the same way,
    K-means/.../CountFollowers.java:56-63): row count, sum and
    conditional count collected DURING a query's one pass, no second
    scan, values equal to their standalone-aggregate twins."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mapreducelearnings_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    )
    # one action drives the scan; metrics materialize as a side effect
    out_rows = observed.where(F.col("l_quantity") > 25).count()
    got = obs.get
    exact = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    ).collect()[0]
    assert got["n_rows"] == exact["n_rows"]
    assert got["sum_qty"] == exact["sum_qty"]
    assert got["n_returned"] == exact["n_returned"]
    assert 0 < out_rows < got["n_rows"]


def test_asof_join_cogroup_agrees_with_window_twin(spark, sf_dir):
    """The cogroup-applyInPandas as-of twin must agree with the
    union+window operator on BOTH the hand-built edge-case fixture
    (NULL-fill, equal-ts tiebreak, right-less keys) and the real
    events⋈orders query shape — the two physical strategies are
    interchangeable by contract."""
    from mapreducelearnings_spark.operators.asof import (
        asof_join,
        asof_join_cogroup,
    )

    quotes = spark.createDataFrame(
        [(1, 10, 100.0, 1), (1, 10, 101.0, 2), (1, 20, 102.0, 3),
         (2, 15, 200.0, 4)],
        "k: long, t: long, px: double, qid: long",
    )
    trades = spark.createDataFrame(
        [(1, 5, 900), (1, 10, 901), (1, 25, 902), (2, 15, 903),
         (3, 50, 904)],
        "k: long, t: long, trade_id: int",
    )
    args = dict(key="k", left_ts="t", right_ts="t",
                right_payload=["px", "qid"], tiebreak="qid")
    w = {tuple(r) for r in asof_join(trades, quotes, **args).collect()}
    c = {tuple(r) for r in asof_join_cogroup(trades, quotes, **args).collect()}
    assert c == w

    from mapreducelearnings_spark.queries import REGISTRY

    w2 = {tuple(r) for r in
          REGISTRY["asof_latest_order"].spark(spark, sf_dir).collect()}
    c2 = {tuple(r) for r in
          REGISTRY["asof_latest_order_cogroup"].spark(spark, sf_dir).collect()}
    assert c2 == w2


def test_json_roundtrip_with_schema(spark, tmp_path):
    """JSONL sink/scan with a REQUIRED schema (same contract as the CSV
    reader: no inference pass)."""
    from mapreducelearnings_spark.sources import io as IO

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, None, 0.25)],
        "id: long, tag: string, val: double",
    )
    path = str(tmp_path / "rows.jsonl")
    df.write.mode("overwrite").json(path)
    back = IO.read_json(spark, path, "id long, tag string, val double")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_python_datasource_chain_edges_matches_generator(spark):
    """The chain_edges Python Data Source (Spark 4 connector API) must
    produce exactly the operators/graph.chain_graph edge set, arrive as
    Arrow batches across several partitions, and push src-range
    predicates into partition planning (a narrowed read plans FEWER
    partitions — generate-only-what's-asked, the same contract as
    parquet's PushedFilters)."""
    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    from mapreducelearnings_spark.operators.graph import chain_graph
    from mapreducelearnings_spark.sources.pydatasource import (
        ChainEdgesReader,
        register_chain_edges,
    )

    register_chain_edges(spark)
    got = spark.read.format("chain_edges").option("k", "10").load()
    expect = chain_graph(spark, 10)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expect.collect()
    }

    # filtered read stays correct through the pushdown path
    filtered = {
        tuple(r)
        for r in spark.read.format("chain_edges")
        .option("k", "10")
        .load()
        .where("src > 20 AND src <= 40")
        .collect()
    }
    assert filtered == {
        tuple(r) for r in expect.where("src > 20 AND src <= 40").collect()
    }

    # unit-level: consumed range filters narrow partition planning
    full = ChainEdgesReader({"k": "10", "partitions": "8"})
    assert len(full.partitions()) == 8
    narrowed = ChainEdgesReader({"k": "10", "partitions": "8"})
    leftover = list(
        narrowed.pushFilters(
            [GreaterThan(("src",), 20), LessThanOrEqual(("src",), 40)]
        )
    )
    assert leftover == []  # both consumed exactly
    assert (narrowed.lo, narrowed.hi) == (21, 40)
    assert len(narrowed.partitions()) < 8


def test_python_datasource_stream_reader_drains_full_graph(spark, tmp_path):
    """Streaming variant of the connector (DataSourceStreamReader):
    micro-batches advance the offset by rows_per_batch until the k² cap;
    the drained append-mode result must be exactly the full edge set,
    each edge exactly once (offset ranges partition the id space)."""
    from mapreducelearnings_spark.operators.graph import chain_graph
    from mapreducelearnings_spark.sources.pydatasource import (
        register_chain_edges,
    )

    register_chain_edges(spark)
    src = (
        spark.readStream.format("chain_edges")
        .option("k", "10")
        .option("rows_per_batch", "30")
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("t_chain_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM t_chain_stream").collect()
    expect = chain_graph(spark, 10)
    assert len(rows) == 100  # exactly-once: no range replayed
    assert {tuple(r) for r in rows} == {tuple(r) for r in expect.collect()}


def test_write_zordered_bounds_files_in_both_dims(spark, sf_dir, tmp_path):
    """Physical z-order layout: each written FILE (not just each sorted
    slice) must cover a bounded rectangle in both original dimensions,
    so a quarter-range predicate on either column skips most files —
    the multi-dim pruning a user_id-sorted layout cannot give."""
    import os

    from mapreducelearnings_spark.queries import REGISTRY
    from mapreducelearnings_spark.sources.io import write_zordered

    z = REGISTRY["zorder_values"].spark(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id",
        "user_id",
        "unix_micros(ts::timestamp) div 60000000 as mins",
    )
    out = str(tmp_path / "events_z")
    write_zordered(z.join(ev, "event_id"), out, "zval", n_files=16)

    files = [
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]
    assert len(files) >= 8
    stats = []
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf):
            stats.append(
                (pdf.user_id.min(), pdf.user_id.max(), pdf.mins.min(), pdf.mins.max())
            )
    ulo = min(s[0] for s in stats); uhi = max(s[1] for s in stats)
    tlo = min(s[2] for s in stats); thi = max(s[3] for s in stats)
    uq_hi = ulo + (uhi - ulo) // 4
    tq_hi = tlo + (thi - tlo) // 4
    u_touch = sum(1 for s in stats if not (s[1] < ulo or s[0] > uq_hi))
    t_touch = sum(1 for s in stats if not (s[3] < tlo or s[2] > tq_hi))
    # both quarter-range predicates must skip at least ~40% of files
    assert u_touch <= len(stats) * 0.6, (u_touch, len(stats))
    assert t_touch <= len(stats) * 0.6, (t_touch, len(stats))


def test_compact_parquet_reduces_files_and_preserves_data(spark, sf_dir, tmp_path):
    import os

    from mapreducelearnings_spark.sources.io import compact_parquet

    path = str(tmp_path / "tiny_files")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    src.repartition(64).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 32
    before = src.count()
    compact_parquet(spark, path, target_files=4)
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(names) <= 4
    after_df = spark.read.parquet(path)
    assert after_df.count() == before
    # spot-check content equality (order-insensitive)
    assert (
        after_df.agg(F.sum("event_id")).first()[0]
        == src.agg(F.sum("event_id")).first()[0]
    )


def test_compact_parquet_target_bytes_unpartitioned(spark, sf_dir, tmp_path):
    """target_bytes on a FLAT dataset (r14): the rewrite sizes the
    file count from measured bytes/row — a small target yields several
    bounded files (rows per file ≤ the derived maxRecordsPerFile), a
    huge one collapses to a single file — and the row multiset is
    preserved either way."""
    import os

    from mapreducelearnings_spark.sources.io import compact_parquet

    path = str(tmp_path / "tbytes_flat")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    src.repartition(16).write.parquet(path)
    total_rows = src.count()
    total_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    checksum = src.agg(
        F.sum("event_id").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()

    target = max(1, total_bytes // 5)
    compact_parquet(spark, path, target_files=1, target_bytes=target)
    records_per_file = max(1, int(target * total_rows // total_bytes))
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(names) >= 2, names
    for f in names:
        assert (
            spark.read.parquet(os.path.join(path, f)).count()
            <= records_per_file
        ), f
    got = spark.read.parquet(path).agg(
        F.sum("event_id").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()
    assert (got["s"], got["c"]) == (checksum["s"], checksum["c"])

    compact_parquet(
        spark, path, target_files=1, target_bytes=total_bytes * 10
    )
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(names) == 1, names
    got = spark.read.parquet(path).agg(
        F.sum("event_id").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()
    assert (got["s"], got["c"]) == (checksum["s"], checksum["c"])


def test_doc_provenance_metadata_is_real_path(spark, sf_dir):
    """doc_provenance's oracle pins the basename (the view can't expose
    DuckDB's filename= column), so the REAL evidence that Spark's
    hidden _metadata struct works lives here: file_path must be an
    existing file whose basename equals the query's file_name, and
    file_size must match the on-disk size."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = docs.select(
        "_metadata.file_path", "_metadata.file_name", "_metadata.file_size"
    ).first()
    path = row["file_path"]
    local = path.removeprefix("file://").removeprefix("file:")
    assert os.path.exists(local)
    assert os.path.basename(local) == row["file_name"] == "documents.parquet"
    assert os.path.getsize(local) == row["file_size"]


def test_udtf_sentence_counts_agree_with_codegen_twin(spark, sf_dir):
    """The Python UDTF and the pure-codegen sentence_stats path share
    one sentence contract: per-doc sentence counts must be identical
    (docs with zero sentences appear only in the stats twin, with 0)."""
    from mapreducelearnings_spark.queries import REGISTRY

    udtf_counts = {
        r["doc_id"]: r["n"]
        for r in REGISTRY["sentence_split_udtf"]
        .spark(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stats = {
        r["doc_id"]: r["n_sentences"]
        for r in REGISTRY["sentence_stats"].spark(spark, sf_dir).collect()
    }
    for doc_id, n in stats.items():
        assert udtf_counts.get(doc_id, 0) == n, doc_id
    assert set(udtf_counts) <= set(stats)


def test_corrupt_file_handling_modes(spark, sf_dir, tmp_path):
    """Operational contract for a 100 TB ingest dir with a bad shard:
    default read FAILS loudly on a corrupt parquet footer (silent
    partial data is worse than an error), while
    spark.sql.files.ignoreCorruptFiles=true skips the bad file and
    returns every row of the good ones."""
    import shutil

    import pytest as _pytest

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", str(d / "good.parquet"))
    (d / "bad.parquet").write_bytes(b"PAR1 this is not a real parquet file")
    good_rows = spark.read.parquet(f"{sf_dir}/region.parquet").count()

    with _pytest.raises(Exception):
        spark.read.parquet(str(d)).count()

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        # schema given explicitly: inference itself would read the bad
        # footer at PLANNING time, before the scan-time skip applies
        schema = spark.read.parquet(f"{sf_dir}/region.parquet").schema
        assert spark.read.schema(schema).parquet(str(d)).count() == good_rows
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_python_datasource_jsonl_sink_commit_protocol(spark, sf_dir, tmp_path):
    """The write side of the Python Data Source API: a successful save
    publishes exactly the committed part files (no temp residue) and
    round-trips the data; an injected task failure ABORTS the job and
    leaves no visible part files behind."""
    import os

    from mapreducelearnings_spark.sources.pydatasource import (
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    edges = follower_edges(spark, sf_dir).limit(200)

    out = str(tmp_path / "jsonl_ok")
    edges.write.format("pyjsonl").mode("append").option("path", out).save()
    names = sorted(os.listdir(out))
    assert names and all(n.startswith("part-") for n in names)
    back = spark.read.schema("dst long, src long").json(out)
    assert sorted(map(tuple, back.select("src", "dst").collect())) == sorted(
        map(tuple, edges.collect())
    )

    bad = str(tmp_path / "jsonl_fail")
    first_src = edges.first()["src"]
    with pytest.raises(Exception):
        (
            edges.write.format("pyjsonl")
            .mode("append")
            .option("path", bad)
            .option("fail_on_value", str(first_src))
            .save()
        )
    leftover = os.listdir(bad) if os.path.exists(bad) else []
    assert not [n for n in leftover if n.startswith("part-")]


def test_python_datasource_jsonl_sink_overwrite_and_append(
    spark, sf_dir, tmp_path
):
    """Re-save semantics: mode('overwrite') over a previous run with
    MORE partitions must clear every stale part file (fewer new
    partitions ⇒ stale part-NNNNN residue would silently corrupt the
    dataset), and back-to-back mode('append') saves must not collide on
    part indices — the second save adds rows instead of clobbering the
    first run's part-00000."""
    import os

    from mapreducelearnings_spark.sources.pydatasource import (
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    edges = follower_edges(spark, sf_dir).limit(120)

    out = str(tmp_path / "jsonl_over")
    edges.repartition(6).write.format("pyjsonl").mode("overwrite").option(
        "path", out
    ).save()
    assert len([n for n in os.listdir(out) if n.startswith("part-")]) == 6
    small = edges.limit(40)
    small.repartition(2).write.format("pyjsonl").mode("overwrite").option(
        "path", out
    ).save()
    assert len([n for n in os.listdir(out) if n.startswith("part-")]) == 2
    back = spark.read.schema("dst long, src long").json(out)
    assert sorted(map(tuple, back.select("src", "dst").collect())) == sorted(
        map(tuple, small.collect())
    )

    ap = str(tmp_path / "jsonl_app")
    small.repartition(2).write.format("pyjsonl").mode("append").option(
        "path", ap
    ).save()
    small.repartition(2).write.format("pyjsonl").mode("append").option(
        "path", ap
    ).save()
    assert len([n for n in os.listdir(ap) if n.startswith("part-")]) == 4
    back2 = spark.read.schema("dst long, src long").json(ap)
    assert back2.count() == 2 * small.count()


def test_jsonl_sink_overwrite_publishes_before_sweeping(tmp_path):
    """Crash-ordering contract of the overwrite commit: new part files
    are renamed IN before stale parts are deleted, and the stale sweep
    matches on the run suffix — so a crash mid-commit leaves old+new (a
    recoverable superset), never an emptied directory. White-box: a
    commit over a directory holding a prior run's part file must (a)
    keep the new data, (b) remove exactly the prior-run file."""
    import json
    import os

    from mapreducelearnings_spark.sources.pydatasource import (
        JsonlSinkWriter,
        _JsonlCommit,
    )

    out = tmp_path / "jsonl_crash"
    out.mkdir()
    stale = out / "part-00000-deadbeef.jsonl"
    stale.write_text(json.dumps({"src": 0, "dst": 0}) + "\n")
    tmp = out / "_tmp_feedc0de.jsonl"
    tmp.write_text(json.dumps({"src": 1, "dst": 2}) + "\n")

    w = JsonlSinkWriter({"path": str(out)}, overwrite=True)
    w.commit([_JsonlCommit(tmp_file=str(tmp), rows=1)])

    names = sorted(n for n in os.listdir(out) if n.startswith("part-"))
    assert len(names) == 1 and names[0].startswith("part-00000-")
    assert names[0] != stale.name
    assert json.loads((out / names[0]).read_text())["dst"] == 2

    # manifest contract: _committed.json names the winning run, and
    # committed_parts filters to exactly that run even when a stale
    # part lingers (the publish->sweep crash window)
    from mapreducelearnings_spark.sources.pydatasource import committed_parts

    run = json.loads((out / "_committed.json").read_text())["run"]
    assert names[0].endswith(f"-{run}.jsonl")
    (out / "part-00099-0ddba11c.jsonl").write_text("{}\n")  # fake stale
    assert [os.path.basename(p) for p in committed_parts(str(out))] == [
        names[0]
    ]


def test_jsonl_append_after_overwrite_clears_manifest(tmp_path):
    """ADVICE r7: an append onto a previously-overwritten directory must
    not leave the old single-run manifest behind — committed_parts()
    would silently hide every appended part. The append commit removes
    the manifest (its commit point for manifest readers), after which
    committed_parts falls back to ALL visible parts."""
    import json
    import os

    from mapreducelearnings_spark.sources.pydatasource import (
        JsonlSinkWriter,
        _JsonlCommit,
        committed_parts,
    )

    out = tmp_path / "jsonl_ow_then_app"
    out.mkdir()
    tmp1 = out / "_tmp_00000001.jsonl"
    tmp1.write_text(json.dumps({"src": 1, "dst": 1}) + "\n")
    JsonlSinkWriter({"path": str(out)}, overwrite=True).commit(
        [_JsonlCommit(tmp_file=str(tmp1), rows=1)]
    )
    assert (out / "_committed.json").exists()

    tmp2 = out / "_tmp_00000002.jsonl"
    tmp2.write_text(json.dumps({"src": 2, "dst": 2}) + "\n")
    JsonlSinkWriter({"path": str(out)}, overwrite=False).commit(
        [_JsonlCommit(tmp_file=str(tmp2), rows=1)]
    )
    assert not (out / "_committed.json").exists()
    parts = committed_parts(str(out))
    assert len(parts) == 2  # both the overwrite run and the append run
    assert sorted(os.path.basename(p) for p in parts) == sorted(
        n for n in os.listdir(out) if n.startswith("part-")
    )


def test_secondary_sort_rdd_twin_matches(spark, sf_dir):
    """The MR-native secondary sort — repartitionAndSortWithinPartitions
    on a (group, sort) composite key with a group-only partitioner, then
    a streaming per-partition group walk — must produce exactly the
    registered declarative query's output. This is the 100 TB fallback
    for groups too large to collect_list: values arrive at the reducer
    already ordered, O(1) memory per group."""
    from mapreducelearnings_spark.queries import REGISTRY

    n_parts = 8
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber"
    )
    pairs = li.rdd.map(
        lambda r: (
            (r.l_suppkey, (r.l_shipdate, r.l_orderkey, r.l_linenumber)),
            r.l_orderkey,
        )
    )
    shuffled = pairs.repartitionAndSortWithinPartitions(
        numPartitions=n_parts, partitionFunc=lambda k: hash(k[0]) % n_parts
    )

    def walk_groups(it):
        cur, acc = None, []
        for (suppkey, _sort_key), orderkey in it:
            if suppkey != cur:
                if cur is not None:
                    yield (cur, len(acc), ",".join(acc))
                cur, acc = suppkey, []
            acc.append(str(orderkey))
        if cur is not None:
            yield (cur, len(acc), ",".join(acc))

    rdd_rows = sorted(shuffled.mapPartitions(walk_groups).collect())
    df_rows = sorted(
        map(
            tuple,
            REGISTRY["secondary_sort_orders"]
            .spark(spark, sf_dir)
            .select("l_suppkey", "n_items", "ordered_orders")
            .collect(),
        )
    )
    assert rdd_rows == df_rows
