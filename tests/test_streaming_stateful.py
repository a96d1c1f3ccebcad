"""Partition-pruned layouts and the custom stateful streaming operator."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from mapreducelearnings_spark.catalog import load_table
from mapreducelearnings_spark.sources import io as IO
from mapreducelearnings_spark.streaming import windows as SW


@pytest.mark.parametrize(
    "raw, want",
    [(None, 8), ("16", 16), ("1", 1), ("0", 8), ("-3", 8), ("", 8), ("wide", 8), ("2.5", 8)],
)
def test_drain_partitions_env_knob(monkeypatch, raw, want):
    """$SPARK_GRAFT_STREAM_SHUFFLE sets the drain width; a malformed value
    or one below 1 falls back to the default instead of failing the
    stream or setting an invalid shuffle width."""
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", raw)
    assert SW._drain_partitions() == want


def test_drain_leaves_caller_conf_alone_while_running(spark, sf_dir, tmp_path):
    """A drain writes the caller's session conf only around start(): a
    foreachBatch body polling the caller's conf while the query still
    runs reads the caller's own shuffle width and AQE flag, not the
    drain's width (3) or a flipped AQE. A scope held through
    awaitTermination() would keep the poll from ever seeing them."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    want = tuple(spark.conf.get(k) for k in keys)
    assert want[0] != "3"
    seen = []

    def body(batch_df, batch_id):
        deadline = time.monotonic() + 10
        got = tuple(spark.conf.get(k) for k in keys)
        while got != want and time.monotonic() < deadline:
            time.sleep(0.05)
            got = tuple(spark.conf.get(k) for k in keys)
        seen.append(got)

    SW._drain(
        SW.stream_events(spark, sf_dir),
        width=3,
        batch=body,
        checkpoint=str(tmp_path / "ck"),
    )
    assert seen and all(got == want for got in seen)


def test_drain_width_lands_at_start(spark, sf_dir, monkeypatch):
    """The width set only around start() is the one the query runs at:
    the stateful operator holds $SPARK_GRAFT_STREAM_SHUFFLE = 3 state
    stores (the test session's own width is 8, the drain default), and
    the caller's conf is unchanged afterwards."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "3")
    before = spark.conf.getAll
    q = SW._drain(
        SW.running_user_totals_stream(SW.stream_events(spark, sf_dir)),
        "t_drain_width",
        "update",
    )
    ops = q.lastProgress["stateOperators"]
    assert [op["numStateStoreInstances"] for op in ops] == [3]
    assert spark.conf.getAll == before


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """A filter on the partition column must show up as a PartitionFilter
    (directory pruning), not a data filter."""
    li = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_part")
    IO.write_partitioned(li, path, ["l_returnflag"])
    back = IO.read_parquet(spark, path).where(F.col("l_returnflag") == "R")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan
    assert back.count() == li.where(F.col("l_returnflag") == "R").count()


def test_streaming_dedup_drops_replayed_rows(spark, sf_dir, tmp_path):
    """Feed the events source DOUBLED (every row replayed once — the
    at-least-once-delivery failure mode streaming dedup exists for);
    dropDuplicatesWithinWatermark must emit each event_id exactly once
    and reproduce the batch-distinct row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(pa.concat_tables([t, t]), str(tmp_path / "events.parquet"))
    SW.run_dedup_stream_to_memory(spark, str(tmp_path), table_name="t_dedup")
    out = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM t_dedup").first()
    assert out["n"] == out["d"] == t.num_rows


def test_stateful_stream_totals_match_batch(spark, sf_dir):
    """Drain the bounded events source through applyInPandasWithState;
    the final running total per user must equal the batch aggregation
    (the reference-free §2.10 stateful surface, equivalence-tested the
    same way the windowed agg is)."""
    SW.run_stateful_stream_to_memory(spark, sf_dir, table_name="t_totals")
    # update-mode sink emits one row per (microbatch, user); the final
    # state per user is the row with the highest n_events
    stream = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.sql(
            """
            SELECT user_id, n_events, sum_value FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY n_events DESC) AS rn
              FROM t_totals) WHERE rn = 1
            """
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 4))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert stream == batch


def test_checkpoint_recovery_processes_only_new_files(spark, sf_dir, tmp_path):
    """Exactly-once source recovery: drain a file-source dir through a
    CHECKPOINTED file sink, add a second source file, drain again from
    the SAME checkpoint — the output gains only the new file's rows
    (the first file is never reprocessed). This is the restart story a
    100 TB/day ingest pipeline depends on: the checkpoint holds the
    processed-file log + sink commit log, so a crash/restart cannot
    double-ingest."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "e1.parquet")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(SW.EVENTS_RAW_SCHEMA)
            .format("parquet")
            .load(str(src))
        )
        q = (
            stream.select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    base = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert spark.read.parquet(out).count() == base
    shutil.copy(f"{sf_dir}/events.parquet", src / "e2.parquet")
    drain()
    # e1 NOT reprocessed (would be 3x), e2 processed exactly once
    assert spark.read.parquet(out).count() == 2 * base


def test_foreachbatch_upsert_totals_and_replay_safety(spark, sf_dir, tmp_path):
    """foreachBatch keyed upsert: after draining, the keyed table holds
    exactly the batch per-user totals; a second drain over an unchanged
    source (fresh checkpoint, same batch content replayed as batch 0)
    must be a no-op thanks to the _max_batch_id idempotence guard."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    out = str(tmp_path / "totals")
    SW.run_user_totals_upsert_stream(
        spark, str(src), out, str(tmp_path / "ck1")
    )
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in SW.read_user_totals(spark, out).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["v"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("v"),
        )
        .collect()
    }
    assert got == want
    # replay: new checkpoint sees the same file as batch 0 again; the
    # _max_batch_id guard must skip the merge, leaving totals unchanged
    SW.run_user_totals_upsert_stream(
        spark, str(src), out, str(tmp_path / "ck2")
    )
    got2 = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in SW.read_user_totals(spark, out).collect()
    }
    assert got2 == want


def test_kmv_distinct_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming KMV distinct-count ≡ the batch sketch, EXACTLY (not
    within an error bound): the state is the k smallest distinct
    md5-hashes per group, each microbatch update is kmv_merge
    semantics, and the estimator is float64-for-float64 the batch
    expression. Drained over a 3-file split source at
    maxFilesPerTrigger=1 so the cross-microbatch state merge is
    actually exercised, plus the bounded-state contract
    (sketch_size ≤ k — the reason this exists: exact streaming
    COUNT DISTINCT state grows with the id domain, the sketch's
    doesn't)."""
    import pyarrow.parquet as pq

    from mapreducelearnings_spark.functions import sketch as SK

    # split the events file into 3 source files → 3 microbatches
    t = pq.read_table(f"{sf_dir}/events.parquet")
    n = t.num_rows
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ):
        pq.write_table(t.slice(lo, hi - lo), str(src / f"e{i}.parquet"))

    SW.run_kmv_distinct_stream_to_memory(
        spark,
        str(src),
        table_name="t_kmv",
        glob="*.parquet",
        max_files_per_trigger=1,
    )
    updates = spark.sql("SELECT * FROM t_kmv").collect()
    keys = {r["event_type"] for r in updates}
    # update mode emits one row per (microbatch, group): more rows than
    # groups proves the state actually merged across microbatches
    assert len(updates) > len(keys)
    final = {
        r["event_type"]: (r["sketch_size"], r["est_distinct"])
        for r in spark.sql(
            """
            SELECT event_type, sketch_size, est_distinct FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY rows_seen DESC) AS rn
              FROM t_kmv) WHERE rn = 1
            """
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["event_type"]: (r["sketch_size"], r["est_distinct"])
        for r in SK.kmv_estimate(
            SK.kmv_sketch(ev, "event_type", "user_id"), "event_type"
        ).collect()
    }
    assert final == batch
    assert all(m <= SK.KMV_K for m, _ in final.values())


def test_kmv_overlap_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming overlap vs a static reference sketch (r14, VERDICT
    r13 Next #8) ≡ the batch overlap algebra, EXACTLY: drained over a
    3-file split source at maxFilesPerTrigger=1, the final per-group
    row must equal batch kmv_jaccard + kmv_containment on the same
    frames value-for-value (jaccard, est_union, est_intersection,
    est_a, est_b, both clamped containment directions) — the same
    exact-twin contract distinct_kmv_stream pinned for the point
    estimator. Update-mode rows per microbatch prove the running
    monitor actually re-derives the overlap as state grows, and the
    union-sample bound (sketch_size ≤ k) is the zero-extra-state
    argument."""
    import pyarrow.parquet as pq

    from mapreducelearnings_spark.functions import sketch as SK

    t = pq.read_table(f"{sf_dir}/events.parquet")
    n = t.num_rows
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ):
        pq.write_table(t.slice(lo, hi - lo), str(src / f"e{i}.parquet"))

    ev = load_table(spark, sf_dir, "events")
    ref = SK.kmv_sketch(
        ev.where(F.col("event_type") == "purchase").withColumn(
            "event_type", F.lit("_ref")
        ),
        "event_type",
        "user_id",
    ).drop("event_type")

    SW.run_kmv_overlap_stream_to_memory(
        spark,
        str(src),
        ref,
        table_name="t_kmv_ov",
        glob="*.parquet",
        max_files_per_trigger=1,
    )
    updates = spark.sql("SELECT * FROM t_kmv_ov").collect()
    keys = {r["event_type"] for r in updates}
    assert len(updates) > len(keys), "expected per-microbatch update rows"
    assert all(r["sketch_size"] <= SK.KMV_K for r in updates)
    cols = (
        "sketch_size", "jaccard", "est_union", "est_intersection",
        "est_a", "est_b", "containment_a_in_b", "containment_b_in_a",
    )
    final = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in spark.sql(
            """
            SELECT * FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY rows_seen DESC) AS rn
              FROM t_kmv_ov) WHERE rn = 1
            """
        ).collect()
    }
    sa = SK.kmv_sketch(ev, "event_type", "user_id")
    sb = ev.select("event_type").distinct().crossJoin(ref)
    jac = {
        r["event_type"]: r
        for r in SK.kmv_jaccard(sa, sb, "event_type").collect()
    }
    con = {
        r["event_type"]: r
        for r in SK.kmv_containment(sa, sb, "event_type").collect()
    }
    assert set(final) == set(jac) == set(con)
    batch = {
        et: (
            jac[et]["sketch_size"], jac[et]["jaccard"],
            jac[et]["est_union"], jac[et]["est_intersection"],
            con[et]["est_a"], con[et]["est_b"],
            con[et]["containment_a_in_b"], con[et]["containment_b_in_a"],
        )
        for et in jac
    }
    assert final == batch
    # the reference overlapped with itself: the purchase group's stream
    # must converge to J = 1 (the same self-overlap pin the batch
    # surface carries)
    assert final["purchase"][1] == 1.0


def test_foreachbatch_upsert_multibatch_merge_and_crash_recovery(
    spark, sf_dir, tmp_path
):
    """Growing source drained through ONE checkpoint: the second drain
    sees only the new file (batch 1) and must MERGE it into the keyed
    table — exercising the union-groupBy path and the atomic rename
    swap against existing state — and a simulated crash between the
    two publish renames (current gone, pre-merge snapshot parked at
    __old) must be recovered from __old on the next drain instead of
    restarting from an empty table. Full-precision storage means k
    merges of the same source give exactly k-times the single-pass
    totals after the read-side 4 dp rounding."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "e1.parquet")
    out = str(tmp_path / "totals")
    ck = str(tmp_path / "ck")
    SW.run_user_totals_upsert_stream(spark, str(src), out, ck, glob="*.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "e2.parquet")
    SW.run_user_totals_upsert_stream(spark, str(src), out, ck, glob="*.parquet")
    base = {
        r["user_id"]: (r["n"], r["v"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    want = {u: (2 * n, round(2 * v, 4)) for u, (n, v) in base.items()}
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in SW.read_user_totals(spark, out).collect()
    }
    assert got == want
    # no collect-based rewrite left anywhere in the sink
    import inspect

    assert ".collect()" not in inspect.getsource(
        SW.run_user_totals_upsert_stream
    )
    # simulate the crash window: current renamed away to __old, publish
    # never completed
    fs, cur = SW._hadoop_fs(spark, out)
    jvm = spark._jvm
    old_p = jvm.org.apache.hadoop.fs.Path(out + ".__old")
    assert fs.rename(cur, old_p)
    shutil.copy(f"{sf_dir}/events.parquet", src / "e3.parquet")
    SW.run_user_totals_upsert_stream(spark, str(src), out, ck, glob="*.parquet")
    want3 = {u: (3 * n, round(3 * v, 4)) for u, (n, v) in base.items()}
    got3 = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in SW.read_user_totals(spark, out).collect()
    }
    assert got3 == want3


def test_streaming_lsh_candidates_match_batch(spark, sf_dir):
    """Ingest-time banded-LSH candidate stream ≡ the batch
    lsh_candidate_pairs over the same documents: the per-row signature
    expressions and the watermark-bounded self-join must reproduce the
    batch pair set exactly when the bounded source is drained (every
    doc arrives within the join window by construction of the derived
    event time)."""
    from mapreducelearnings_spark.pipeline import dedup as DD

    SW.run_streaming_lsh_to_memory(spark, sf_dir, table_name="t_slsh")
    got = {
        (r["doc_a"], r["doc_b"]) for r in spark.table("t_slsh").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in DD.lsh_candidate_pairs(
            load_table(spark, sf_dir, "documents")
        ).collect()
    }
    assert want, "fixture should contain near-duplicates"
    assert got == want
    # in-stream pair dedup means the sink holds each pair exactly once
    assert spark.table("t_slsh").count() == len(got)


def test_streaming_lsh_state_evicts_with_watermark(spark, sf_dir, tmp_path):
    """The stream-LSH join's keyed state must be bounded by the
    WATERMARK HORIZON, not by the drained corpus (VERDICT r11 Next #4):
    on an unbounded ingest stream, event time advances and the
    time-range join predicates + dropDuplicatesWithinWatermark evict
    everything older than (join window + watermark delay). The parity
    fixtures deliberately park the whole corpus inside one window
    (arrival spread 600 s < the 1 h window), where nothing is ever
    evicted — so this test drives the ADVANCING-time arrival model:
    one doc per minute over ~8 h, drained file-by-file so the
    watermark moves between microbatches, and asserts the state-store
    occupancy curve peaks far below the corpus and comes back down."""
    import pyarrow.parquet as pq

    from mapreducelearnings_spark.pipeline import dedup as DD

    t = pq.read_table(f"{sf_dir}/documents.parquet").sort_by("doc_id")
    n = t.num_rows
    src = tmp_path / "src"
    src.mkdir()
    n_files = 6
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(t.slice(lo, hi - lo), str(src / f"d{i}.parquet"))

    progress = SW.run_streaming_lsh_to_memory(
        spark,
        str(src),
        table_name="t_slsh_evict",
        glob="*.parquet",
        watermark="10 minutes",
        max_files_per_trigger=1,
        arrival_period_s=60,  # one doc per minute: ~8 h of event time
        arrival_spread_s=1_000_000_000,  # never wraps: time ADVANCES
    )
    state = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progress
        if p.get("stateOperators")
    ]
    assert len(state) >= n_files, "expected one microbatch per file"
    total_banded = n * DD.BANDS  # one side's rows if nothing evicted
    peak, final = max(state), state[-1]
    # bounded: even the PEAK holds less than one un-evicted side of the
    # join (the unbounded drain would hold ~2x total_banded + pair
    # state); the horizon is ~70 min of a ~500 min stream
    assert peak < total_banded, (peak, total_banded)
    # and the curve comes DOWN once the watermark passes early slices —
    # state at end of drain is below the peak, i.e. eviction happened
    assert final < peak, (final, peak)


def test_streaming_lsh_composes_with_exact_dedup_stream(spark, tmp_path):
    """dedup_stream ∘ streaming LSH: exact duplicates are dropped by
    dropDuplicatesWithinWatermark on the content hash BEFORE signatures
    are computed, so a replayed/duplicated document contributes no
    self-pair and each near-dup pair appears once. Crafted corpus:
    doc 1 and doc 2 are near-dups; doc 3 is an exact replay of doc 1
    under a new doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the deep green forest tonight"
    )
    near = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the deep green forest today"
    )
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array([base, near, base]),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["t"] * 3),
            "n_chars": pa.array([len(base), len(near), len(base)], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    docs = SW.stream_documents(spark, str(tmp_path))
    deduped = docs.withColumn("text_hash", F.md5("text")).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )
    q = (
        SW.streaming_lsh_candidates(deduped)
        .writeStream.format("memory")
        .queryName("t_slsh_comp")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in spark.table("t_slsh_comp").collect()
    }
    # doc 3 (exact replay of 1) was dropped at ingest: exactly one pair
    # survives, and it involves the surviving copy of the duplicated text
    assert len(pairs) == 1
    (a, b) = next(iter(pairs))
    assert b == 2 or a == 2


def test_transform_with_state_gated_on_protobuf():
    """transformWithStateInPandas (the Spark 4.x successor to
    applyInPandasWithState) exists in this PySpark build, but its
    Python driver worker needs google.protobuf, which this container
    does not ship — the documented capability gate (same honest-stub
    convention as the multimodal decode paths). The engine's custom
    stateful surface is applyInPandasWithState
    (windows.running_user_totals_stream), contract-tested above; this
    test pins WHY the newer API is not wired in, and starts failing
    the day the environment gains protobuf so the port can happen."""
    from pyspark.sql import GroupedData

    assert hasattr(GroupedData, "transformWithStateInPandas")
    try:
        import google.protobuf  # noqa: F401

        available = True
    except ImportError:
        available = False
    assert not available, (
        "protobuf is now available: port running_user_totals_stream to "
        "transformWithStateInPandas (ValueState + RocksDB provider)"
    )


def test_stream_static_join_needs_no_join_state(spark, sf_dir):
    """The stream-static enrichment join must plan the dim as a
    broadcast build side (no state store for the join itself) and its
    drained totals must equal the batch twin exactly."""
    from pyspark.sql import functions as F

    from mapreducelearnings_spark.catalog import load_table
    from mapreducelearnings_spark.streaming import windows as SW

    SW.run_enriched_totals_to_memory(spark, sf_dir, table_name="t_enriched")
    got = {
        (r["segment"], r["n_events"], r["total_value"])
        for r in spark.table("t_enriched").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    want = {
        (r["segment"], r["n_events"], r["total_value"])
        for r in ev.join(c, ev["user_id"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """The watermark CONTRACT, not just the API: an event arriving in a
    later microbatch with event-time older than (max seen − delay) must
    be DROPPED from the aggregation, while an in-horizon event in the
    same batch lands normally. This is the bounded-state guarantee — at
    100 TB/day the watermark is the only thing keeping window state
    finite, so the drop behavior must be proven, not assumed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _time

    from mapreducelearnings_spark.streaming.windows import (
        EVENTS_RAW_SCHEMA,
        stream_events,
        windowed_counts,
    )

    src = tmp_path / "src"
    src.mkdir()
    base_us = 1_700_000_000 * 1_000_000  # event-time anchor, microseconds

    def write_file(name, rows):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(cols[0], pa.int64()),
                    "ts": pa.array(cols[1], pa.int64()),
                    "user_id": pa.array(cols[2], pa.int64()),
                    "event_type": pa.array(cols[3]),
                    "value": pa.array(cols[4], pa.float64()),
                    "props": pa.array(cols[5]),
                }
            ),
            str(src / name),
        )

    hour = 3_600 * 1_000_000
    # batch 1: one event in the "early" window, one 3h later ("anchor")
    # -> the watermark advances to anchor_ts - 10 min
    write_file(
        "a.parquet",
        [
            (0, base_us, 1, "click", 1.0, "{}"),
            (1, base_us + 3 * hour, 1, "click", 1.0, "{}"),
        ],
    )
    _time.sleep(1.1)  # file-source ordering is by modification time
    # batch 2: benign row — needed because the late-row filter uses the
    # watermark COMMITTED as of the previous batch (it lags one batch;
    # measured: dropped=0 when the late row rides the same batch that
    # first advances the watermark, dropped=1 one batch later)
    write_file(
        "b.parquet",
        [(2, base_us + 3 * hour + 60 * 1_000_000, 1, "click", 1.0, "{}")],
    )
    _time.sleep(1.1)
    # batch 3: a LATE event back in the early window (3h < watermark)
    # and an in-horizon event shortly after the anchor
    write_file(
        "c.parquet",
        [
            (3, base_us + 2, 1, "click", 100.0, "{}"),
            (4, base_us + 3 * hour + 120 * 1_000_000, 1, "click", 1.0, "{}"),
        ],
    )

    ev = stream_events(
        spark,
        str(src),
        watermark="10 minutes",
        glob="*.parquet",
        max_files_per_trigger=1,
    )
    q = (
        windowed_counts(ev)
        .writeStream.format("memory")
        .queryName("late_drop_probe")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode appends one row per (window, batch) update; the
    # CURRENT value of a window is its highest-count update
    got = {}
    for r in spark.sql("SELECT * FROM late_drop_probe").collect():
        cur = got.get(r["window_start"])
        if cur is None or r["cnt"] > cur[0]:
            got[r["window_start"]] = (r["cnt"], r["sum_value"])
    early_win = base_us // 1_000_000 // 600 * 600
    anchor_win = (base_us + 3 * hour) // 1_000_000 // 600 * 600
    # the late row (value=100.0) must NOT be merged into the early
    # window: count stays 1, sum stays 1.0
    assert got[early_win] == (1, 1.0), got
    # the in-horizon rows DID land in the anchor window (anchor + the
    # batch-2 and batch-3 on-time rows)
    assert got[anchor_win] == (3, 3.0), got


def test_stream_static_interval_join_matches_batch(spark, sf_dir):
    """The stream-static banded interval join must produce exactly the
    batch incident_event_counts result over the same data."""
    from mapreducelearnings_spark.queries import REGISTRY
    from mapreducelearnings_spark.streaming.windows import (
        run_incident_counts_stream_to_memory,
    )

    run_incident_counts_stream_to_memory(spark, sf_dir)
    got = {
        r["incident_id"]: (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM incident_counts_stream").collect()
    }
    want = {
        r["incident_id"]: (r["n_events"], r["sum_value"])
        for r in REGISTRY["incident_event_counts"].spark(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_lsh_drain_is_single_data_batch(spark, sf_dir):
    """Scale-shape regression pin (PERFORMANCE.md round-6 follow-up):
    the availableNow LSH drain must process the whole bounded source in
    ONE data micro-batch (plus the empty watermark-advance finish
    batch). If a source option or trigger change ever splits the drain
    into per-file batches, the per-batch state-store overhead multiplies
    and the 3x scale ratio regresses — this pins the shape that keeps
    the ratio at 1.4."""
    from mapreducelearnings_spark.plans.iterate import loop_conf
    from mapreducelearnings_spark.streaming import windows as SW

    with loop_conf(spark, 8):
        q = (
            SW.streaming_lsh_candidates(SW.stream_documents(spark, sf_dir))
            .writeStream.format("memory")
            .queryName("t_slsh_batches")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.recentProgress
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == 1
    assert len(progress) <= 2
