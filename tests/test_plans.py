"""Physical-plan assertions: the optimizations SURVEY.md §4 says Catalyst
must supply (pushdown, pruning, broadcast, partial agg, top-k) actually
appear in the plans. These guard the 100 TB story, not just correctness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducelearnings_spark.queries import REGISTRY, RETIRED


def plan_of(spark, sf_dir, name: str) -> str:
    spec = REGISTRY.get(name) or RETIRED[name]
    df = spec.spark(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_max_filter_pushes_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "max_filter")
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_orderkey,1000)" in plan
    assert "LessThanOrEqual(l_suppkey,1000)" in plan


def test_follower_count_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "follower_count")
    # scan must read only the grouping key, not all 11 lineitem columns
    assert "ReadSchema: struct<l_suppkey:bigint>" in plan


def test_follower_count_partial_aggregates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "follower_count")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_broadcast_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "broadcast_join")
    # tree section lists each join once as "BroadcastHashJoin <type> <side> (id)"
    assert plan.count("BroadcastHashJoin Inner") == 2
    assert "SortMergeJoin" not in plan


def test_semi_join_plans_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "semi_join")
    assert "LeftSemi" in plan


def test_top_k_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_k")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bm25_topk_avoids_global_sort(spark, sf_dir):
    """BM25 top-N must plan as TakeOrderedAndProject (bounded per-task
    heaps), with the term filter applied before the tf shuffle."""
    plan = plan_of(spark, sf_dir, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # under AQE the final (executed) plan is the one that shows codegen spans
    df = REGISTRY["pricing_summary"].spark(spark, sf_dir)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in simple explain mode
    assert "*(1)" in plan


def test_pricing_summary_fuses_all_aggregates_one_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    # five aggregate functions computed in ONE partial HashAggregate —
    # the one-pass replacement for the reference's counter piggybacking
    assert plan.count("partial_sum") == 3
    assert "partial_avg" in plan
    assert "partial_count" in plan


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The as-of operator's contract: one hash exchange on the key (for
    the window), never a range/cartesian join."""
    plan = plan_of(spark, sf_dir, "asof_latest_order")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one exchange in the tree, and it partitions on the key
    assert plan.count("- Exchange (") == 1
    assert "hashpartitioning(__k" in plan


def test_ann_lsh_avoids_cartesian(spark, sf_dir):
    """The registered LSH nearest-neighbor path must join on (table,
    bucket), not cross the corpus."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_nearest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bruteforce_simsearch_is_the_documented_cartesian(spark, sf_dir):
    """Conversely the brute-force baseline IS a cross product by design —
    assert it so a silent plan change doesn't invalidate the docs."""
    plan = plan_of(spark, sf_dir, "similarity_topk")
    assert ("BroadcastNestedLoopJoin" in plan) or ("CartesianProduct" in plan)


def test_embedding_lsh_near_dup_avoids_cartesian(spark, sf_dir):
    """The registered near-dup query joins on (table, bucket) and
    re-attaches vectors by id — no cross product anywhere (the round-2
    scale-killer this path replaced)."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    # exact scoring is a wide codegen multiply-add chain — no Python
    # worker anywhere in the hot path
    assert "ArrowEvalPython" not in plan
    assert "EvalPython" not in plan


def test_ivf_assignment_partial_aggregates_before_shuffle(spark, sf_dir):
    """IVF: centroids broadcast; the argmax assignment must partial-agg
    (max_by) map-side so the shuffle carries one row per vector, and the
    probe join must be a broadcast hash join on the cell id."""
    plan = plan_of(spark, sf_dir, "ann_ivf_topk")
    assert "partial_max_by" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_filter_is_shuffle_free_scan(spark, sf_dir):
    """The keep/drop gate runs at scan speed: no Exchange of any kind in
    the plan — filter + projection only."""
    plan = plan_of(spark, sf_dir, "quality_filter")
    assert "Exchange" not in plan
    assert "ReadSchema" in plan


def test_rolling_hour_single_hash_exchange(spark, sf_dir):
    """RANGE-frame window: exactly one hash exchange (on user_id), no
    range partitioning / global sort."""
    plan = plan_of(spark, sf_dir, "events_rolling_hour")
    assert plan.count("- Exchange (") == 1
    assert "hashpartitioning(user_id" in plan


def test_disjunctive_revenue_pushes_bracket_implications(spark, sf_dir):
    """TPC-H Q19's cross-side OR must not defeat pushdown: Catalyst
    extracts the single-side implications of the brackets and pushes
    them into BOTH scans; the part dim broadcasts."""
    plan = plan_of(spark, sf_dir, "disjunctive_revenue")
    # lineitem scan: l_quantity bounds from the OR'd brackets
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("ReadSchema")[0] or "l_quantity" in plan
    # tree section lists the join once as "BroadcastHashJoin Inner ..."
    assert plan.count("BroadcastHashJoin Inner") == 1
    assert "SortMergeJoin" not in plan
    # part side: brand/size implications reach the scan as data filters
    assert "p_size" in plan


def test_order_priority_semi_keeps_equi_shuffle_key(spark, sf_dir):
    """Q4's EXISTS with a non-equi ship-lag residual must still plan as
    a semi join keyed on the equi column (no nested-loop blowup)."""
    plan = plan_of(spark, sf_dir, "order_priority_semi")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_large_orders_semi_joins_having_survivors(spark, sf_dir):
    """Q18's IN-subquery compiles to aggregate → HAVING → semi join;
    the qualifying-order side is tiny so no query-wide SMJ cascade."""
    plan = plan_of(spark, sf_dir, "large_orders")
    assert "LeftSemi" in plan


def test_idle_customers_broadcasts_scalar_and_antijoins(spark, sf_dir):
    """Q22's scalar subquery is a 1-row broadcast (never a collect);
    NOT EXISTS plans as LeftAnti with the date filter pushed below."""
    plan = plan_of(spark, sf_dir, "idle_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed into orders scan


def test_pii_redact_is_shuffle_free_scan(spark, sf_dir):
    """The redaction pass is a map-only scan: no exchange anywhere."""
    plan = plan_of(spark, sf_dir, "pii_redact")
    assert "Exchange" not in plan


def test_repetition_stats_partial_aggregates(spark, sf_dir):
    """Both groupBys (doc_id,tok) and (doc_id) must partial-aggregate
    before their shuffles — 4 HashAggregates in the plan."""
    plan = plan_of(spark, sf_dir, "repetition_stats")
    assert plan.count("HashAggregate") >= 4


def test_forecast_revenue_pushes_all_conjuncts(spark, sf_dir):
    """Q6: all four predicates must reach the parquet scan."""
    plan = plan_of(spark, sf_dir, "forecast_revenue")
    scan = plan.split("PushedFilters:")[1].split("\n")[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in scan, (frag, scan)


def test_small_quantity_revenue_decorrelates_once(spark, sf_dir):
    """Q17: the per-part average must be ONE aggregation joined back,
    never a per-row re-aggregation (no nested loop)."""
    plan = plan_of(spark, sf_dir, "small_quantity_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_late_exclusive_suppliers_semi_then_anti(spark, sf_dir):
    """Q21: the EXISTS and NOT EXISTS against the same derived table
    must plan as a semi join followed by an anti join on the order
    key, with the <> residual in-join — never a nested loop."""
    plan = plan_of(spark, sf_dir, "late_exclusive_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_doc_chunks_is_shuffle_free_expansion(spark, sf_dir):
    """Chunking is a map-only row expansion: Generate (explode) in the
    plan, no Exchange anywhere, no Python worker."""
    plan = plan_of(spark, sf_dir, "doc_chunks")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_q21_sql_twin_matches_dataframe_twin(spark, sf_dir):
    """The dialect-portable SQL text and the hand-built DataFrame plan
    must return identical rows — the semantics-preservation check on
    Catalyst's EXISTS/NOT-EXISTS decorrelation."""
    a = {
        tuple(r)
        for r in REGISTRY["late_exclusive_suppliers"].spark(spark, sf_dir).collect()
    }
    b = {
        tuple(r)
        for r in RETIRED["late_exclusive_suppliers_sql"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert a == b and len(a) > 0


def test_incident_range_join_avoids_nested_loop(spark, sf_dir):
    """A pure-inequality join would plan as BroadcastNestedLoopJoin
    (O(n*m), broadcast OOM at scale); the banded interval join must
    plan as an ordinary equi-join on the band key."""
    plan = plan_of(spark, sf_dir, "incident_event_counts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir):
    """Slice the table into 16 'files' by zval order; a predicate over
    1/4 of EITHER dimension's range must touch a bounded subset of the
    files, while a user_id-sorted layout cannot prune the time
    predicate at all (every file spans the full time range)."""
    from mapreducelearnings_spark.queries import REGISTRY

    z = REGISTRY["zorder_values"].spark(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id",
        "user_id",
        "unix_micros(ts::timestamp) div 60000000 as mins",
    )
    rows = [
        (r["zval"], r["user_id"], r["mins"])
        for r in z.join(ev, "event_id").collect()
    ]
    n_files = 16

    def files_by(key_idx):
        ordered = sorted(rows, key=lambda r: r[key_idx])
        chunk = -(-len(ordered) // n_files)
        out = []
        for i in range(0, len(ordered), chunk):
            part = ordered[i : i + chunk]
            out.append(
                {
                    "umin": min(p[1] for p in part),
                    "umax": max(p[1] for p in part),
                    "tmin": min(p[2] for p in part),
                    "tmax": max(p[2] for p in part),
                }
            )
        return out

    def overlaps(files, dim, lo, hi):
        return sum(
            1
            for f in files
            if not (f[f"{dim}max"] < lo or f[f"{dim}min"] > hi)
        )

    ulo = min(r[1] for r in rows)
    uhi = max(r[1] for r in rows)
    tlo = min(r[2] for r in rows)
    thi = max(r[2] for r in rows)
    uq = (ulo, ulo + (uhi - ulo) // 4)  # first quarter of user range
    tq = (tlo, tlo + (thi - tlo) // 4)  # first quarter of time range

    zfiles = files_by(0)
    ufiles = files_by(1)
    # z-order: BOTH dimensions prune (theoretical 4-6 of 16 cells for a
    # quarter-range; allow boundary slack to 8)
    assert overlaps(zfiles, "u", *uq) <= 8
    assert overlaps(zfiles, "t", *tq) <= 8
    # single-column sort: its own column prunes perfectly...
    assert overlaps(ufiles, "u", *uq) <= 6
    # ...but the orthogonal (time) predicate touches essentially every
    # file — the failure mode z-order exists to fix
    assert overlaps(ufiles, "t", *tq) >= n_files - 1


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    """eqNullSafe is still an equi-predicate: the plan must be a hash
    join (broadcast here), never a nested loop."""
    plan = plan_of(spark, sf_dir, "null_safe_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """DPP: joining a Hive-partitioned fact to a FILTERED dim must
    inject a runtime subquery filter on the fact's partition column
    (dynamicpruning in the scan), so only the surviving partitions'
    directories are read — the 100 TB star-join read path."""
    from mapreducelearnings_spark.sources.io import write_partitioned

    fact_path = str(tmp_path / "events_by_type")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    write_partitioned(ev, fact_path, ["event_type"])
    fact = spark.read.parquet(fact_path)
    # the dim filter is on a NON-key attribute, so the surviving key set
    # is only known at runtime — static constraint propagation can't
    # pre-prune, which is exactly when DPP must kick in
    dim = spark.createDataFrame(
        [
            ("click", "interactive"),
            ("view", "interactive"),
            ("error", "ops"),
            ("purchase", "revenue"),
            ("signup", "revenue"),
        ],
        "event_type string, team string",
    )
    joined = fact.join(
        dim.where(F.col("team") == "ops"), "event_type"
    ).groupBy("event_type").count()
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The three physical join strategies are selectable per-join via
    hints (the join-level analogue of the reference's four *ByKey
    physical twins): same logical join -> broadcast-hash, sort-merge,
    or shuffled-hash plan on demand, identical results."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    cases = {
        "broadcast": ("BroadcastHashJoin", None),
        "merge": ("SortMergeJoin", "BroadcastHashJoin"),
        "shuffle_hash": ("ShuffledHashJoin", "SortMergeJoin"),
    }
    counts = set()
    for hint, (want, forbid) in cases.items():
        j = o.join(c.hint(hint), o.o_custkey == c.c_custkey)
        p = plan(j)
        assert want in p, (hint, p[:500])
        if forbid:
            assert forbid not in p, (hint, p[:500])
        counts.add(j.count())
    assert len(counts) == 1  # all three strategies agree on the result


def test_batch_sessionize_single_exchange(spark, sf_dir):
    """Both window passes (lag flag, running session-id) and the final
    per-session groupBy cluster on user_id — Catalyst must plan ONE
    hash exchange and reuse it for all three operators."""
    plan = plan_of(spark, sf_dir, "batch_sessionize")
    assert plan.count("- Exchange (") == 1
    assert "hashpartitioning(user_id" in plan


def test_scd2_intervals_single_exchange(spark, sf_dir):
    """Lag-dedup filter + lead + is-current all run inside the same
    HashPartitioning(user_id) window stage: one exchange, no sort-merge
    join, no cartesian."""
    plan = plan_of(spark, sf_dir, "scd2_event_intervals")
    assert plan.count("- Exchange (") == 1
    assert "hashpartitioning(user_id" in plan


def test_weighted_sample_priority_take_ordered(spark, sf_dir):
    """Priority sampling is scan -> TakeOrderedAndProject (bounded
    per-task heaps, k-row driver result) — no global sort, no shuffle
    of the corpus."""
    plan = plan_of(spark, sf_dir, "weighted_sample_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_secondary_sort_single_exchange(spark, sf_dir):
    """The declarative secondary sort is ONE aggregation on the group
    key (collect_list is partial-aggregable via ObjectHashAggregate):
    one exchange on l_suppkey, and the in-group ordering comes from
    array_sort, not a cluster-wide sort."""
    plan = plan_of(spark, sf_dir, "secondary_sort_orders")
    assert plan.count("- Exchange (") == 1
    assert "hashpartitioning(l_suppkey" in plan
    assert "ObjectHashAggregate" in plan
    assert "Exchange rangepartitioning" not in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """The FIRST line of defense for skewed joins (functions/skew.py
    docstring) is AQE's runtime skew split — prove it fires: a join
    where one key holds ~300x the rows must re-plan at runtime to a
    (skew=true) shuffle join, splitting the hot partition instead of
    serializing it on one task. The session keeps Spark's join-strategy
    defaults (preferSortMergeJoin=false was examined and REJECTED in
    r14 — commit 52f75da), so the split normally lands on a
    SortMergeJoin(skew=true); the assertion accepts a
    ShuffledHashJoin(skew=true) too, for robustness to join-strategy
    confs rather than because of any session default. The manual
    two-sided salting twin
    (salted_join) stays the fallback for engines/paths where AQE can't
    apply. Thresholds are scaled down to fixture size; the plan is read
    AFTER execution (AQE decides from runtime MapOutputStatistics, so
    only the executed plan shows the split)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        hot = spark.range(0, 300_000).select(
            (F.col("id") * 0).alias("k"), F.col("id").alias("v")
        )
        spread = spark.range(0, 1000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(0, 101).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        # the (v+w) residual references both sides, so it cannot push
        # below the join — executing this empty-result probe executes
        # THIS DataFrame's own query execution, whose final AQE plan we
        # then inspect (count() would plan a separate execution).
        probe = (
            hot.union(spread)
            .join(right, "k")
            .where(F.col("v") + F.col("w") < -1)
        )
        assert probe.collect() == []
        ep = probe._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in ep
        assert "SortMergeJoin(skew=true)" in ep or "ShuffledHashJoin(skew=true)" in ep
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_round6b_profiling_query_plans(spark, sf_dir):
    """Plan contracts for the late-round-6 batch: time_weighted_avg's
    LEAD window and per-user aggregate share ONE
    HashPartitioning(user_id) exchange; value_histogram is a single
    partial+final aggregate on the computed bucket; degree_distribution
    is two partial+final aggregates where the second shuffle carries
    only (degree, count) pairs."""
    plan = plan_of(spark, sf_dir, "time_weighted_avg")
    assert plan.count("- Exchange (") == 1
    assert "hashpartitioning(user_id" in plan

    plan = plan_of(spark, sf_dir, "value_histogram")
    assert plan.count("- Exchange (") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final

    plan = plan_of(spark, sf_dir, "degree_distribution")
    assert plan.count("- Exchange (") == 2
    # two partial+final pairs = 4 HashAggregate nodes (detail headers)
    import re

    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4


def test_rowwise_signature_hashing_stays_above_added_exchange(spark, sf_dir):
    """Lesson 22 guard (round 9): band_signatures_rowwise gates
    shingle-less docs on the CHEAP precondition size(tokens) >= 3, not
    on size(hs) > 0 — a filter on the derived hs column embeds the
    whole shingle+md5 expression, and predicate pushdown re-anchors it
    below any exchange a caller adds to parallelize the hashing (the
    streaming LSH drain's repartition; 82 s of its 98 s 10× wall ran
    single-core because of exactly this). Pin the shape on the batch
    twin of the drain's plan: everything BELOW the repartition
    exchange must be md5/shingle-free."""
    from pyspark.sql import functions as F

    from mapreducelearnings_spark.pipeline import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "ts", F.current_timestamp()
    )
    df = DD.band_signatures_rowwise(
        docs.repartition(F.col("doc_id")), passthrough=("ts",)
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" in plan
    # the subtree below the exchange: formatted mode lists operators
    # leaf-first, so split on the Exchange detail header and look at
    # everything before the repartition exchange's section
    below = plan.split("REPARTITION_BY_COL")[0]
    scan_and_filter = [
        ln
        for ln in below.splitlines()
        if "Filter" in ln or "Scan" in ln or "Project" in ln
    ]
    # the pushed filter may tokenize (regexp) but must never hash
    assert "md5" not in below.lower(), (
        "signature hashing leaked below the repartition exchange — "
        f"the pushed-down subtree is:\n{below}\n({scan_and_filter})"
    )


def test_embedding_nearest_scores_collisions_in_place(spark, sf_dir):
    """Round-9 rewrite guard: dedup_embedding_nearest must NOT
    deduplicate the candidate multiset before scoring — the DISTINCT
    shuffles the Θ(n²/k) collision set (measured 252.7 s vs 18.5 s at
    the 10× dir). The plan's only aggregate is the final per-vector
    argmax (one partial+final pair — SortAggregate, since MAX over a
    struct is sort-based), and the only shuffles are the bucket-key
    join's two sides plus the argmax exchange."""
    import re

    plan = plan_of(spark, sf_dir, "dedup_embedding_nearest")
    # Assert the INVARIANT, not the current planner's node counts
    # (ADVICE r9: exact counts encode Spark-version planning choices
    # and fail spuriously on AQE/planner changes). The only grouping
    # in this query is the per-vector argmax — every aggregate keys on
    # the single vec_id column. A DISTINCT over the collision multiset
    # would surface as an aggregate keyed on the (vec_id, nn) PAIR.
    aggs = re.findall(r"\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", plan)
    assert aggs, "expected the argmax aggregate in the plan"
    key_widths = [int(w) for w in re.findall(r"^Keys \[(\d+)\]", plan, re.M)]
    assert key_widths and all(w == 1 for w in key_widths), (
        f"aggregate keyed on more than vec_id — a candidate-pair "
        f"DISTINCT crept back in: Keys widths {key_widths}"
    )
