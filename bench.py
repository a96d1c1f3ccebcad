"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count() over the result — full
materialization without driver-side row transfer, so the measurement is
engine time, not collect bandwidth).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreducelearnings_spark.session import default_cpus  # noqa: E402

# Headline set: one representative per workload family; grows with the
# engine. Keep in sync with SURVEY.md §2 coverage.
HEADLINE = [
    "follower_count",
    "pricing_summary",
    "grouped_collect",
    "inner_join",
    "broadcast_join",
    "semi_join",
    "two_hop_paths",
    "top_k",
    "union_reagg",
    "window_events",
    "sliding_windows",
    "top_events_per_user",
    "explode_tokens",
    # iterative / graph workloads (BASELINE.md bench set)
    "pagerank_idfilter",
    "sssp_distances",
    "triangle_count",
    "triangle_count_broadcast",
    "triangle_count_ordered",
    "kmeans_centroids",
    # LLM-pipeline layer, text side (SURVEY.md §2.11)
    "dedup_exact",
    "dedup_minhash_lsh",
    "simhash_fingerprints",
    "text_stats",
    "sentence_stats",
    "doc_fingerprints",
    "quality_filter",
    "events_rolling_hour",
    "multimodal_meta",
    # UDF surface + windows + paths (SURVEY.md §2.9–2.10)
    "udaf_weighted_avg",
    "session_windows",
    "sssp_paths",
    # SQL surface + composite join plans + reference k-means pipeline
    "sql_revenue_by_nation",
    "shipping_priority",
    "top_supplier",
    "pivot_event_counts",
    "kmeans_followers",
    # dedup clustering (Python union-find vs pure-JVM star contraction —
    # same oracle; bench shows which contraction wins at this SF)
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_clusters_incremental",
    "corpus_curation",
    "sequence_packing",
    "inverted_index",
    "bm25_topk",
    "stratified_sample",
    "decontamination",
    "distinct_users_per_type",
    "distinct_kmv_sketch",
    # round-11: incremental sketch maintenance (merge-then-estimate)
    "distinct_kmv_incremental",
    "token_counts_bpe",
    "token_doc_frequency",
    "bpe_merges",
    # round-9: the batched trainer (k disjoint merges per round — the
    # 30k-vocab path; sequential twin above stays for comparison)
    "bpe_merges_batched",
    # round-8: tokenizer encode + epoch shuffle + hash split + merged
    # set-ops entry (VERDICT r07 Next #2)
    "bpe_encode_tokens",
    "epoch_shuffle",
    "hash_split",
    "set_ops",
    # round-8 late adds: pairs-pattern co-occurrence + quality-aware
    # dedup survivors
    "cooccurrence_pmi",
    "dedup_keep_best",
    # custom operators + format coverage
    "asof_latest_order",
    "events_props_json",
    "window_function_gauntlet",
    # standard pagerank (+ DF-variant quirk twin) + rollup + percentiles
    "pagerank_general",
    "pagerank_df_quirk",
    "sales_rollup",
    "quantity_percentiles",
    # round-5 TPC-H-style composite-plan pack
    "order_priority_semi",
    "volume_shipping",
    "returned_items",
    "promo_revenue",
    "large_orders",
    "disjunctive_revenue",
    "idle_customers",
    "min_cost_supplier",
    "grouping_sets_pricing",
    "repetition_stats",
    "pii_redact",
    "forecast_revenue",
    "order_count_distribution",
    "small_quantity_revenue",
    "market_share",
    "late_exclusive_suppliers",
    "important_parts",
    "doc_chunks",
    "best_revenue_supplier",
    "stream_enriched_totals",
    "events_props_variant",
    # second round-5 batch: remaining TPC-H shapes + repeated-span dedup
    "nation_profit",
    "shipmode_priority",
    "parts_supplier_counts",
    "excess_shippers",
    "repeated_ngrams",
    # round-5 batch 4-6: range join, quota curation, z-order layout
    # keys, null-safe join, incremental aggregate maintenance
    "incident_event_counts",
    "source_quota_sample",
    "zorder_values",
    "null_safe_join",
    "incremental_merge_counts",
    "events_hourly_gapfill",
    "funnel_conversion",
    "cohort_retention",
    "dedup_cluster_sizes",
    "vocab_oov_rate",
    "source_mixture_weights",
    "customer_running_totals",
    "conditional_agg_flags",
    # round-6: event-log modeling + MR secondary sort + priority sampling
    "batch_sessionize",
    "scd2_event_intervals",
    "secondary_sort_orders",
    "weighted_sample_priority",
    # round-6b: profiling + feature-engineering aggregates
    "degree_distribution",
    "value_histogram",
    "time_weighted_avg",
    # Embedding / ANN block LAST: its ~45 s of wide-vector work leaves
    # JVM heap/GC residue that round 3 measurably taxed onto whatever ran
    # after it (kmeans_followers 2.2→5.6 s, shipping_priority 1.0→2.0 s,
    # with zero code change — VERDICT r03 "What's wrong #3"). Running it
    # after every narrow query removes that contamination channel.
    "similarity_topk",
    "ann_ivf_topk",
    # r12: filtered vector search (metadata predicate during the probe)
    "ann_ivf_filtered_topk",
    "ann_ivf_trained_topk",
    "distinct_kmv_jaccard",
    "distinct_kmv_containment",
    "similarity_topk_q8",
    # r12: the streaming KMV drain
    "distinct_kmv_stream",
    # round-9: the bounded-output near-dup (Θ(n) output, in-place
    # collision scoring)
    "dedup_embedding_nearest",
    "semdedup_keep",
    # round-10: FAISS-IVFPQ residual encoding
    "ann_ivf_pq64_residual_topk",
    # round-13: the maintenance pass — build→append→COMPACT→query;
    # the headline counts its query phase (reads the compacted index),
    # build/append/compact itemized as ingest
    "ann_index_compact_topk",
    # round-11: the >=0.9-recall SLA read path over the session-scoped
    # on-disk index (build amortized; min-of-3 times the READ path —
    # ingest is ann_index_compact_topk's phase-timed chain)
    "ann_index_sla_topk",
]

# Python-EXECUTION surface twins, quarantined from the headline total
# (VERDICT r05 Next #6): each demonstrates an API surface (class-based
# UDTF; grouped-map applyInPandas) whose PRODUCTION plan is a codegen
# twin already in HEADLINE (sentence_stats; customer_running_totals).
# They are timed identically but reported under "surface_twins" so the
# headline number reflects production plans only — a per-row-Python
# operator must never hide inside the throughput figure the judge
# compares against BASELINE. Policy note in COVERAGE.md.
SURFACE_TWINS = [
    "sentence_split_udtf",
]

# ---------------------------------------------------------------------------
# Contention self-defense (VERDICT r06 "What's wrong" #1): the driver's
# r6 bench run was uniformly ~1.39× inflated by ambient CPU contention,
# making round-over-round ratios uninterpretable without out-of-band
# context. Every run now times a fixed single-thread CPU probe before
# and after the query set and records it with os.getloadavg() in the
# output, so a contended run is detectable FROM THE ARTIFACT: if either
# probe runs >20% SLOWER than the committed reference, the run is
# flagged `contended` and its timings should be read as an upper bound,
# not a regression. The check is deliberately one-sided — slower-than-
# ref is what contention looks like; a probe >20% FASTER than ref
# instead means the committed reference no longer describes this host
# (new hardware, changed governor) and is reported separately as
# `ref_stale_fast` so the refs get re-measured rather than silently
# certifying every run (ADVICE r7). References were measured on the
# build machine (min of 3 after a governor warmup, idle, repeated
# thrice: 0.606-0.624) and are per-host values: override via
# $SPARK_GRAFT_CAL_REF / $SPARK_GRAFT_CAL_WIDE_REF when running
# elsewhere, or re-commit after a hardware change. The probe
# deliberately runs ~0.7 s × 3: short probes are dominated by CPU
# frequency-governor ramp (an IDLE machine measured 30% slower than a
# busy one at 2M iterations), so the probe warms the governor first
# and then times enough work to average over it. Observed idle noise
# is ±9%; the 20% flag threshold clears it while still catching the
# ~39% r6 contention event.
_CALIBRATION_REF_SEC = float(os.environ.get("SPARK_GRAFT_CAL_REF", "0.62"))
_CALIBRATION_TOL = 0.20


def _probe_loop(n: int) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


def _calibration_probe() -> float:
    """Fixed-work single-thread CPU loop; governor warmup, then min of
    3 to shed scheduler noise while staying sensitive to sustained
    contention."""
    _probe_loop(5_000_000)  # let the frequency governor reach steady state
    return round(min(_probe_loop(10_000_000) for _ in range(3)), 4)


# All-core throughput reference: the single-thread probe cannot see
# ALL-CORE frequency capping — measured on this box, a 32-wide spin
# runs each loop 1.34× slower than the 1-thread boost clock (median
# 0.833 vs 0.62, steal 0%), and that all-core rate moves with host
# tenancy while 1-thread probes stay flat. Round 7 measured two
# clean-1-thread-probe runs 13–22% above round 6's clean total with
# NOTHING else running, then watched the wide probe itself swing
# 0.83 → 0.61 within the hour on an idle guest — the wide probe
# exists to make exactly that drift visible in the artifact.
# Reference = median of a 32-way pool of the 10M loop on a GOOD host
# window (0.60-0.64 observed); same one-sided slower-than tolerance as
# the narrow probe (see its comment), per-host override via env var.
_CALIBRATION_WIDE_REF_SEC = float(
    os.environ.get("SPARK_GRAFT_CAL_WIDE_REF", "0.62")
)

# The wide probe models the workload's actual parallelism: local
# [$SPARK_GRAFT_CPUS] (the bench session's master), capped at the
# host's real core count so the probe measures all-core throughput,
# not oversubscription artifacts (ADVICE r7 — was hardcoded 32).
_WIDE_WORKERS = min(default_cpus(), os.cpu_count() or 32)


def _calibration_probe_wide(workers: int = _WIDE_WORKERS) -> float:
    """Median per-process time of `workers` concurrent fixed-work
    loops — the all-core throughput the query workload actually sees."""
    import multiprocessing as mp

    try:
        with mp.Pool(workers) as pool:
            times = pool.map(_probe_loop, [10_000_000] * workers)
        return round(sorted(times)[len(times) // 2], 4)
    except Exception:
        return float("nan")  # never let calibration kill a bench run


def _ann_recall_at_k(spark, sf_dir: str) -> dict[str, float]:
    """recall@5 of the ANN top-k paths against the brute-force ground
    truth — reported next to the timings so speed is
    never quoted without its accuracy cost (one collect of ≤40 rows
    per path). Each path runs with its library-default budget, the one
    its timed registry entry uses."""
    from mapreducelearnings_spark.catalog import load_table
    from mapreducelearnings_spark.pipeline import simsearch as SS
    from mapreducelearnings_spark.queries import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    truth: dict[int, set] = {}
    for r in SS.cosine_topk(emb, n_queries=8, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    n_truth = sum(len(v) for v in truth.values())

    def recall(rows) -> float:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return round(hits / n_truth, 4)

    return {
        "ann_ivf_topk": recall(SS.ivf_topk(emb, n_queries=8, k=5).collect()),
        "ann_ivf_trained_topk": recall(
            SS.ivf_topk_trained(emb, n_queries=8, k=5).collect()
        ),
        "ann_ivf_pq64_residual_topk": recall(
            SS.ivf_pq_residual_topk(emb, n_queries=8, k=5).collect()
        ),
        # the SLA-configured on-disk read path (residual pre-rank,
        # max(auto, SLA_RERANK_FRACTION·n) budget) — recall next to its
        # headline timing so the SLA claim is measured, not quoted
        "ann_index_sla_topk": recall(
            REGISTRY["ann_index_sla_topk"].spark(spark, sf_dir).collect()
        ),
    }


def main() -> None:
    from mapreducelearnings_spark.queries import REGISTRY
    from mapreducelearnings_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Probes run OUTSIDE the JVM's lifetime (before the session exists,
    # after spark.stop()): inside a live session the 32-wide probe
    # competes with the executor's own GC threads — measured 0.77-0.93
    # right after the ANN block on totals-consistent runs, a systematic
    # false-positive that flagged three clean runs in a row. Outside
    # the JVM the probes sample HOST conditions, which is the thing the
    # contended flag is about.
    probe_before = _calibration_probe()
    wide_before = _calibration_probe_wide()
    load_before = os.getloadavg()

    spark = get_spark("bench")

    # one throwaway query absorbs JVM/codegen warmup, then every query is
    # timed COLD: fresh plan, cleared cache, first materialization —
    # iterative queries pay their full loop, not a cached re-count.
    REGISTRY["pricing_summary"].spark(spark, sf_dir).count()

    def _drop_rdd_blocks() -> None:
        """clearCache() only clears the SQL cache; iterative queries also
        leave persist()/localCheckpoint() RDD blocks behind. Drop them all
        between queries so later queries aren't taxed by earlier queries'
        storage (eviction + GC churn) — every query still runs fully cold."""
        import gc

        gc.collect()  # release lingering DataFrame JVM refs first
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)  # blocking, so removal never overlaps
            # the next query's timed window

    # Each query is timed REPEATS times and the MIN is reported: the min
    # is the run least taxed by ambient JVM noise (GC of a predecessor's
    # garbage, heap fragmentation), which round 3 showed can tax an
    # unchanged query 2.5× purely by bench ordering. Every repeat is
    # still a fully cold plan (cache + RDD blocks cleared each time) —
    # min-of-k de-noises the measurement without warming anything.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    # Phase split of the repeat that PRODUCED the min (ADVICE r12: the
    # old code paired min-of-k chain times with the LAST repeat's
    # split, so `value` mixed measurements from different runs and a
    # noisy last repeat could exceed the min it was substituted into).
    from mapreducelearnings_spark.queries import PHASE_TIMES

    phase_splits: dict[str, dict[str, float]] = {}

    def _time_set(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            spec = REGISTRY.get(name)
            if spec is None:
                continue
            best = float("inf")
            for _ in range(repeats):
                spark.catalog.clearCache()
                _drop_rdd_blocks()
                PHASE_TIMES.pop(name, None)  # so a stale split can't pair
                t0 = time.perf_counter()
                spec.spark(spark, sf_dir).count()
                elapsed = time.perf_counter() - t0
                if elapsed < best:
                    best = elapsed
                    if name in PHASE_TIMES:
                        phase_splits[name] = dict(PHASE_TIMES[name])
            out[name] = round(best, 4)
        return out

    # Twins FIRST: HEADLINE ends with the ~45 s wide-vector ANN block
    # whose GC residue taxes whatever runs next (the round-3 effect);
    # timing the twins before it keeps the twin-vs-codegen-twin
    # comparison honest. Their own residue is negligible (<3 s of
    # narrow work) and the warmup query has already run.
    surface_twins = _time_set(SURFACE_TWINS)
    timings = _time_set(HEADLINE)
    recall = _ann_recall_at_k(spark, sf_dir)
    # Per-phase wall times of multi-phase chain entries, captured from
    # the SAME repeat that produced each entry's min (ADVICE r12): a
    # chain row's ingest I/O must never read as query latency (VERDICT
    # r10 Next #3), and the split substituted into the headline must be
    # internally consistent with the min it replaces.
    phases = dict(phase_splits)
    spark.stop()

    probe_after = _calibration_probe()
    wide_after = _calibration_probe_wide()
    load_after = os.getloadavg()

    # Ambient-load guard (VERDICT r10 Next #8): the r10 run taken at
    # loadavg ≈7 passed both probes at +17% — just under the 20%
    # threshold — yet ran 5% slow across the board. The 1-minute
    # loadavg BEFORE the run is the leading indicator the probes can
    # miss (they sample ~2 s; loadavg integrates a minute), so a run
    # started on a visibly busy host is flagged regardless of probe
    # luck. AFTER-load is excluded: it mostly measures the bench's own
    # 32-thread work decaying. The default threshold scales with the
    # host's core count (ADVICE r11 — a fixed 3.0 is ~10% utilization
    # on this 32-thread host but would flag near-idle 8-core hosts):
    # 0.1 runnable tasks per core, floored at 1.5 so tiny hosts still
    # get a meaningful leading indicator; absolute override via env.
    _LOADAVG_MAX = float(
        os.environ.get(
            "SPARK_GRAFT_CAL_LOADAVG_MAX",
            str(max(1.5, 0.1 * (os.cpu_count() or 32))),
        )
    )
    contended = (
        any(
            p > _CALIBRATION_REF_SEC * (1 + _CALIBRATION_TOL)
            for p in (probe_before, probe_after)
        )
        or any(
            w == w and w > _CALIBRATION_WIDE_REF_SEC * (1 + _CALIBRATION_TOL)
            for w in (wide_before, wide_after)  # w==w filters the nan fallback
        )
        or load_before[0] > _LOADAVG_MAX
    )
    # The opposite deviation — probes >20% FASTER than ref — means the
    # committed reference is stale for this host; report it so the refs
    # get re-measured instead of silently certifying every run.
    ref_stale_fast = any(
        p < _CALIBRATION_REF_SEC * (1 - _CALIBRATION_TOL)
        for p in (probe_before, probe_after)
    ) or any(
        w == w and w < _CALIBRATION_WIDE_REF_SEC * (1 - _CALIBRATION_TOL)
        for w in (wide_before, wide_after)
    )
    # Read-path headline (VERDICT r11 Next #5): a chain entry's ingest
    # phases (build/append — one-time ∝-corpus I/O by its cost model)
    # must not read as query latency in the headline sum; ~82% of the
    # 14 s build→append→query chain row was ingest inside a 127 s total.
    # The headline counts only the query phase of phase-split entries;
    # the full chain time stays recorded per-query in `queries` and in
    # `full_total_sec`, the excluded ingest itemized alongside.
    full_total = round(sum(timings.values()), 4)
    ingest_excluded = {}
    read_path = dict(timings)
    for name, ph in phases.items():
        if name in read_path and "query_sec" in ph:
            ingest_excluded[name] = round(
                sum(v for p, v in ph.items() if p != "query_sec"), 4
            )
            read_path[name] = ph["query_sec"]
    total = round(sum(read_path.values()), 4)
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "headline_policy": "read-path: phase-split chain entries "
        "contribute only their query phase; declared ingest phases "
        "itemized in ingest_excluded_sec and included in full_total_sec",
        "full_total_sec": full_total,
        "ingest_excluded_sec": ingest_excluded,
        "queries": timings,
        # Python-execution API demos, excluded from `value` by policy —
        # see SURFACE_TWINS above.
        "surface_twins": surface_twins,
        # build/append/query split of chain entries — their headline
        # number is the whole chain; the read-path SLA number is the
        # query phase.
        "phases": phases,
        "recall_at_5": recall,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Contention self-defense block — see _calibration_probe above.
        "calibration": {
            "ref_sec": _CALIBRATION_REF_SEC,
            "probe_before_sec": probe_before,
            "probe_after_sec": probe_after,
            "wide_ref_sec": _CALIBRATION_WIDE_REF_SEC,
            "wide_before_sec": wide_before,
            "wide_after_sec": wide_after,
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in load_after],
            "loadavg_max": _LOADAVG_MAX,
            "wide_workers": _WIDE_WORKERS,
            "contended": contended,
            "ref_stale_fast": ref_stale_fast,
        },
    }
    line = json.dumps(result)
    # The driver tail-captures stdout; with 60+ queries the line's head
    # can fall out of the buffer (BENCH_r04 recorded parsed: null). So
    # ALSO persist the JSON to bench_out.json, and make the line the
    # very last thing printed with nothing after it.
    with open(os.path.join(os.path.dirname(__file__), "bench_out.json"), "w") as f:
        f.write(line + "\n")
    print(line, flush=True)


if __name__ == "__main__":
    main()
