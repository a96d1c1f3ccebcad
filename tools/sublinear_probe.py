"""One-decade-deeper scale probe for the sublinear-by-design family
(VERDICT r10 Next #4).

The 100 TB claim previously rested on 30× evidence; this probe measures
ONLY the operators whose scale story is sublinear by construction — the
KMV sketch build + incremental merge, the streaming LSH drain, the
incremental-CC maintenance step at a fixed delta, and the on-disk ANN
index chain (append ∝|batch|, read partition-pruned) — at an arbitrary
mult× of the sf0.1 fixtures (default 100×: documents 500k, embeddings
200k, events 10M). The quadratic oracle twins are deliberately NOT here.

Unlike scale_smoke's whole-query timings, this probe splits the index
chain into its phases (build / append / query via queries.PHASE_TIMES)
and times the SLA read path TWICE — the first call pays the session
index ingest, the second is the pure partition-pruned read the
production SLA cares about.

Usage: python tools/sublinear_probe.py [mult] [out_root]
Prints one JSON line; ratios are scaled/base with base = sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"


def main() -> int:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_smoke"
    scaled = os.path.join(out_root, f"sf0.{mult}")

    from scale_smoke import build_scaled_dir

    build_scaled_dir(scaled, mult)

    from mapreducelearnings_spark import queries as Q
    from mapreducelearnings_spark.operators import graph as G
    from mapreducelearnings_spark.session import get_spark

    spark = get_spark("sublinear_probe", shuffle_partitions=32)
    # throwaway warmup: the first timed query otherwise absorbs ~6 s of
    # JVM/codegen startup and corrupts its base-side ratio (observed on
    # the first 100× run: distinct_kmv_sketch base 6.98 s vs its 0.84 s
    # clean min-of-3)
    Q.REGISTRY["pricing_summary"].spark(spark, BASE_SF).count()
    results: dict[str, dict] = {}

    def timed(fn) -> tuple[float, int]:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = fn()
        return round(time.perf_counter() - t0, 3), n

    def run(name: str, make_fn) -> None:
        row: dict[str, float | int] = {}
        for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
            sec, n = timed(make_fn(sf_dir))
            row[label], row[f"{label}_rows"] = sec, n
        row["ratio"] = round(row["scaled"] / max(row["base"], 1e-9), 2)
        results[name] = row
        print(
            f"{name:32s} base={row['base']:8.2f}s scaled={row['scaled']:8.2f}s "
            f"ratio={row['ratio']:.2f} (data {mult}x)",
            flush=True,
        )

    def reg(name):
        def make(sf_dir):
            return lambda: Q.REGISTRY[name].spark(spark, sf_dir).count()

        return make

    # sketch build + incremental merge: the distinct shuffle collapses
    # to the id domain, everything after is k-bounded per group
    run("distinct_kmv_sketch", reg("distinct_kmv_sketch"))
    run("distinct_kmv_incremental", reg("distinct_kmv_incremental"))
    # streaming LSH drain (batched micro-batches over the docs corpus)
    run("dedup_stream_lsh", reg("dedup_stream_lsh"))

    # incremental CC maintenance step at a FIXED delta: inputs built
    # untimed, only incremental_components is measured (∝|delta|)
    row = {}
    for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
        spark.catalog.clearCache()
        base_labels, delta = Q.incremental_demo_inputs(spark, sf_dir)
        delta = delta.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        n = G.incremental_components(spark, base_labels, delta).count()
        row[label] = round(time.perf_counter() - t0, 3)
        row[f"{label}_rows"] = n
    row["ratio"] = round(row["scaled"] / max(row["base"], 1e-9), 2)
    results["incremental_maintenance_step"] = row
    print(
        f"{'incremental_maintenance_step':32s} base={row['base']:8.2f}s "
        f"scaled={row['scaled']:8.2f}s ratio={row['ratio']:.2f} "
        f"(data {mult}x, |delta| fixed)",
        flush=True,
    )

    # SLA read path: first call pays the session-index ingest, second
    # is the pure partition-pruned read
    row = {}
    for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
        spec = Q.REGISTRY["ann_index_sla_topk"]
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        spec.spark(spark, sf_dir).count()
        row[f"{label}_ingest_plus_read"] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        spec.spark(spark, sf_dir).count()
        row[f"{label}_read"] = round(time.perf_counter() - t0, 3)
    row["read_ratio"] = round(
        row["scaled_read"] / max(row["base_read"], 1e-9), 2
    )
    results["ann_index_sla_read"] = row
    print(f"{'ann_index_sla_read':32s} {json.dumps(row)}", flush=True)

    # r13: the FILTERED on-disk read (adaptive widened probe over the
    # stored index — the match-count pass is column-pruned (vec_id,
    # cell) so it scales with corpus ROW COUNT but never touches the
    # vectors; the scoring scan stays partition-pruned). Reuses the
    # session index the SLA row above already built, so both calls are
    # pure reads; predicate = vec_id % 128 (selective enough to widen
    # at base scale, plenty of matches at 100×).
    from pyspark.sql import functions as F

    from mapreducelearnings_spark.catalog import load_table
    from mapreducelearnings_spark.pipeline import simsearch as SS

    row = {}
    for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
        path = Q._session_index(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        keep = emb.where(F.col("vec_id") % 128 == 0).select(
            F.col("vec_id").alias("keep_id")
        )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = SS.ann_index_filtered_topk(spark, path, emb, keep).count()
        row[f"{label}_read"] = round(time.perf_counter() - t0, 3)
        row[f"{label}_rows"] = n
    row["read_ratio"] = round(
        row["scaled_read"] / max(row["base_read"], 1e-9), 2
    )
    results["ann_index_filtered_read"] = row
    print(f"{'ann_index_filtered_read':32s} {json.dumps(row)}", flush=True)

    # the on-disk index chain, phase-split: append must be ∝|batch|,
    # compact ∝ index (run in the maintenance window), and the pruned
    # read of the compacted layout sublinear in the stored corpus
    for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
        spark.catalog.clearCache()
        Q.REGISTRY["ann_index_compact_topk"].spark(spark, sf_dir).count()
        results.setdefault("ann_index_compact_phases", {})[label] = dict(
            Q.PHASE_TIMES["ann_index_compact_topk"]
        )
    ph = results["ann_index_compact_phases"]
    for phase in ("build_sec", "append_sec", "compact_sec", "query_sec"):
        ph[f"{phase}_ratio"] = round(
            ph["scaled"][phase] / max(ph["base"][phase], 1e-9), 2
        )
    print(f"{'ann_index_compact_phases':32s} {json.dumps(ph)}", flush=True)

    line = json.dumps({"mult": mult, "queries": results})
    with open(os.path.join(out_root, f"sublinear_probe_{mult}x.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
