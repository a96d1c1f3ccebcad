"""recall@5 probe for selected ANN paths at an arbitrary sf dir.

The per-round recall block in bench.py is pinned to the bench dir
(sf0.1); this probe re-measures chosen paths at the scale-smoke dirs,
where density-concentrated clusters stress the compressed pre-ranks
(PERFORMANCE.md "30x recall, revisited").

Usage: python tools/ann_recall_probe.py [sf_dir] [path ...]
Paths: ivf (exact rerank), ivf_pq64_residual (residual-PQ pre-rank),
filtered (recall-vs-selectivity sweep of the r13 adaptive widened
filtered probe vs the pre-r13 fixed probe, at vec_id%m residue
selectivities), index (on-disk index, default read → residual pre-rank
under the log-n auto budget), index_sla (recall_sla=0.9 → residual
pre-rank + max(auto, ceil(SLA_RERANK_FRACTION·n)) budget, 4% per the
two-density calibration), index_sla_exact (recall_sla=1.0 → exact
scoring of probed cells). Default: ivf ivf_pq64_residual index_sla.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from mapreducelearnings_spark.catalog import load_table
    from mapreducelearnings_spark.pipeline import simsearch as SS
    from mapreducelearnings_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_smoke/sf0.30"
    wanted = sys.argv[2:] or ["ivf", "ivf_pq64_residual", "index_sla"]

    spark = get_spark("ann-recall-probe")
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    truth: dict[int, set] = {}
    for r in SS.cosine_topk(emb, n_queries=8, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    n_truth = sum(len(v) for v in truth.values())

    def recall(rows) -> float:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return round(
            sum(len(truth[q] & got.get(q, set())) for q in truth) / n_truth, 4
        )

    def _index_path():
        from mapreducelearnings_spark import queries as Q

        return Q._session_index(spark, sf_dir)

    paths = {
        "ivf": lambda: SS.ivf_topk(emb, n_queries=8, k=5),
        "ivf_pq64_residual": lambda: SS.ivf_pq_residual_topk(
            emb, n_queries=8, k=5
        ),
        "index": lambda: SS.ann_index_topk(
            spark, _index_path(), emb, n_queries=8, k=5
        ),
        "index_sla": lambda: SS.ann_index_topk(
            spark, _index_path(), emb, n_queries=8, k=5, recall_sla=0.9
        ),
        "index_sla_exact": lambda: SS.ann_index_topk(
            spark, _index_path(), emb, n_queries=8, k=5, recall_sla=1.0
        ),
    }
    def filtered_sweep() -> dict:
        """Recall-vs-selectivity curve for FILTERED search (VERDICT r12
        Next #2): at each predicate selectivity (vec_id % m == 0 — a
        deterministic, scale-independent residue class), measure the
        r13 ADAPTIVE widened probe against the filtered brute-force
        ground truth, next to what the pre-r13 FIXED n_probes
        semantics would have returned (reconstructed as: unfiltered
        probed-cell candidates, post-filtered, top-5). `fill` is the
        fraction of the 8×5 result slots actually returned — the
        under-fill the widening exists to close."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from mapreducelearnings_spark.functions import vector as V

        embn = SS._emb_normed(emb)
        qf = embn.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
        )
        sweep = {}
        # the full fixed-probe candidate list (keep=None never widens):
        # reconstructs pre-r13 filtered semantics by post-filtering it
        fixed_all = SS.ivf_topk(emb, n_queries=8, k=10**9).collect()
        # collect() order is partition-interleaved, not guaranteed; the
        # reconstruction scan below depends on per-query rank order
        # (ADVICE r13) — sort explicitly before scanning
        fixed_all.sort(key=lambda r: (r["query_id"], r["rank"]))
        for m in (2, 8, 32, 128):
            keep = emb.where((F.col("vec_id") % m) == 0).select(
                F.col("vec_id").alias("keep_id")
            )
            keepset = {r["keep_id"] for r in keep.collect()}
            # filtered brute-force ground truth: exact cosine top-5
            # among matching candidates over the WHOLE corpus
            cand = embn.join(
                keep, embn["vec_id"] == keep["keep_id"], "left_semi"
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("cos"), F.asc("neighbor_id")
            )
            tr = (
                cand.crossJoin(F.broadcast(qf))
                .where(F.col("vec_id") != F.col("query_id"))
                .select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    F.round(V.dot(F.col("qe"), F.col("ne")), 6).alias("cos"),
                )
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= 5)
                .collect()
            )
            ftruth: dict[int, set] = {}
            for r in tr:
                ftruth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            n_ftruth = sum(len(v) for v in ftruth.values())

            def frecall(rows) -> float:
                got: dict[int, set] = {}
                for r in rows:
                    got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
                return round(
                    sum(len(ftruth[q] & got.get(q, set())) for q in ftruth)
                    / max(1, n_ftruth),
                    4,
                )

            t0 = time.time()
            # default path = the r14 3×k over-provision (recall-first)
            adaptive = SS.ivf_topk(emb, n_queries=8, k=5, keep=keep).collect()
            sec = round(time.time() - t0, 1)
            # the lever's other settings: min-fill opt-out (widen_to=k
            # guarantees k rows, not recall — the pre-r14 default) and
            # the 3×k / 6×k escalations (3×k ≡ the new default; kept so
            # the curve stays comparable across rounds)
            mf = SS.ivf_topk(
                emb, n_queries=8, k=5, keep=keep, widen_to=5
            ).collect()
            w3 = SS.ivf_topk(
                emb, n_queries=8, k=5, keep=keep, widen_to=15
            ).collect()
            w6 = SS.ivf_topk(
                emb, n_queries=8, k=5, keep=keep, widen_to=30
            ).collect()
            # filtered x compressed: residual pre-rank whose budget
            # counts MATCHING candidates (semi join before pre-rank),
            # probe widened to 3xk — the cheap path selective
            # predicates lacked while filtered reads paid the exact rung
            t1 = time.time()
            resid_w3 = SS.ivf_pq_residual_topk(
                emb, n_queries=8, k=5, keep=keep, widen_to=15
            ).collect()
            sec_resid = round(time.time() - t1, 1)
            # pre-r13 fixed-probe reconstruction
            fixed: list = []
            per_q: dict[int, int] = {}
            for r in fixed_all:  # sorted (query_id, rank) above
                if r["neighbor_id"] in keepset and per_q.get(r["query_id"], 0) < 5:
                    per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
                    fixed.append(r)
            sweep[f"mod{m}"] = {
                "selectivity": round(len(keepset) / n, 4),
                "recall_adaptive": frecall(adaptive),
                "recall_minfill": frecall(mf),
                "recall_widen3k": frecall(w3),
                "recall_widen6k": frecall(w6),
                "recall_resid_widen3k": frecall(resid_w3),
                "fill_resid_widen3k": round(len(resid_w3) / 40, 4),
                "sec_resid_widen3k": sec_resid,
                "recall_fixed": frecall(fixed),
                "fill_adaptive": round(len(adaptive) / 40, 4),
                "fill_fixed": round(len(fixed) / 40, 4),
                "sec_adaptive": sec,
            }
        return sweep

    out = {
        "sf_dir": sf_dir,
        "n_vectors": n,
        "auto_rerank_R": 5 * SS.hamming_auto_mult(n),
        "sla_rerank_R": SS.sla_rerank_rows(n, 5),
        "recall_at_5": {},
        "sec": {},
    }
    for name in wanted:
        if name == "filtered":
            out["filtered_vs_selectivity"] = filtered_sweep()
            continue
        t0 = time.time()
        out["recall_at_5"][name] = recall(paths[name]().collect())
        out["sec"][name] = round(time.time() - t0, 1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
