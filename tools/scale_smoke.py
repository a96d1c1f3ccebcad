"""Scale smoke for the heavy query family (VERDICT r04 Next #7).

Generates an sf0.3-equivalent slice of the two LLM-pipeline tables
(documents 3x, embeddings 3x — same statistical shape as the driver
fixtures: word-salad docs over the same vocabulary with planted
near-duplicates; 64-dim clustered float vectors), copies the sf0.1
relational tables alongside so the dir is a complete sf layout, then
times the heavy family at sf0.1 vs the scaled dir and prints one JSON
line with per-query ratios. Near-linear growth (time ratio ≲ data
ratio, modulo fixed job overhead) is the evidence that the 100x-scale
claim rests on measurements, not plan shape alone.

The scaled dir is also a valid check_oracles target (the oracles are
scale-independent SQL), so exact value parity can be re-checked at
sf0.3:  python tools/check_oracles.py /tmp/scale_smoke/sf0.3 <names>

Usage: python tools/scale_smoke.py [mult] [out_root]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"
VOCAB = (
    "spark line column order small sort fast value scan stream filter big "
    "batch merge group a the key hash table query agg join vector part "
    "customer slow"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
HEAVY = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_clusters_star",
    "corpus_curation",
    "sequence_packing",
    "dedup_stream_lsh",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "semdedup_keep",
    "incident_event_counts",
    # fixed-size arrival batch: time must stay ~flat as the corpus
    # grows (the maintenance cost is ∝|delta|; VERDICT r07 Next #5)
    "dedup_clusters_incremental",
    # round-8 late adds: pair-expand aggregate + LSH/CC + quality argmax
    "cooccurrence_pmi",
    "dedup_keep_best",
    # round-9 adds: bounded-output near-dup (collision-bound compute,
    # Θ(n) output) + the batched BPE trainer
    "dedup_embedding_nearest",
    "bpe_merges_batched",
    # round-10 adds: residual PQ
    "ann_ivf_pq64_residual_topk",
    # round-11: the sublinear-by-design family measured one decade
    # deeper (VERDICT r10 Next #4) + the SLA read path
    "distinct_kmv_sketch",
    "distinct_kmv_incremental",
    "ann_index_sla_topk",
]


def gen_documents(n_docs: int, seed: int = 43) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    i = 0
    while len(texts) < n_docs:
        n_words = int(rng.integers(8, 100))
        words = rng.choice(VOCAB, size=n_words)
        texts.append(" ".join(words))
        # plant near-duplicates (~6%): perturb the doc just emitted by
        # swapping a couple of tokens — the structure every dedup path
        # (shingle Jaccard, minhash-LSH, clusters) feeds on
        if rng.random() < 0.06 and len(texts) < n_docs:
            w = list(words)
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(w))
        i += 1
    texts = texts[:n_docs]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(
                [LANGS[int(x)] for x in np.random.default_rng(seed + 1).integers(0, len(LANGS), n_docs)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(n_vecs: int, dims: int = 64, seed: int = 47) -> pa.Table:
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(20, dims))
    cluster = rng.integers(0, 20, n_vecs)
    vecs = centers[cluster] + 0.3 * rng.normal(size=(n_vecs, dims))
    # plant near-duplicate vectors (~3%)
    dup_of = rng.integers(0, n_vecs, n_vecs)
    dup_mask = (rng.random(n_vecs) < 0.03) & (dup_of < np.arange(n_vecs))
    vecs[dup_mask] = vecs[dup_of[dup_mask]] + 0.01 * rng.normal(
        size=(int(dup_mask.sum()), dims)
    )
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([int(c) for c in cluster], pa.int32()),
        }
    )


def gen_events_scaled(mult: int) -> pa.Table:
    """events at mult× rows: the base table time-shifted by its full
    span per copy (ids offset to stay unique) — per-window density
    stays constant, so the incident interval join's work grows
    LINEARLY (mult× incidents, mult× events, mult× pairs), the honest
    scale-up for a time-banded operator."""
    base = pq.read_table(os.path.join(BASE_SF, "events.parquet"))
    n = base.num_rows
    ts = base.column("ts").to_pandas()
    span = (ts.max() - ts.min()).to_timedelta64() + np.timedelta64(1, "h")
    copies = []
    for k in range(mult):
        t = base.to_pandas()
        t["event_id"] = t["event_id"] + k * n
        t["ts"] = t["ts"] + k * span
        copies.append(t)
    import pandas as pd

    return pa.Table.from_pandas(
        pd.concat(copies, ignore_index=True), preserve_index=False
    )


def build_scaled_dir(out_dir: str, mult: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem".split():
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(BASE_SF, f"{t}.parquet"), dst)
    n_docs = 5000 * mult
    n_vecs = 2000 * mult
    pq.write_table(gen_documents(n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(gen_embeddings(n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    pq.write_table(gen_events_scaled(mult), os.path.join(out_dir, "events.parquet"))


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_smoke"
    # optional query subset (argv[3:]): time only these HEAVY members —
    # used to re-measure a fix without paying the two output-quadratic
    # embedding-pair entries (~1100 s at 10×, unchanged by contract)
    only = set(sys.argv[3:])
    scaled = os.path.join(out_root, f"sf0.{mult}")
    build_scaled_dir(scaled, mult)

    from mapreducelearnings_spark.session import get_spark
    from mapreducelearnings_spark.queries import REGISTRY

    spark = get_spark("scale_smoke", shuffle_partitions=32)
    results: dict[str, dict] = {}
    for name in HEAVY:
        if only and name not in only:
            continue
        spec = REGISTRY[name]
        row = {}
        for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = spec.spark(spark, sf_dir).count()
            row[label] = round(time.perf_counter() - t0, 3)
            row[f"{label}_rows"] = n
        row["ratio"] = round(row["scaled"] / max(row["base"], 1e-9), 2)
        results[name] = row
        print(f"{name:32s} base={row['base']:7.2f}s scaled={row['scaled']:7.2f}s "
              f"ratio={row['ratio']:.2f} (data {mult}x)", flush=True)
    # The maintenance-step row: dedup_clusters_incremental's whole-query
    # time grows with the corpus because the DEMO rebuilds base labels
    # from scratch (one-shot harness); the algorithm's claim is that the
    # STEP — merging a fixed-size arrival batch into existing labels —
    # costs ∝|delta|. Materialize the inputs untimed, then time
    # incremental_components alone at both scales: ~flat is the evidence
    # (VERDICT r07 Next #5).
    from mapreducelearnings_spark import queries as Q
    from mapreducelearnings_spark.operators import graph as G

    if only and "incremental_maintenance_step" not in only:
        line = json.dumps({"mult": mult, "queries": results, "subset": True})
        print(line)
        return

    row = {}
    for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
        spark.catalog.clearCache()
        base_labels, delta = Q.incremental_demo_inputs(spark, sf_dir)
        delta = delta.localCheckpoint(eager=True)  # pairs built untimed
        t0 = time.perf_counter()
        n = G.incremental_components(spark, base_labels, delta).count()
        row[label] = round(time.perf_counter() - t0, 3)
        row[f"{label}_rows"] = n
    row["ratio"] = round(row["scaled"] / max(row["base"], 1e-9), 2)
    results["incremental_maintenance_step"] = row
    print(f"{'incremental_maintenance_step':32s} base={row['base']:7.2f}s "
          f"scaled={row['scaled']:7.2f}s ratio={row['ratio']:.2f} "
          f"(data {mult}x, |delta| fixed)", flush=True)

    line = json.dumps({"mult": mult, "queries": results})
    with open(os.path.join(out_root, "scale_smoke.json"), "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
