"""End-to-end corpus curation (SURVEY.md §2.11 — NEW layer; no
reference counterpart): the composed pass a training-data pipeline runs
over a crawl before tokenization, built entirely from this engine's own
layers so every stage's scale story is already proven in isolation:

1. **quality gate** (:func:`..pipeline.textstats.quality_filter`) —
   quality ∧ length ∧ language in one codegen scan, zero shuffles;
   prunes the crawl BEFORE any pairwise work exists.
2. **exact dedup** (content-hash groupBy, keep min doc_id) — one
   shuffle on a 128-bit key over the ~36% survivors.
3. **near-dup dedup** (MinHash+LSH candidate pairs →
   :func:`..operators.graph.connected_components` → keep each
   cluster's min doc_id) — the only pairwise stage, and it is an
   equi-join on band signatures, never O(n²).

Stage order IS the 100 TB design: each stage shrinks the corpus the
next (more expensive) stage sees — the gate runs at scan speed on
everything, the hash dedup shuffles only gated survivors, and LSH
shingling/banding runs only on exact-unique documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph as G
from ..plans.iterate import _pin
from . import dedup as DD
from . import textstats as TS


def curate_corpus(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Returns the curated keep-set as (doc_id, token_count,
    quality_score) — the documents that survive gate → exact-dedup →
    near-dup-cluster-dedup, with the stats a downstream token-budget
    planner needs. Keep policy at every dedup stage: lowest doc_id
    survives (deterministic, and the component label of the union-find
    is already the min member, so near-dup survivors are exactly the
    rows where vertex == component)."""
    # each stage feeds two consumers (the gate: id join + final stats
    # join; the gated rows: hash dedup + exact-unique join); pinned, the
    # quality gate and the md5 dedup run once per action, not 3× and 2×
    # (r14)
    kept = _pin(TS.quality_filter(docs))
    # narrow the gated rows to what downstream reads (doc_id, text) —
    # the near-dup stage shingles text, the survivor joins use ids only
    dk = _pin(
        docs.select("doc_id", "text").join(kept.select("doc_id"), "doc_id")
    )
    exact_keep = (
        dk.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    de = dk.join(exact_keep, "doc_id")
    pairs = DD.lsh_candidate_pairs(de)
    cc = G.connected_components(
        spark,
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
    )
    # docs in no pair never enter cc and survive via the anti-join
    dropped = cc.where(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    survivors = de.select("doc_id").join(dropped, "doc_id", "left_anti")
    return survivors.join(kept, "doc_id").select(
        "doc_id", "token_count", "quality_score"
    )
