"""Deduplication family (SURVEY.md §2.11 — NEW layer for LLM data
pipelines; no reference counterpart).

Five methods, cheap→thorough, all pure column expressions (no UDFs):

- **exact**: group by content hash. One shuffle on a 128-bit key;
  at 100 TB this is the always-first pass.
- **n-gram Jaccard**: exact set similarity over word shingles via a
  shingle self-join. Quadratic in shingle frequency — correct but the
  join explodes on common shingles; kept as the small-scale oracle and
  verifier for the LSH path.
- **MinHash + banded LSH**: the scale path. Signature = 16 md5-salted
  min-hashes; 4 bands of 4 rows; candidate pairs share a band
  signature. Cost: one explode + one groupBy per doc + one equi-join on
  band signatures — no quadratic blow-up. Hash functions are md5-based,
  so the DuckDB oracle reproduces signatures bit-for-bit.
- **SimHash**: 32-bit fingerprint; near-dups differ in few bits.
- **embedding cosine**: near-dup by semantic similarity (see
  simsearch for the top-k variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X
from ..plans.iterate import _pin

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
# Shingle width shared by every MinHash path (and mirrored in the
# DuckDB oracles' ts[i] || ts[i+1] || ts[i+2] shingling) — referenced
# explicitly so the rowwise path's cheap pre-filter can never drift
# from the shingler it guards.
SHINGLE_N = 3


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-hash groups: (text_hash, keep_id, n_dups). Keep-id policy:
    lowest doc_id survives."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def shingle_table(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-gram shingles per document.

    Tokens are materialized into a column BEFORE the shingle lambda:
    expressions captured inside higher-order-function lambdas are
    re-evaluated per element, so inlining the regexp tokenizer there
    re-ran the regex ~3× per shingle position (measured 9.3 s → 1.8 s
    on the sf0.1 shingle build)."""
    toks = docs.select("doc_id", X.tokens(text_col).alias("ts"))
    return toks.select(
        "doc_id",
        F.explode(X.word_shingles(F.col("ts"), n)).alias("shingle"),
    )


def band_signatures_rowwise(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, band, sig[, passthrough…]) — the SAME banded MinHash
    signatures as :func:`lsh_candidate_pairs`'s groupBy path, computed
    entirely PER ROW (array_min over a transform of the shingle array;
    zero shuffles, zero state). Bit-identical to the shuffle path
    because both use the one-md5-per-shingle universal hash family —
    asserted by ``test_rowwise_band_signatures_match_groupby``.

    This is the streaming-ingest form: a row's signatures depend on
    nothing but the row, so the expression runs inside a streaming
    micro-batch with no aggregation state at all — at 100 TB/day the
    signature column is computed at ingest scan speed and only the
    candidate join carries state. Docs with no shingles (< n tokens)
    produce no rows, matching the explode-groupBy path."""
    rows = num_hashes // bands
    # Drop shingle-less docs on the CHEAP precondition (fewer than n
    # tokens ⟺ word_shingles returns the empty array), not on
    # size(hs) > 0: a filter on hs embeds the whole shingle+md5
    # expression, and predicate pushdown then re-anchors that filter —
    # expensive expression and all — below any exchange a caller adds
    # (the streaming drain repartitions before this projection so 32
    # cores hash; the pushed-down filter serialized all the hashing
    # back onto the single source partition — measured 82 s of the
    # 10x drain's 98 s wall, r9).
    toks = docs.select(
        "doc_id", *passthrough, X.tokens(text_col).alias("_toks")
    ).where(F.size(F.col("_toks")) >= SHINGLE_N)
    sh = toks.select(
        "doc_id",
        *passthrough,
        F.transform(
            X.word_shingles(F.col("_toks"), SHINGLE_N),
            lambda s: X.md5_long(s) % X.MINHASH_M,
        ).alias("hs"),
    )
    mh = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: X.minhash_value(h, i))
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    sig = sh.select("doc_id", *passthrough, *mh)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh_{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                )
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", *passthrough, F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        "doc_id",
        *passthrough,
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact Jaccard similarity over shingle sets, pairs ≥ threshold.

    |A∩B| via the shingle self-join, |A| and |B| via per-doc counts:
    J = inter / (|A| + |B| − inter).
    """
    # both sides of the self-join read the shingles: pinned, they are
    # computed once per action (r14)
    sh = _pin(shingle_table(docs, text_col, n))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(doc_id, mh_0 … mh_{n−1}) — all ``num_hashes`` min-hashes in ONE
    groupBy pass (one shuffle), from ONE md5 per shingle (the universal
    hash family in functions.text derives every permutation by
    multiply-add)."""
    sh = shingle_table(docs, text_col).select(
        "doc_id", (X.md5_long(F.col("shingle")) % X.MINHASH_M).alias("h")
    )
    aggs = [
        F.min(X.minhash_value(F.col("h"), i)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a, doc_b), doc_a < doc_b.

    Band signature = md5 of the comma-joined row hashes; docs sharing any
    band signature become candidates. The band join is an equi-join on
    (band, signature) — at 100 TB this is the only pairwise step and it
    touches only true collisions.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(docs, text_col, num_hashes)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh_{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                )
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    # NOT pinned (r14 A/B): the self-join's two sides are IDENTICAL
    # subtrees shuffled by the same key, so the planner already reuses
    # one exchange (ReusedExchange) — the minhash pipeline runs once
    # either way, and a pin only added cache-materialization overhead
    # (measured 1.11–1.14× across the LSH-pair consumers).
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(y, ["band", "sig"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document: bit j of the fingerprint is the sign
    of Σ_tokens (±1 by bit j of the token's md5-32) — term frequency
    weighted. One explode + one two-level aggregation."""
    toks = docs.select("doc_id", F.explode(X.tokens(text_col)).alias("tok"))
    hashed = toks.select("doc_id", X.md5_long(F.col("tok"), 8).alias("h"))
    bits = hashed.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"), "h"
    ).select(
        "doc_id",
        "j",
        F.when(F.expr("(h >> j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)).alias("w"),
    )
    per_bit = bits.groupBy("doc_id", "j").agg(F.sum("w").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << j")).otherwise(0)
        ).alias("simhash")
    )


def keep_best_survivors(
    labels: DataFrame, stats: DataFrame, docs: DataFrame
) -> DataFrame:
    """Quality-aware dedup KEEP LIST: given near-dup cluster labels
    (doc_id, cluster_id) and per-doc quality (doc_id, quality_score),
    return every surviving document — for each cluster the member with
    the HIGHEST quality_score (ties: lowest doc_id), plus every
    unclustered document as its own singleton.  This is the policy a
    curation pipeline actually wants from dedup: keep-min-id discards
    the best-written copy whenever it arrived late; keep-best keeps it.

    Output: (doc_id, cluster_id, n_members, quality_score), where
    singletons carry cluster_id = their own doc_id and n_members = 1 —
    the same label convention connected_components uses for isolated
    vertices.

    Shape at 100 TB: one shuffle on cluster_id for the argmax
    (max_by over a (quality, -id) struct — partial+final, no
    per-cluster sort), one anti-join on doc_id for the singleton side
    (clusters are a small fraction of the corpus, so the anti-join's
    build side is the short label list — AQE broadcasts it), and the
    quality join rides the same doc_id partitioning.  No windows, no
    driver reads.
    """
    # stats deliberately NOT pinned (r14 order-balanced A/B: 1.23×
    # with a pin): both consumers join it on doc_id, so the two
    # exchanges are identical and the planner already reuses one —
    # the pin only added a cache-materialization stage.
    members = labels.join(stats, "doc_id")
    reps = members.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("quality_score"), -F.col("doc_id"))
        ).alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("quality_score").alias("quality_score"),
    )
    singles = (
        docs.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .join(stats, "doc_id")
        .select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(1).cast("long").alias("n_members"),
            "quality_score",
        )
    )
    return reps.select(
        "doc_id", "cluster_id", "n_members", "quality_score"
    ).unionByName(singles)
