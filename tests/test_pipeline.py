"""LLM-pipeline layer tests: dedup recall/precision relationships,
multimodal plumbing, streaming/batch equivalence, scale-plan assertions.
Oracle parity itself is covered by test_oracle_parity (all pipeline
queries are oracle-checked — none are rows-only).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducelearnings_spark.catalog import load_table
from mapreducelearnings_spark.pipeline import dedup as DD
from mapreducelearnings_spark.pipeline import multimodal as MM
from mapreducelearnings_spark.pipeline import simsearch as SS
from mapreducelearnings_spark.pipeline import textstats as TS
from mapreducelearnings_spark.queries import REGISTRY
from mapreducelearnings_spark.streaming import windows as SW

from .conftest import jobs_of


# --- dedup ------------------------------------------------------------------


def test_lsh_candidates_cover_high_jaccard_pairs(spark, sf_dir):
    """LSH(16,4×4) must recall every pair with very high Jaccard: a pair
    with J ≈ 0.97 collides in some band with overwhelming probability,
    and on this corpus recall is exact — the LSH-vs-exact relationship
    the two dedup strategies are designed around."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in DD.lsh_candidate_pairs(docs).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    assert exact <= lsh, f"LSH missed high-similarity pairs: {exact - lsh}"


def test_simhash_near_dups_have_close_fingerprints(spark, sf_dir):
    """Near-duplicate documents (by Jaccard) should differ in few SimHash
    bits; random pairs should differ in many."""
    docs = load_table(spark, sf_dir, "documents")
    sim = {r["doc_id"]: r["simhash"] for r in DD.simhash_fingerprints(docs).collect()}
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert pairs
    for r in pairs:
        hamming = bin(sim[r["doc_a"]] ^ sim[r["doc_b"]]).count("1")
        assert hamming <= 8, (r["doc_a"], r["doc_b"], hamming)


def test_exact_dedup_no_dups_at_this_sf(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    groups = DD.exact_dedup_groups(docs)
    assert groups.agg(F.sum("n_dups")).first()[0] == docs.count()


# --- similarity search ------------------------------------------------------


def _recall_at_k(truth_rows, ann_rows) -> float:
    truth, got = {}, {}
    for r in truth_rows:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ann_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_ivf_filtered_topk_respects_predicate(spark, sf_dir):
    """Filtered vector search (r12): every returned neighbor must
    satisfy the metadata predicate, the filter must actually bite
    (filtered ≠ unfiltered on a mixed-language fixture), and the
    degenerate all-ids filter must reproduce the unfiltered result
    exactly — the semi join may change WHICH rows rank, never HOW
    scoring/tiebreaking works."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    en = {r["doc_id"] for r in docs.where(F.col("lang") == "en").collect()}
    keep = docs.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("keep_id")
    )
    filtered = SS.ivf_topk(emb, n_queries=8, k=5, keep=keep).collect()
    assert filtered, "filtered search returned nothing"
    assert all(r["neighbor_id"] in en for r in filtered)
    unfiltered = SS.ivf_topk(emb, n_queries=8, k=5).collect()
    assert {tuple(r) for r in filtered} != {tuple(r) for r in unfiltered}
    all_ids = docs.select(F.col("doc_id").alias("keep_id"))
    assert sorted(map(tuple, SS.ivf_topk(emb, n_queries=8, k=5, keep=all_ids).collect())) == sorted(
        map(tuple, unfiltered)
    )


def test_ivf_filtered_widens_probe_to_fill_k(spark, sf_dir):
    """Adaptive probe widening (r13, VERDICT r12 Next #2): under a
    selective predicate that leaves < k matching rows in the fixed
    n_probes cells, the filtered search must widen per query until k
    matches are reachable — the fixture proves the OLD fixed-probe
    semantics would under-fill (some query has < k matches among the
    fixed-probe candidates) while the adaptive path returns exactly k
    predicate-satisfying rows for every query."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    sel = docs.where((F.col("lang") == "de") & (F.col("doc_id") % 3 == 0))
    keepset = {r["doc_id"] for r in sel.collect()}
    keep = sel.select(F.col("doc_id").alias("keep_id"))
    n_emb = emb.count()
    # fixture sanity: enough matches corpus-wide that k is fillable
    assert len({i for i in keepset if i < n_emb}) >= 5 + 1
    # the fixed-probe candidate set per query == unfiltered ivf_topk
    # with an unbounded k (keep=None never widens); filter it by the
    # predicate to get what the OLD semantics would have returned
    from collections import Counter

    fixed_all = SS.ivf_topk(emb, n_queries=8, k=10**9).collect()
    fixed_counts = Counter(
        r["query_id"] for r in fixed_all if r["neighbor_id"] in keepset
    )
    assert min(fixed_counts.get(q, 0) for q in range(8)) < 5, (
        "fixture predicate not selective enough to exercise widening"
    )
    res = SS.ivf_topk(emb, n_queries=8, k=5, keep=keep).collect()
    counts = Counter(r["query_id"] for r in res)
    assert all(counts.get(q, 0) == 5 for q in range(8)), dict(counts)
    assert all(r["neighbor_id"] in keepset for r in res)


def test_ivf_filtered_widen_to_overprovisions(spark, sf_dir):
    """The widen_to lever (recall-vs-probes for selective predicates),
    r14 default semantics: the DEFAULT path over-provisions to
    FILTERED_WIDEN_MULT×k (VERDICT r13 Next #3 — recall-first is
    opt-OUT, not opt-in), so default ≡ widen_to=3k bit-identically;
    the min-fill opt-out (widen_to=k) must still return exactly k
    predicate-satisfying rows per query; and since the
    over-provisioned probe is a SUPERSET of the min-fill cells with
    exact ranking inside probed cells, the default's per-query best
    cosine can only improve (or stay) over min-fill's."""
    from collections import Counter

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    sel = docs.where((F.col("lang") == "de") & (F.col("doc_id") % 3 == 0))
    keepset = {r["doc_id"] for r in sel.collect()}
    keep = sel.select(F.col("doc_id").alias("keep_id"))
    minfill = SS.ivf_topk(
        emb, n_queries=8, k=5, keep=keep, widen_to=5
    ).collect()
    default = SS.ivf_topk(emb, n_queries=8, k=5, keep=keep).collect()
    explicit = SS.ivf_topk(
        emb, n_queries=8, k=5, keep=keep,
        widen_to=SS.FILTERED_WIDEN_MULT * 5,
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, explicit))
    for rows in (minfill, default):
        counts = Counter(r["query_id"] for r in rows)
        assert all(counts.get(q, 0) == 5 for q in range(8)), dict(counts)
        assert all(r["neighbor_id"] in keepset for r in rows)
    best_min = {r["query_id"]: r["cos"] for r in minfill if r["rank"] == 1}
    best_def = {r["query_id"]: r["cos"] for r in default if r["rank"] == 1}
    assert all(best_def[q] >= best_min[q] for q in best_min)


def test_ivf_filtered_short_only_when_corpus_exhausts(spark, sf_dir):
    """When the WHOLE corpus holds fewer than k matching rows, the
    widened probe escalates to every cell and the result is honestly
    short — exactly the corpus-wide match count per query (minus the
    query itself when it matches), never padded, never empty."""
    emb = load_table(spark, sf_dir, "embeddings")
    ids = [10, 20, 30]
    keep = emb.where(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("keep_id")
    )
    res = SS.ivf_topk(emb, n_queries=8, k=5, keep=keep).collect()
    from collections import Counter

    counts = Counter(r["query_id"] for r in res)
    assert all(counts.get(q, 0) == len(ids) for q in range(8)), dict(counts)
    assert {r["neighbor_id"] for r in res} == set(ids)
    # degenerate: an EMPTY keep set must yield an empty result (the
    # widening probes everything, the semi join keeps nothing), not an
    # error and not unfiltered rows
    empty = emb.where(F.lit(False)).select(F.col("vec_id").alias("keep_id"))
    assert SS.ivf_topk(emb, n_queries=8, k=5, keep=empty).count() == 0


def test_ivf_filtered_result_size_invariant(spark, sf_dir):
    """Size invariant of the adaptive filtered search, swept over
    predicates of varying selectivity: per query the result holds
    EXACTLY min(k, corpus-wide matches excluding the query itself)
    rows — never fewer (under-fill closed), never more, and every row
    satisfies the predicate."""
    from collections import Counter

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    for mod in (3, 17, 101):
        sel = emb.where(F.col("vec_id") % mod == 0)
        keepset = {r["vec_id"] for r in sel.select("vec_id").collect()}
        keep = sel.select(F.col("vec_id").alias("keep_id"))
        res = SS.ivf_topk(emb, n_queries=8, k=5, keep=keep).collect()
        counts = Counter(r["query_id"] for r in res)
        for q in range(8):
            expect = min(5, len(keepset - {q}))
            assert counts.get(q, 0) == expect, (mod, q, counts.get(q, 0))
        assert all(r["neighbor_id"] in keepset for r in res), mod


def test_ann_index_filtered_matches_memory(spark, sf_dir, tmp_path):
    """Filtered search over the ON-DISK index must be bit-identical to
    the in-memory ivf_topk(keep=...) when the frames match — the
    disk≡memory convention every other index read path carries — and
    every returned neighbor must satisfy the predicate. The pruned
    scan + semi join composition is what a persisted-index RAG read
    actually runs."""
    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    keep = docs.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("keep_id")
    )
    path = str(tmp_path / "ann_index_filtered")
    SS.ann_index_write(emb, path)
    disk = SS.ann_index_filtered_topk(
        spark, path, emb, keep, n_queries=6, k=5
    ).collect()
    mem = SS.ivf_topk(emb, n_queries=6, k=5, keep=keep).collect()
    assert sorted(map(tuple, disk)) == sorted(map(tuple, mem))
    en = {r["keep_id"] for r in keep.collect()}
    assert disk and all(r["neighbor_id"] in en for r in disk)
    # and under a SELECTIVE predicate, where the adaptive probe
    # actually widens (r13): the stored-assignment widening must make
    # the same per-query escalation decisions as the in-memory one
    sel = docs.where((F.col("lang") == "de") & (F.col("doc_id") % 3 == 0))
    keep_sel = sel.select(F.col("doc_id").alias("keep_id"))
    disk_sel = SS.ann_index_filtered_topk(
        spark, path, emb, keep_sel, n_queries=6, k=5
    ).collect()
    mem_sel = SS.ivf_topk(emb, n_queries=6, k=5, keep=keep_sel).collect()
    assert sorted(map(tuple, disk_sel)) == sorted(map(tuple, mem_sel))
    assert disk_sel


def test_ann_index_residual_filtered_matches_memory(spark, sf_dir, tmp_path):
    """Filtered × compressed composition (r13): the index read (its
    residual pre-rank) with a metadata filter must (a) apply the semi
    join BEFORE the pre-rank so the top-R budget counts MATCHING
    candidates, (b) return only predicate-satisfying rows, and (c)
    stay bit-identical between the in-memory and on-disk paths under
    both the plain keep and the widen_to lever at its min-fill opt-out
    (widen_to=k), the r14 3×k default (None), and a 6×k escalation —
    the same disk≡memory convention as every other index read."""
    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    sel = docs.where((F.col("lang") == "de") & (F.col("doc_id") % 3 == 0))
    keepset = {r["doc_id"] for r in sel.collect()}
    keep = sel.select(F.col("doc_id").alias("keep_id"))
    path = str(tmp_path / "ann_index_resid_filtered")
    SS.ann_index_write(emb, path)
    for widen in (5, None, 30):
        disk = SS.ann_index_topk(
            spark, path, emb, n_queries=6, k=5, keep=keep, widen_to=widen
        ).collect()
        mem = SS.ivf_pq_residual_topk(
            emb, n_queries=6, k=5, keep=keep, widen_to=widen
        ).collect()
        assert sorted(map(tuple, disk)) == sorted(map(tuple, mem)), widen
        assert disk and all(r["neighbor_id"] in keepset for r in disk)


def test_quality_filter_is_conjunction_of_stats(spark, sf_dir):
    """quality_filter's single-scan output must equal filtering the
    text_stats ⋈ lang_id composition row-for-row (same formulas, one
    pass), and be a strict, non-empty subset of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    kept = TS.quality_filter(docs).collect()
    n_docs = docs.count()
    assert 0 < len(kept) < n_docs
    stats = {r["doc_id"]: r for r in TS.text_stats(docs).collect()}
    langs = {r["doc_id"]: r["lang_pred"] for r in TS.lang_id(docs).collect()}
    expect = {
        d
        for d, r in stats.items()
        if r["quality_score"] >= TS.QF_MIN_QUALITY
        and r["token_count"] >= TS.QF_MIN_TOKENS
        and langs[d] == TS.QF_LANG
    }
    assert {r["doc_id"] for r in kept} == expect
    for r in kept:
        assert r["quality_score"] == stats[r["doc_id"]]["quality_score"]


#: Spark jobs one registered ANN entry runs to build and collect its
#: result at sf0.001, every cache cold (the on-disk session index
#: already built). A change of one means a read, broadcast or collect
#: was added or removed.
ANN_ENTRY_JOBS = {
    "ann_index_compact_topk": 48,
    "ann_index_sla_topk": 14,
    "ann_ivf_filtered_topk": 23,
    "ann_ivf_pq64_residual_topk": 20,
    "ann_ivf_topk": 6,
    "ann_ivf_trained_topk": 15,
    "dedup_embedding_nearest": 11,
    "semdedup_keep": 7,
    "similarity_topk": 5,
    "similarity_topk_q8": 5,
}


def test_ann_entry_job_counts(spark, sf_dir):
    REGISTRY["ann_index_sla_topk"].spark(spark, sf_dir).collect()
    got = {}
    for name in ANN_ENTRY_JOBS:
        spark.catalog.clearCache()
        SS._CORPUS_SIZE_CACHE.clear()
        got[name] = jobs_of(
            spark, lambda: REGISTRY[name].spark(spark, sf_dir).collect()
        )[1]
    assert got == ANN_ENTRY_JOBS


def test_ivf_assign_partitions_corpus(spark, sf_dir):
    """IVF assignment is a PARTITION: every vector lands in exactly one
    cell, cell ids are valid centroid ids, and each centroid vector is
    assigned to its own cell (cos(v,v)=1 dominates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = SS.ivf_assign(emb, n_cells=16)
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
    assert all(0 <= c < 16 for c in cells)
    own = assigned.where(F.col("vec_id") < 16).collect()
    for r in own:
        assert r["cell"] == r["vec_id"], (r["vec_id"], r["cell"])


def test_ivf_topk_exact_scores_and_recall(spark, sf_dir):
    """IVF restricts candidates but never rescores — every hit carries
    the brute-force cosine — and at 16 cells / 3 probes recall@5 stays
    high (measured 0.925 at sf0.001 and sf0.01)."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth_rows = SS.cosine_topk(emb, n_queries=8, k=500).collect()
    bf = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in truth_rows}
    ivf = SS.ivf_topk(emb, n_queries=8, k=5).collect()
    assert ivf
    for r in ivf:
        assert bf[(r["query_id"], r["neighbor_id"])] == r["cos"]
    top5 = [r for r in truth_rows if r["rank"] <= 5]
    assert _recall_at_k(top5, ivf) >= 0.8


def test_ivf_lloyd_trained_quantizer(spark, sf_dir):
    """The Lloyd-trained quantizer's contract: (a) training is
    deterministic (two runs, identical centroids — the property that
    keeps it oracle-checkable), (b) centroids are unit vectors, (c) it
    BALANCES cells vs the sampled quantizer (lower cell-size spread —
    the thing that bounds worst-case probe cost at scale; measured
    stdev 4.4 vs 5.2–6.1 here), and (d) recall@5 stays ≥ 0.8 at
    16 cells / 3 probes (measured 0.85–0.875; the slight dip vs the
    sampled quantizer's 0.925 is the classic balance-for-recall trade
    at fixed n_probes)."""
    import statistics

    emb = load_table(spark, sf_dir, "embeddings")
    cent = SS.lloyd_train(emb)
    assert cent == SS.lloyd_train(emb)
    for _, vec in cent:
        assert abs(sum(x * x for x in vec) - 1.0) < 1e-9
    normed = SS._emb_normed(emb)
    spread = {}
    for name, sizes in (
        ("sampled", SS.ivf_assign(emb).groupBy("cell").count().collect()),
        (
            "trained",
            SS._assign_cells(
                normed, spark.createDataFrame(cent, "cid long, ce array<double>")
            )
            .groupBy("cell")
            .count()
            .collect(),
        ),
    ):
        spread[name] = statistics.pstdev([r["count"] for r in sizes])
    assert spread["trained"] <= spread["sampled"], spread
    truth = SS.cosine_topk(emb, n_queries=8, k=5).collect()
    got = SS.ivf_topk_trained(emb, n_queries=8, k=5).collect()
    assert _recall_at_k(truth, got) >= 0.8


def test_pq_adc_recall_and_exact_rerank(spark, sf_dir):
    """The IVF × residual-PQ path (ADC pre-rank over residual codes,
    auto rerank budget R=80 at this corpus size): high recall (≥0.9;
    1.0 at sf0.1 in bench's recall block), and every returned cos is
    exact (full-precision rerank)."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = SS.cosine_topk(emb, n_queries=8, k=5).collect()
    pq = SS.ivf_pq_residual_topk(emb, n_queries=8, k=5).collect()
    assert _recall_at_k(truth, pq) >= 0.9
    exact = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in truth}
    for r in pq:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["cos"] == exact[key]


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """The sketch path for cardinality at 100 TB: HLL++ estimates must
    land within 3× the configured relative standard deviation of the
    exact distinct counts (exact COUNT(DISTINCT) is the oracle-checked
    query — distinct_users_per_type; the sketch is engine-specific, so
    its contract is an error bound, not a hash match)."""
    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(3 * 0.05 * r["exact"], 1), (
            r["event_type"], r["exact"], r["approx"],
        )


def test_quantized_topk_tracks_float_path(spark, sf_dir):
    """int8 quantization must stay within the analytic error envelope
    (observed ≤0.007 on this corpus; bound 0.02) and preserve the top-5
    ranking almost everywhere (overlap ≥0.9; observed 1.0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in SS.cosine_topk(emb, n_queries=8, k=500).collect()
    }
    top5: dict[int, set] = {}
    for r in SS.cosine_topk(emb, n_queries=8, k=5).collect():
        top5.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    q8 = SS.cosine_topk_q8(emb, n_queries=8, k=5).collect()
    assert q8
    got: dict[int, set] = {}
    for r in q8:
        assert abs(r["cos_q8"] - exact[(r["query_id"], r["neighbor_id"])]) <= 0.02
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    overlap = sum(len(top5[q] & got[q]) for q in top5) / sum(
        len(v) for v in top5.values()
    )
    assert overlap >= 0.9, overlap


def test_bruteforce_topk_is_sorted_and_k_bounded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = SS.cosine_topk(emb, n_queries=4, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 5
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3, 4, 5]


# --- multimodal -------------------------------------------------------------


def test_multimodal_feature_extraction_runs_arrow_batched(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_payload(docs)
    feats = MM.extract_features(mm, fake=True).collect()
    assert len(feats) == docs.count()
    for r in feats[:10]:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-9  # normalized histogram


def test_multimodal_frame_sampling_counts_and_content(spark, sf_dir):
    """Row-expanding mapInPandas: every doc yields ceil(n_frames/every)
    rows, frame content matches the byte window, and the stub raises
    without fake (real demux needs ffmpeg)."""
    import pytest as _pytest

    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_payload(docs)
    frames = MM.sample_frames(mm, every=4).collect()
    texts = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    fb = MM.FRAME_BYTES
    for doc_id, blob in texts.items():
        n = -(-len(blob) // fb) if blob else 0
        expect = [i for i in range(0, n, 4)]
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == expect
        for r in got:
            assert bytes(r["frame"]) == blob[r["frame_idx"] * fb:(r["frame_idx"] + 1) * fb]
    with _pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        MM.sample_frames(mm, fake=False).collect()


def test_streaming_sliding_window_matches_batch(spark, sf_dir):
    """The SLIDING window twin under Structured Streaming: the same
    F.window(10 min, 5 min) aggregation drained through a memory sink
    must equal the batch sliding_windows query row-for-row."""
    agg = (
        SW.stream_events(spark, sf_dir)
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_slide")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {
        tuple(r) for r in spark.sql("SELECT * FROM t_slide").collect()
    }
    batch_rows = {
        tuple(r)
        for r in REGISTRY["sliding_windows"].spark(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_multimodal_resize_fixed_size_and_stub(spark, sf_dir):
    """Resize stand-in: every thumb is exactly THUMB_BYTES (truncated or
    zero-padded), content prefix matches the payload, and the real path
    raises (PIL not in container)."""
    import pytest as _pytest

    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_payload(docs)
    thumbs = {r["doc_id"]: bytes(r["thumb"]) for r in MM.resize_images(mm).collect()}
    texts = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    assert set(thumbs) == set(texts)
    for doc_id, t in thumbs.items():
        assert len(t) == MM.THUMB_BYTES
        blob = texts[doc_id]
        assert t == blob[: MM.THUMB_BYTES].ljust(MM.THUMB_BYTES, b"\0")
    with _pytest.raises(Exception, match="NotImplementedError|PIL"):
        MM.resize_images(mm, fake=False).collect()


def test_multimodal_decode_stub_raises_without_fake(spark, sf_dir):
    import pandas as pd

    with pytest.raises(NotImplementedError):
        MM.decode_image_batch(pd.Series([b"bytes"]), fake=False)


def test_multimodal_meta_prunes_payload_on_stored_table(spark, sf_dir, tmp_path):
    """The 100 TB property: metadata queries on a STORED multimodal table
    must not read payload bytes (struct/column pruning to the scan)."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "mm.parquet")
    MM.attach_payload(docs).write.parquet(path)
    stored = spark.read.parquet(path)
    q = stored.select("doc_id", F.col("meta.n_bytes").alias("n_bytes"))
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "payload" not in plan.split("ReadSchema:")[1].splitlines()[0]


# --- composed curation pass -------------------------------------------------


def test_corpus_curation_invariants(spark, sf_dir):
    """The composed gate→exact→near-dup pass: survivors are a subset of
    the quality-gated set, carry unique content hashes (exact stage),
    and keep at most one member per LSH near-dup cluster, that member
    being the cluster's min doc_id (near-dup stage). Differential value
    parity is covered by test_oracle_parity::corpus_curation."""
    import hashlib

    from mapreducelearnings_spark.pipeline import curation as CU
    from mapreducelearnings_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    survivors = {r["doc_id"] for r in CU.curate_corpus(spark, docs).collect()}
    gated = {r["doc_id"] for r in TS.quality_filter(docs).collect()}
    assert survivors and survivors <= gated
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    hashes = [
        hashlib.md5(texts[i].encode()).hexdigest() for i in sorted(survivors)
    ]
    assert len(hashes) == len(set(hashes))
    # rebuild the near-dup clusters over the exact-unique gated docs and
    # check keep-one-min-per-cluster
    by_hash: dict[str, int] = {}
    for i in sorted(gated):
        by_hash.setdefault(hashlib.md5(texts[i].encode()).hexdigest(), i)
    exact_unique = set(by_hash.values())
    de = docs.where(F.col("doc_id").isin(list(exact_unique)))
    pairs = DD.lsh_candidate_pairs(de)
    cc = G.connected_components(
        spark,
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
    )
    clusters: dict[int, set] = {}
    for r in cc.collect():
        clusters.setdefault(r["component"], set()).add(r["vertex"])
    for comp, members in clusters.items():
        assert survivors & members == {min(members)} == {comp}


def test_sequence_packing_spans_are_contiguous(spark, sf_dir):
    """Concat-then-chunk invariants: in doc_id order the token spans
    tile the stream exactly (each start equals the previous end), chunk
    ids derive from the span, and a document spans a boundary iff its
    span crosses a multiple of the budget."""
    from mapreducelearnings_spark.pipeline import packing as PK

    rows = sorted(
        PK.pack_sequences(
            spark, load_table(spark, sf_dir, "documents")
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    assert rows
    pos = 0
    for r in rows:
        assert r["start_offset"] == pos
        assert r["chunk_first"] == pos // PK.PACK_BUDGET
        assert r["chunk_last"] == (pos + r["n_tokens"] - 1) // PK.PACK_BUDGET
        pos += r["n_tokens"]


def test_sequence_packing_avoids_single_partition_window(spark, sf_dir):
    """The 100 TB property: the global prefix sum must NOT plan as a
    single-partition window (Exchange SinglePartition + global sort) —
    the two-phase shard pattern keeps the window partitioned."""
    from mapreducelearnings_spark.pipeline import packing as PK

    df = PK.pack_sequences(spark, load_table(spark, sf_dir, "documents"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" in plan
    assert "SinglePartition" not in plan


# --- streaming --------------------------------------------------------------


def test_streaming_window_agg_matches_batch(spark, sf_dir):
    """The same F.window aggregation, run under Structured Streaming
    (file source, availableNow backfill, memory sink), must equal the
    batch result — the §2.10 batch/stream contract."""
    SW.run_stream_to_memory(spark, sf_dir, table_name="t_win")
    stream_rows = {
        tuple(r) for r in spark.sql("SELECT * FROM t_win").collect()
    }
    batch_rows = {
        tuple(r)
        for r in REGISTRY["window_events"].spark(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_streaming_window_matches_duckdb_oracle(spark, duck, sf_dir):
    """§2.10's streaming half, hard differential evidence: the DRAINED
    STREAM result itself (memory sink after an availableNow backfill) —
    not the batch twin — must value-match window_events' DuckDB oracle,
    the same cross-engine gate the driver applies to batch queries."""
    from .conftest import assert_matches_oracle

    SW.run_stream_to_memory(spark, sf_dir, table_name="t_win_oracle")
    assert_matches_oracle(
        spark.sql("SELECT * FROM t_win_oracle"),
        duck,
        REGISTRY["window_events"].oracle,
    )


def test_streaming_quality_gate_matches_batch(spark, sf_dir):
    """The curation gate run at INGEST (stateless streaming append) must
    keep exactly the rows the batch gate keeps — same expression tree,
    two execution modes."""
    SW.run_quality_gate_stream_to_memory(spark, sf_dir, table_name="t_gate")
    stream_rows = {
        tuple(r) for r in spark.sql("SELECT * FROM t_gate").collect()
    }
    batch_rows = {
        tuple(r)
        for r in TS.quality_filter(
            load_table(spark, sf_dir, "documents")
        ).collect()
    }
    assert stream_rows == batch_rows


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """STREAM-STREAM join (watermarked both sides, time-interval
    predicate → bounded state): the drained availableNow result must
    equal the same join run on the batch frames. availableNow drains
    may leave pairs still open at the final watermark, so the stream
    result is allowed to be a subset — but must cover every pair whose
    interval closed, which on this bounded fixture is checked as exact
    equality after the terminal batch."""
    SW.run_followup_join_stream_to_memory(spark, sf_dir, table_name="t_ss")
    stream_rows = {tuple(r) for r in spark.sql("SELECT * FROM t_ss").collect()}
    ev = load_table(spark, sf_dir, "events")
    batch_rows = {tuple(r) for r in SW.followup_pairs(ev, ev).collect()}
    assert stream_rows == batch_rows


def test_streaming_timestamp_magnitude_matches_batch(spark, sf_dir):
    """Unit guard for the stream source's timestamp conversion: the
    streaming reader (explicit LongType schema) delivers MICROseconds
    while the batch reader (nanosAsLong) delivers NANOseconds; a wrong
    recipe on either side shifts every event ~1000× (into Jan 1970).
    Pin min(ts) equal across both paths so the bug can't come back."""
    stream_src = SW.stream_events(spark, sf_dir)
    q = (
        stream_src.groupBy()
        .agg(F.min("ts").alias("min_ts"))
        .writeStream.format("memory")
        .queryName("t_min_ts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_min = spark.sql("SELECT * FROM t_min_ts").collect()[0]["min_ts"]
    batch_min = (
        load_table(spark, sf_dir, "events").agg(F.min("ts")).collect()[0][0]
    )
    assert stream_min == batch_min


def test_rowwise_band_signatures_match_groupby(spark, sf_dir):
    """The per-row (zero-shuffle, streaming-safe) band signature path
    must be bit-identical to the explode+groupBy batch path — same
    universal hash family, two physical strategies. This is the
    equivalence that lets the streaming ingest path share the batch
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    rowwise = {
        (r["doc_id"], r["band"], r["sig"])
        for r in DD.band_signatures_rowwise(docs).collect()
    }
    sig = DD.minhash_signatures(docs)
    rows = DD.NUM_HASHES // DD.BANDS
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
        for b in range(DD.BANDS)
    ]
    grouped = {
        (r["doc_id"], r["bs"]["band"], r["bs"]["sig"])
        for r in sig.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("bs")
        ).collect()
    }
    assert rowwise == grouped


def test_ann_index_roundtrip_matches_in_memory(
    spark, duck, sf_dir, tmp_path
):
    """The on-disk cell-partitioned index must return BIT-IDENTICAL
    top-k to the IVF × residual-PQ composition computed from the raw
    corpus — the DuckDB reference the registered index chains are
    checked against, with the same centroids, codes and rounding —
    while reading only probed cells."""
    from mapreducelearnings_spark.pipeline import simsearch as SS
    from mapreducelearnings_spark.queries import _ivf_pq_residual_oracle

    from .conftest import assert_matches_oracle

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index")
    SS.ann_index_write(emb, path)
    on_disk = SS.ann_index_topk(spark, path, emb, n_queries=4, k=5)
    assert on_disk.count() > 0
    assert_matches_oracle(on_disk, duck, _ivf_pq_residual_oracle(n_queries=4))


def test_ann_index_append_matches_rebuild(spark, sf_dir, tmp_path):
    """Incremental ingest: build the index from the first 3/4 of the
    corpus, append the rest as an arrival batch — the stored rows AND
    the query results must be bit-identical to a full rebuild over the
    union (the append re-reads centroids/codebooks from the stored
    index, so this pins that the stored quantizers reproduce the
    rebuild's exactly)."""
    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cut = max(SS.PQ_K64, SS.IVF_CELLS, (3 * n) // 4)
    base = emb.where(F.col("vec_id") < cut)
    batch = emb.where(F.col("vec_id") >= cut)
    assert batch.count() > 0, "fixture too small to split"

    inc_path = str(tmp_path / "ann_index_inc")
    SS.ann_index_write(base, inc_path)
    SS.ann_index_append(spark, inc_path, batch)
    full_path = str(tmp_path / "ann_index_full")
    SS.ann_index_write(emb, full_path)

    def rows(p):
        return {
            (
                r["vec_id"],
                tuple(r["ne"]),
                tuple(r["rq_code"]),
                r["cell"],
            )
            for r in spark.read.parquet(p).collect()
        }

    assert rows(inc_path) == rows(full_path)
    inc_topk = {
        tuple(r)
        for r in SS.ann_index_topk(
            spark, inc_path, emb, n_queries=4, k=5
        ).collect()
    }
    full_topk = {
        tuple(r)
        for r in SS.ann_index_topk(
            spark, full_path, emb, n_queries=4, k=5
        ).collect()
    }
    assert inc_topk == full_topk and len(inc_topk) > 0


def test_ann_index_residual_roundtrip_matches_in_memory(
    spark, sf_dir, tmp_path
):
    """The stored rq_code column + the codebook re-derived from the
    stored rows must return BIT-IDENTICAL top-k to the in-memory
    residual composition — build, store and query agree on the
    residual quantizer."""
    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index_res")
    SS.ann_index_write(emb, path)
    on_disk = {
        tuple(r)
        for r in SS.ann_index_topk(spark, path, emb, n_queries=4, k=5).collect()
    }
    in_mem = {
        tuple(r)
        for r in SS.ivf_pq_residual_topk(emb, n_queries=4, k=5).collect()
    }
    assert on_disk == in_mem
    assert len(on_disk) > 0


def test_ann_index_append_chain_cleans_temp_and_reports_phases(
    spark, sf_dir
):
    """The build→append→compact→query chain query must leave NO temp
    index dirs behind (bench min-of-3 × sweeps used to leak gigabytes of
    dead indexes per session) and must record its four-phase split for
    bench.py's `phases` block."""
    import glob
    import tempfile

    from mapreducelearnings_spark.queries import PHASE_TIMES, REGISTRY

    pattern = tempfile.gettempdir() + "/ann_index_compact_q_*"
    before = set(glob.glob(pattern))
    df = REGISTRY["ann_index_compact_topk"].spark(spark, sf_dir)
    assert df.count() > 0
    assert set(glob.glob(pattern)) == before, "chain leaked a temp index"
    phases = PHASE_TIMES["ann_index_compact_topk"]
    assert set(phases) == {
        "build_sec", "append_sec", "compact_sec", "query_sec"
    }
    assert all(v >= 0 for v in phases.values())


def test_ann_index_recall_sla_ladder(spark, duck, sf_dir, tmp_path):
    """ann_index_topk(recall_sla=...) must dispatch to the measured
    ladder rung the SLA requires (VERDICT r10 Next #2): >0.95 → the
    exact path (bit-identical to the in-memory exact-rerank IVF);
    (0.8, 0.95] → the residual pre-rank with the max(auto,
    ceil(SLA_RERANK_FRACTION·n)) budget (4% — the two-density
    calibration on the constant's own docstring); ≤0.8 → the default
    read, the residual pre-rank under the auto budget. And the knob is
    mutually exclusive with an explicit rerank_mult."""
    from mapreducelearnings_spark.pipeline import simsearch as SS
    from mapreducelearnings_spark.queries import _ivf_pq_residual_oracle

    from .conftest import assert_matches_oracle

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index_sla")
    SS.ann_index_write(emb, path)

    def rows(df):
        out = {tuple(r) for r in df.collect()}
        assert len(out) > 0
        return out

    # > 0.95 → exact scoring of every probed-cell row (recall-1.0 path)
    assert rows(
        SS.ann_index_topk(spark, path, emb, n_queries=4, k=5, recall_sla=1.0)
    ) == rows(SS.ivf_topk(emb, n_queries=4, k=5))

    # (0.8, 0.95] → residual pre-rank with the SLA-fraction budget
    n = spark.read.parquet(path).count()
    budget = SS.sla_rerank_rows(n, 5)
    assert budget >= 5 * SS.hamming_auto_mult(n)
    assert_matches_oracle(
        SS.ann_index_topk(spark, path, emb, n_queries=4, k=5, recall_sla=0.9),
        duck,
        _ivf_pq_residual_oracle(n_queries=4, budget_sql=str(budget)),
    )

    # ≤ 0.8 → the default read
    assert rows(
        SS.ann_index_topk(spark, path, emb, n_queries=4, k=5, recall_sla=0.5)
    ) == rows(SS.ann_index_topk(spark, path, emb, n_queries=4, k=5))

    with pytest.raises(ValueError, match="recall_sla OR rerank_mult"):
        SS.ann_index_topk(spark, path, emb, recall_sla=0.9, rerank_mult=16)


def test_ann_index_append_invalidates_corpus_size_cache(
    spark, sf_dir, tmp_path
):
    """The auto rerank budget counts the STORED index via a
    semanticHash-memoized corpus_size — but spark.read.parquet(path)
    hashes identically before and after files are appended at that
    path (ADVICE r9), so the append must evict the entry or a
    query-append-query session silently keeps the pre-append budget."""
    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cut = max(SS.PQ_K64, SS.IVF_CELLS, (3 * n) // 4)
    path = str(tmp_path / "ann_index_cache")
    SS.ann_index_write(emb.where(F.col("vec_id") < cut), path)
    pre = SS.corpus_size(spark.read.parquet(path))  # primes the cache
    assert pre == cut
    SS.ann_index_append(spark, path, emb.where(F.col("vec_id") >= cut))
    post = SS.corpus_size(spark.read.parquet(path))
    assert post == n, (
        f"stale cached corpus size after append: {post} (expected {n})"
    )


def test_ann_index_append_rejects_seed_range_ids(spark, sf_dir, tmp_path):
    """An append whose ids do not exceed the stored max (or would land
    inside the quantizer seed range) cannot be bit-identical to a
    rebuild — the guard must refuse it loudly."""
    import pytest

    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index_guard")
    SS.ann_index_write(emb.where(F.col("vec_id") < 300), path)
    with pytest.raises(ValueError, match="append batch min vec_id"):
        SS.ann_index_append(
            spark, path, emb.where(F.col("vec_id") < 300)
        )


def test_ann_index_ingest_releases_cache_on_failure(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The ingest jobs persist their ∝-corpus working frames for the
    multi-consumer plan; a failure ANYWHERE after the first persist —
    including plan construction inside the try — must release them via
    the finally instead of leaking session cache storage (VERDICT r11
    #1). Poison the cell-assignment step and assert the session's SQL
    cache is empty after both the write and the append raise."""
    import pytest

    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    # a valid stored index first, so the append path reaches its persist
    # (cut at 300 keeps the append batch non-empty at the smoke scale)
    path = str(tmp_path / "ann_index_leak")
    SS.ann_index_write(emb.where(F.col("vec_id") < 300), path)

    def cache_empty() -> bool:
        return bool(
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        )

    spark.catalog.clearCache()
    assert cache_empty()

    def boom(*a, **k):
        raise RuntimeError("poisoned ingest")

    monkeypatch.setattr(SS, "_assign_cells", boom)
    with pytest.raises(RuntimeError, match="poisoned ingest"):
        SS.ann_index_write(emb, str(tmp_path / "ann_index_leak2"))
    assert cache_empty(), "ann_index_write leaked persisted frames"
    with pytest.raises(RuntimeError, match="poisoned ingest"):
        SS.ann_index_append(
            spark, path, emb.where(F.col("vec_id") >= 300)
        )
    assert cache_empty(), "ann_index_append leaked persisted frames"


def test_ann_index_compact_bit_identical(spark, sf_dir, tmp_path):
    """Small-files maintenance for the appended index (VERDICT r11
    Next #6): after two daily appends every cell directory holds three
    parquet files; ann_index_compact must rewrite each cell down to ONE
    file while (a) preserving the cell-partitioned layout partition
    pruning depends on, and (b) leaving every read path bit-identical —
    the row set is untouched and all rankings carry deterministic
    tiebreaks, so compaction can never change a result."""
    import glob as _glob

    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    n = SS.corpus_size(emb)
    # first cut must clear the quantizer seed range (ids < PQ_K64 seed
    # the codebooks); smoke corpus is 500 docs → cuts at 300/400
    c1 = max(SS.PQ_K64 + 44, n // 2)
    c2 = max(c1 + 1, 4 * n // 5)
    path = str(tmp_path / "ann_index_compact")
    SS.ann_index_write(emb.where(F.col("vec_id") < c1), path)
    SS.ann_index_append(
        spark, path, emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2))
    )
    SS.ann_index_append(spark, path, emb.where(F.col("vec_id") >= c2))

    def cell_files() -> dict[str, int]:
        out: dict[str, int] = {}
        for d in _glob.glob(f"{path}/cell=*"):
            out[d.rsplit("/", 1)[-1]] = len(_glob.glob(f"{d}/*.parquet"))
        return out

    def reads() -> list[set]:
        return [
            {tuple(r) for r in df.collect()}
            for df in (
                SS.ann_index_topk(spark, path, emb, n_queries=4, k=5),
                SS.ann_index_topk(
                    spark, path, emb, n_queries=4, k=5, recall_sla=0.9
                ),
            )
        ]

    before_files = cell_files()
    assert before_files and max(before_files.values()) >= 3, before_files
    before = reads()
    assert all(before), "reads must be non-empty pre-compaction"

    SS.ann_index_compact(spark, path)

    after_files = cell_files()
    assert set(after_files) == set(before_files), "cells must survive"
    assert all(v == 1 for v in after_files.values()), after_files
    assert reads() == before, "compaction changed a read result"


def test_ann_index_compact_target_bytes(spark, sf_dir, tmp_path):
    """Size-targeted compaction (r14, VERDICT r13 Next #7): with
    ``target_bytes`` the maintenance pass rewrites each cell as
    ~⌈cell_bytes/target⌉ files instead of exactly one — the scale fix
    for a hot cell outgrowing one writer/one read task. Pins: (a)
    every read path stays bit-identical pre/post (the same contract as
    plain compaction); (b) the size targeting ENGAGES — at a target
    below the hot cell's size, some cell holds ≥2 files; (c) the
    per-file row bound holds — no output file exceeds the
    rows-per-file derived from the dataset's measured bytes/row (the
    maxRecordsPerFile backstop); (d) a target above every cell's size
    degenerates to the one-file-per-cell rule."""
    import glob as _glob
    import os as _os

    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    n = SS.corpus_size(emb)
    c1 = max(SS.PQ_K64 + 44, n // 2)
    path = str(tmp_path / "ann_index_tbytes")
    SS.ann_index_write(emb.where(F.col("vec_id") < c1), path)
    SS.ann_index_append(spark, path, emb.where(F.col("vec_id") >= c1))

    def cell_files() -> dict[str, list[str]]:
        return {
            d.rsplit("/", 1)[-1]: _glob.glob(f"{d}/*.parquet")
            for d in _glob.glob(f"{path}/cell=*")
        }

    def reads() -> set:
        return {
            tuple(r)
            for r in SS.ann_index_topk(spark, path, emb, n_queries=4, k=5).collect()
        }

    files = cell_files()
    total_bytes = sum(
        _os.path.getsize(f) for fl in files.values() for f in fl
    )
    total_rows = spark.read.parquet(path).count()
    before = reads()
    assert before

    # (b)+(c): target at ~1/4 of the mean cell size forces multi-file
    # cells; the row bound mirrors compact_parquet's derivation
    target = max(1, total_bytes // (4 * max(1, len(files))))
    SS.ann_index_compact(spark, path, target_bytes=target)
    records_per_file = max(1, int(target * total_rows // total_bytes))
    after = cell_files()
    assert set(after) == set(files), "cells must survive"
    assert max(len(fl) for fl in after.values()) >= 2, {
        k: len(v) for k, v in after.items()
    }
    for fl in after.values():
        for f in fl:
            assert spark.read.parquet(f).count() <= records_per_file, f
    assert reads() == before, "size-targeted compaction changed a read"

    # (d): a huge target collapses back to one file per cell, reads
    # still bit-identical — the r13 contract is the degenerate case
    SS.ann_index_compact(spark, path, target_bytes=total_bytes * 10)
    onefile = cell_files()
    assert all(len(fl) == 1 for fl in onefile.values()), {
        k: len(v) for k, v in onefile.items()
    }
    assert reads() == before


def test_ann_index_query_prunes_partitions(spark, sf_dir, tmp_path):
    """The probe-cell filter must reach the scan as PARTITION pruning:
    the executed plan's file index reads only the probed cell
    directories, not all IVF_CELLS of them."""
    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index_prune")
    SS.ann_index_write(emb, path)
    def assert_pruned(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "PartitionFilters" in plan
        assert (
            "cell IN" in plan
            or "cell#" in plan.split("PartitionFilters")[1].split("]")[0]
        )

    assert_pruned(SS.ann_index_topk(spark, path, emb, n_queries=2, k=3))
    # every SLA rung reads through the same probe-cell pruning — the
    # exact path's whole scan-budget claim (reads n_probes/n_cells) IS
    # this filter, so it's plan-asserted, not just documented
    for sla in (0.5, 0.9, 1.0):
        assert_pruned(
            SS.ann_index_topk(
                spark, path, emb, n_queries=2, k=3, recall_sla=sla
            )
        )


def test_ann_index_empty_and_tiny_corpus(spark, sf_dir, tmp_path):
    """Degenerate corpora through the on-disk index, in both
    ann_index_topk budgets (default auto, recall_sla=0.9): an
    empty corpus writes an index with no data file, and the query
    returns 0 rows with the normal result schema instead of failing
    schema inference; a 3-vector corpus (fewer vectors than k and than
    IVF_CELLS) probes every cell and reranks every candidate, so it
    returns exactly the brute-force top-k (2 neighbors per query). Both
    indexes answer the same after ann_index_compact (a no-op on the
    empty one, which has no data file to rewrite)."""
    emb = load_table(spark, sf_dir, "embeddings")
    empty, tiny = emb.where(F.col("vec_id") < 0), emb.where(F.col("vec_id") < 3)
    exact = SS.cosine_topk(tiny, n_queries=8, k=5)
    truth = {tuple(r) for r in exact.collect()}
    assert len(truth) == 6
    for name, corpus, want in (("empty", empty, set()), ("tiny", tiny, truth)):
        path = str(tmp_path / name)
        SS.ann_index_write(corpus, path)
        for compacted in (False, True):
            if compacted:
                SS.ann_index_compact(spark, path)
            for sla in (None, 0.9):
                got = SS.ann_index_topk(spark, path, corpus, recall_sla=sla)
                assert got.schema == exact.schema, (name, compacted, sla)
                assert {tuple(r) for r in got.collect()} == want, (
                    name, compacted, sla,
                )


def test_streaming_session_windows_match_closed_batch_sessions(spark, sf_dir):
    """STREAMING session windows (append mode): the drained availableNow
    result must be exactly the batch sessions that CLOSED before the
    terminal watermark (session end = last event + gap; watermark = max
    event time − delay). Sessions still open at end of input stay in
    state and must NOT be emitted — subset-and-closure, checked exactly
    on this bounded fixture."""
    SW.run_session_windows_stream_to_memory(spark, sf_dir, table_name="t_sess")
    stream_rows = {tuple(r) for r in spark.sql("SELECT * FROM t_sess").collect()}
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    wm_epoch = int((max_ts - datetime.timedelta(minutes=30)).timestamp())
    rows = batch.collect()
    key = lambda r: (r.user_id, r.session_start, r.n_events, r.sum_value)
    all_rows = {key(r) for r in rows}
    closed_rows = {key(r) for r in rows if r.session_end <= wm_epoch}
    assert stream_rows, "stream emitted nothing"
    assert stream_rows <= all_rows, "stream emitted a session batch lacks"
    assert stream_rows == closed_rows


def test_banded_interval_join_matches_brute_force(spark):
    """Hand fixture where band width does NOT divide interval lengths:
    banding + refine must equal the brute-force inequality join."""
    from mapreducelearnings_spark.operators.rangejoin import (
        banded_interval_join,
    )

    points = spark.createDataFrame(
        [(i, x) for i, x in enumerate([0, 5, 6, 9, 10, 13, 14, 99, 100])],
        "pid long, x long",
    )
    intervals = spark.createDataFrame(
        [(0, 0, 10), (1, 5, 6), (2, 90, 120), (3, 13, 14)],
        "iid long, lo long, hi long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in banded_interval_join(
            points, intervals, "x", "lo", "hi", band=7
        ).collect()
    )
    brute = sorted(
        (r["pid"], r["iid"])
        for r in points.crossJoin(intervals)
        .where("x >= lo AND x < hi")
        .collect()
    )
    assert got == brute and len(got) > 0


def test_semdedup_drop_decisions_match_ground_truth(spark, sf_dir):
    """Every dropped vector has a lower-id same-cell mate at cosine >=
    threshold; every kept vector has none (checked against exact numpy
    cosines, with an epsilon guard around the rounded threshold)."""
    import numpy as np

    from mapreducelearnings_spark.pipeline import simsearch as SS

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in SS.semdedup(emb).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id")
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    assert set(ids) == set(res)  # full corpus annotated

    tau = SS.SEMDEDUP_THRESHOLD
    by_cell: dict[int, list[int]] = {}
    for vid in ids:
        by_cell.setdefault(res[vid][0], []).append(vid)
    n_dropped = 0
    for vid in ids:
        cell, keep = res[vid]
        mates = [m for m in by_cell[cell] if m < vid]
        best = max(
            (float(vecs[m] @ vecs[vid]) for m in mates), default=-1.0
        )
        if keep:
            assert best < tau + 1e-6, (vid, best)
        else:
            n_dropped += 1
            assert best >= tau - 1e-6, (vid, best)
    assert n_dropped > 0  # the threshold actually bites on this corpus


def test_source_quota_keeps_top_quality_per_source(spark, sf_dir, duck):
    from mapreducelearnings_spark.queries import REGISTRY

    rows = REGISTRY["source_quota_sample"].spark(spark, sf_dir).collect()
    per_src: dict[str, list] = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
    totals = dict(
        duck.execute(
            "SELECT source, COUNT(*) FROM documents GROUP BY source"
        ).fetchall()
    )
    for src, picked in per_src.items():
        assert len(picked) == min(10, totals[src])
        ranks = sorted(p["pick_rank"] for p in picked)
        assert ranks == list(range(1, len(picked) + 1))
    assert set(per_src) == set(totals)


def test_map_in_arrow_features_match_pandas_twin(spark, sf_dir):
    """The mapInArrow surface (raw RecordBatch in/out, no pandas
    boxing of binary payloads) must produce exactly the pandas twin's
    features over the same fake-decoded corpus."""
    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_payload(docs)
    a = {
        r["doc_id"]: r["feature"]
        for r in MM.extract_features_arrow(mm).collect()
    }
    b = {
        r["doc_id"]: r["feature"] for r in MM.extract_features(mm).collect()
    }
    assert a == b and len(a) > 0


def test_stream_stream_outer_join_matches_batch(spark, sf_dir):
    """LEFT-OUTER stream-stream join: matched pairs ≡ the inner join,
    and every match-less event must surface exactly once with a NULL
    partner — the null emission the engine may only produce after the
    watermark proves no partner can arrive. Caveat pinned here: rows
    whose interval is NOT closed by the final watermark never emit
    their null (availableNow ends the query; at sf0.001 the last 10
    minutes of events), so the contract is checked on the closed
    region."""
    from mapreducelearnings_spark.streaming.windows import (
        followup_pairs_outer,
        run_followup_outer_join_stream_to_memory,
    )

    run_followup_outer_join_stream_to_memory(spark, sf_dir)
    got = [
        (r["a_id"], r["b_id"])
        for r in spark.sql("SELECT a_id, b_id FROM followups_outer").collect()
    ]

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.timestamp_micros(F.expr("unix_micros(ts::timestamp)"))
    )
    batch = [
        (r["a_id"], r["b_id"])
        for r in followup_pairs_outer(ev, ev).collect()
    ]
    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon_us = int(max_ts.timestamp() * 1e6) - (30 + 10) * 60 * 1_000_000
    closed_ids = {
        r["event_id"]
        for r in ev.where(
            F.unix_micros("ts") < F.lit(horizon_us)
        ).select("event_id").collect()
    }

    got_closed = sorted(p for p in got if p[0] in closed_ids)
    batch_closed = sorted(p for p in batch if p[0] in closed_ids)
    assert got_closed == batch_closed and len(batch_closed) > 0
    # the null rows are present and unique per match-less closed event
    nulls = [p for p in got_closed if p[1] is None]
    assert len(nulls) == len({p[0] for p in nulls}) > 0


def test_imagecodec_roundtrips_and_sniff():
    """PPM and BMP codecs are exact round-trips on random uint8 HxWx3
    arrays (odd widths exercise BMP row padding), headers sniff
    correctly, and a comment-bearing PPM header parses per spec."""
    import numpy as np

    from mapreducelearnings_spark.pipeline import imagecodec as IC

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (4, 4), (7, 3), (2, 9)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (IC.decode_ppm(IC.encode_ppm(arr)) == arr).all()
        assert (IC.decode_bmp(IC.encode_bmp(arr)) == arr).all()
        assert IC.sniff(IC.encode_ppm(arr)) == "ppm"
        assert IC.sniff(IC.encode_bmp(arr)) == "bmp"
    assert IC.sniff(b"\xff\xd8\xff\xe0 jpeg") is None
    commented = b"P6\n# a comment\n2 1\n# more\n255\n" + bytes(6)
    assert IC.decode_ppm(commented).shape == (1, 2, 3)
    # top-down BMP (negative height): rows arrive in natural order
    arr = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    import struct as _struct

    blob = bytearray(IC.encode_bmp(arr[::-1]))  # encoder stores bottom-up
    _struct.pack_into("<i", blob, 22, -2)  # height = -2 -> top-down
    assert (IC.decode_bmp(bytes(blob)) == arr[::-1][::-1]).all()


def test_multimodal_real_decode_and_resize_on_raster_payloads(spark):
    """fake=False is REAL for uncompressed rasters: PPM and BMP payloads
    decode through mapInPandas to exact [h, w, meanRGB] features (both
    pandas and Arrow surfaces), and resize_images produces a true
    nearest-neighbor thumbnail re-encoded as PPM — golden-checked
    against the numpy reference. A compressed payload in the same
    column still trips the per-payload PIL gate."""
    import numpy as np
    import pandas as pd

    from mapreducelearnings_spark.pipeline import imagecodec as IC

    grad = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    flat = np.full((2, 3, 3), 9, dtype=np.uint8)
    rows = [
        (1, bytearray(IC.encode_ppm(grad))),
        (2, bytearray(IC.encode_bmp(grad))),
        (3, bytearray(IC.encode_ppm(flat))),
    ]
    mm = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    feats = {
        r["doc_id"]: list(r["feature"])
        for r in MM.extract_features(mm, fake=False).collect()
    }
    expect_grad = IC.image_features(grad)
    assert feats[1] == expect_grad
    assert feats[2] == expect_grad          # BMP decodes to the same pixels
    assert feats[3] == [2.0, 3.0, 9.0, 9.0, 9.0]
    arrow = {
        r["doc_id"]: list(r["feature"])
        for r in MM.extract_features_arrow(mm, fake=False).collect()
    }
    assert arrow == feats

    thumbs = {
        r["doc_id"]: bytes(r["thumb"])
        for r in MM.resize_images(mm, fake=False, thumb_side=2).collect()
    }
    want = IC.encode_ppm(IC.resize_nearest(grad, 2, 2))
    assert thumbs[1] == want and thumbs[2] == want
    # nearest-neighbor picks pixel centers: rows/cols 1 and 3 of the 4x4
    assert (
        IC.decode_ppm(thumbs[1]) == grad[[1, 3]][:, [1, 3]]
    ).all()

    jpeg_like = spark.createDataFrame(
        [(9, bytearray(b"\xff\xd8\xff\xe0 not a raster"))],
        "doc_id: long, payload: binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        MM.extract_features(jpeg_like, fake=False).collect()
    with pytest.raises(NotImplementedError):
        MM.decode_image_batch(pd.Series([b"\x89PNG\r\n"]), fake=False)


def test_avcodec_wav_and_y4m_roundtrips():
    """WAV PCM-16 and Y4M codecs are exact round-trips (mono + stereo
    audio; 444/420 colorspaces incl. odd dimensions), and the
    compressed-format guards raise."""
    import numpy as np

    from mapreducelearnings_spark.pipeline import avcodec as AV

    rng = np.random.default_rng(11)
    for shape in [(7,), (5, 2)]:
        a = rng.integers(-(2**15), 2**15, size=shape).astype("<i2")
        back, rate = AV.decode_wav(AV.encode_wav(a, 16000))
        assert rate == 16000
        assert (back == (a[:, None] if a.ndim == 1 else a)).all()
    with pytest.raises(NotImplementedError, match="PCM 16-bit"):
        # format tag 85 = MP3-in-RIFF
        import struct as _s

        fmt = _s.pack("<HHIIHH", 85, 1, 16000, 32000, 2, 16)
        body = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt + b"data" + _s.pack("<I", 0)
        AV.decode_wav(b"RIFF" + _s.pack("<I", len(body)) + body)

    # strictness parity with the image codecs: corrupt audio must not
    # silently decode to fewer samples
    good = AV.encode_wav(rng.integers(-100, 100, size=(4, 2)).astype("<i2"), 8000)
    with pytest.raises(ValueError, match="truncated"):
        AV.decode_wav(good[:-1])  # short data chunk vs declared size
    with pytest.raises(ValueError, match="frame size|truncated"):
        # declared size trimmed to a non-multiple of the 4-byte frame
        import struct as _s2

        pos = good.rindex(b"data")
        sz = _s2.unpack_from("<I", good, pos + 4)[0]
        bad = bytearray(good[:-2])  # drop half a frame
        _s2.pack_into("<I", bad, pos + 4, sz - 2)
        _s2.pack_into("<I", bad, 4, len(bad) - 8)
        AV.decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="0 channels"):
        # fmt chunk declaring 0 channels is corrupt (ValueError), not a
        # ZeroDivisionError from the frame-size modulo (ADVICE r7)
        import struct as _s3

        fmt0 = _s3.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
        body0 = (
            b"WAVE" + b"fmt " + _s3.pack("<I", len(fmt0)) + fmt0
            + b"data" + _s3.pack("<I", 0)
        )
        AV.decode_wav(b"RIFF" + _s3.pack("<I", len(body0)) + body0)

    for cs, w, h in [("444", 3, 2), ("420", 5, 3), ("mono", 4, 1)]:
        size = {"444": 3 * w * h, "420": w * h + 2 * ((w + 1) // 2) * ((h + 1) // 2), "mono": w * h}[cs]
        frames = [bytes(rng.integers(0, 256, size=size, dtype=np.uint8)) for _ in range(4)]
        got, params = AV.decode_y4m(AV.encode_y4m(frames, w, h, colorspace=cs))
        assert got == frames
        assert (int(params["W"]), int(params["H"]), params["C"]) == (w, h, cs)


def test_multimodal_real_audio_and_video_paths(spark):
    """fake=False is REAL for the raw third/fourth modalities: WAV
    payloads decode to exact [n, ch, rate, peak, rms] features, Y4M
    payloads demux to every k-th true frame — both through the same
    row-expanding/1-to-1 mapInPandas plumbing as the fake paths — and a
    compressed payload trips the per-payload codec gate."""
    import numpy as np

    from mapreducelearnings_spark.pipeline import avcodec as AV

    tone = (np.arange(8) * 1000 - 3500).astype("<i2")       # known samples
    stereo = np.stack([tone, -tone], axis=1).astype("<i2")
    audio = spark.createDataFrame(
        [
            (1, bytearray(AV.encode_wav(tone, 8000))),
            (2, bytearray(AV.encode_wav(stereo, 44100))),
        ],
        "doc_id: long, payload: binary",
    )
    feats = {
        r["doc_id"]: list(r["feature"])
        for r in MM.extract_audio_features(audio, fake=False).collect()
    }
    assert feats[1] == AV.audio_features(tone[:, None], 8000)
    assert feats[2] == AV.audio_features(stereo, 44100)
    mp3_like = spark.createDataFrame(
        [(9, bytearray(b"ID3\x04 not wav"))], "doc_id: long, payload: binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        MM.extract_audio_features(mp3_like, fake=False).collect()

    rng = np.random.default_rng(3)
    w, h = 4, 2
    frames = [bytes(rng.integers(0, 256, size=3 * w * h, dtype=np.uint8)) for _ in range(7)]
    video = spark.createDataFrame(
        [(5, bytearray(AV.encode_y4m(frames, w, h, colorspace="444")))],
        "doc_id: long, payload: binary",
    )
    got = sorted(
        MM.sample_frames(video, every=3, fake=False).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in got] == [0, 3, 6]
    assert [bytes(r["frame"]) for r in got] == [frames[0], frames[3], frames[6]]
    mp4_like = spark.createDataFrame(
        [(9, bytearray(b"\x00\x00\x00 ftypmp42"))], "doc_id: long, payload: binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        MM.sample_frames(mp4_like, fake=False).collect()


def test_multimodal_audio_fake_standin(spark, sf_dir):
    """The format-agnostic audio stand-in ([n_bytes, first, last]) runs
    on arbitrary payloads — same contract shape as the image fake."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    mm = MM.attach_payload(docs)
    feats = {
        r["doc_id"]: list(r["feature"])
        for r in MM.extract_audio_features(mm).collect()
    }
    for r in docs.collect():
        blob = r["text"].encode()
        assert feats[r["doc_id"]] == [
            float(len(blob)),
            float(blob[0]) if blob else 0.0,
            float(blob[-1]) if blob else 0.0,
        ]


# --- BPE merge-loop training ------------------------------------------------


def test_bpe_merges_invariants(spark):
    """Deterministic greedy BPE on a hand-computable corpus: pair counts
    are non-increasing across rounds (a merge-created pair occurs at
    most as often as the pair it came from), the tiebreak is (cnt DESC,
    lhs, rhs), and the greedy left-to-right overlap rule holds
    ('aaaa' -> two (a,a) merges, 'aaa' -> one)."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    docs = spark.createDataFrame(
        [(1, "aaaa aaa low low low lower"), (2, "low lowest aaaa")],
        "doc_id: long, text: string",
    )
    out = BP.train_merges(spark, docs, rounds=4).collect()
    assert [r["merge_round"] for r in out] == [1, 2, 3, 4]
    cnts = [r["pair_cnt"] for r in out]
    assert cnts == sorted(cnts, reverse=True)
    # round 1: 'lo' wins — (l,o) appears in low x4, lower, lowest = 6;
    # (a,a) has 2+2+1+2=... occurrences: 'aaaa' x2 -> 3 each + 'aaa' -> 2,
    # = 8 naive adjacencies; check the actual winner matches greedy count
    m1 = out[0]
    assert (m1["lhs"], m1["rhs"]) == ("a", "a") and m1["pair_cnt"] == 8
    # round 2 must see 'aaaa' as (aa)(aa) and 'aaa' as (aa)(a):
    # (aa,aa) count 2, (aa,a) count 1, while (l,o) still counts 6
    m2 = out[1]
    assert (m2["lhs"], m2["rhs"]) == ("l", "o") and m2["pair_cnt"] == 6
    # round 3: (lo,w) in low x4, lower, lowest = 6
    m3 = out[2]
    assert (m3["lhs"], m3["rhs"]) == ("lo", "w") and m3["pair_cnt"] == 6
    # determinism: a second run returns the identical table
    out2 = BP.train_merges(spark, docs, rounds=4).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_bpe_merges_exhaustion(spark):
    """A corpus whose words collapse to single symbols stops early
    instead of erroring."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id: long, text: string")
    out = BP.train_merges(spark, docs, rounds=5).collect()
    assert len(out) == 1  # (a,b) merges once; then no pairs remain
    assert (out[0]["lhs"], out[0]["rhs"], out[0]["pair_cnt"]) == ("a", "b", 2)


def test_bpe_encode_round_trips_training_merges(spark):
    """encode(train()) must reproduce the pure-Python greedy encoder:
    same token sequence per word, merges applied in training order with
    left-to-right non-overlap semantics."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    docs = spark.createDataFrame(
        [(1, "aaaa aaa low low low lower"), (2, "low lowest aaaa")],
        "doc_id: long, text: string",
    )
    trained = [(r["lhs"], r["rhs"]) for r in BP.train_merges(spark, docs, 4).collect()]
    out = BP.encode_tokens(docs, trained).collect()

    def py_encode(word):
        syms = list(word)
        for lhs, rhs in trained:
            o, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    o.append(lhs + rhs)
                    i += 2
                else:
                    o.append(syms[i])
                    i += 1
            syms = o
        return syms

    assert out, "encoder returned no rows"
    for r in out:
        assert list(r["tokens"]) == py_encode(r["word"]), r["word"]
        assert "".join(r["tokens"]) == r["word"]  # lossless


def test_bpe_batched_m1_equals_sequential(spark):
    """batch_size=1 is the sequential trainer: on any corpus it
    reproduces the pure-Python greedy trainer's merge table EXACTLY —
    same pairs, same order, same counts (VERDICT r07 Next #3)."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    from .test_properties import _bpe_reference

    texts = [
        "aaaa aaa low low low lower",
        "low lowest aaaa the the them",
        "newest widest the them band banded",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts, 1)), "doc_id: long, text: string"
    )
    seq = [tuple(r) for r in BP.train_merges(spark, docs, 6, batch_size=1).collect()]
    assert seq == _bpe_reference(texts, 6)


def test_bpe_batched_disjoint_equals_sequential(spark):
    """The batched-safety property: when the sequential trainer's next
    M picks are pairwise symbol-disjoint (and none uses a symbol minted
    inside the window), batched(M) in ONE round returns the identical
    merge table — disjoint merges can't perturb each other's counts."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    # three two-symbol words over disjoint alphabets with strictly
    # ordered frequencies: sequential rounds pick (a,b), (c,d), (e,f);
    # each merge collapses its word to one symbol, creating no new pair
    docs = spark.createDataFrame(
        [(1, " ".join(["ab"] * 9 + ["cd"] * 7 + ["ef"] * 5))],
        "doc_id: long, text: string",
    )
    seq, jobs = jobs_of(
        spark,
        lambda: [tuple(r) for r in BP.train_merges(spark, docs, rounds=3).collect()],
    )
    # the last round's vocabulary is never read, so it is not checkpointed
    assert jobs == 8
    bat = [
        tuple(r)
        for r in BP.train_merges(spark, docs, 3, batch_size=3).collect()
    ]
    assert bat == seq == [
        (1, "a", "b", 9),
        (2, "c", "d", 7),
        (3, "e", "f", 5),
    ]


def test_bpe_batched_conflict_defers_to_next_round(spark):
    """Conflicting candidates are skipped to a later round, never
    batch-applied: with words 'ab'×9 and 'bc'×7, (a,b) and (b,c) share
    symbol b, so round 1 merges only (a,b) (plus the next disjoint
    candidate if any) and (b,c) is recounted afterwards — the selector
    itself is unit-checked driver-side."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    assert BP._select_disjoint(
        [("a", "b", 9), ("b", "c", 7), ("c", "d", 5), ("x", "y", 4)], 3
    ) == [("a", "b", 9), ("c", "d", 5), ("x", "y", 4)]

    docs = spark.createDataFrame(
        [(1, " ".join(["abc"] * 3 + ["ab"] * 6 + ["bc"] * 4))],
        "doc_id: long, text: string",
    )
    # pair counts round 1: (a,b)=9, (b,c)=7 — conflicting on b.
    out = BP.train_merges(spark, docs, 2, batch_size=2).collect()
    assert (out[0]["lhs"], out[0]["rhs"], out[0]["pair_cnt"]) == ("a", "b", 9)
    # (b,c) was deferred and RECOUNTED after (a,b) applied: the three
    # 'abc' occurrences became (ab)(c), so only the four standalone
    # 'bc' words still carry the (b,c) adjacency
    assert (out[1]["lhs"], out[1]["rhs"], out[1]["pair_cnt"]) == ("b", "c", 4)


def test_epoch_shuffle_deterministic_and_epoch_varying(spark, sf_dir):
    """Same epoch → identical permutation across runs; different epochs
    → different permutations; keys are unique (a total order)."""
    from mapreducelearnings_spark.pipeline import sampling as SA

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(200)
    e1a = {r["doc_id"]: r["shuffle_key"] for r in SA.epoch_shuffle(docs, 1).collect()}
    e1b = {r["doc_id"]: r["shuffle_key"] for r in SA.epoch_shuffle(docs, 1).collect()}
    e2 = {r["doc_id"]: r["shuffle_key"] for r in SA.epoch_shuffle(docs, 2).collect()}
    assert e1a == e1b
    assert e1a != e2
    assert len(set(e1a.values())) == len(e1a)  # total order
    # range layout: each output shard holds a contiguous key range
    sharded = SA.epoch_shuffle(docs, 1, n_shards=4)
    ranges = sharded.rdd.mapPartitions(
        lambda it: [(lambda ks: (min(ks), max(ks)) if ks else None)(
            [r["shuffle_key"] for r in it]
        )]
    ).collect()
    spans = sorted(r for r in ranges if r)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # non-overlapping contiguous ranges


def test_hash_split_stable_and_proportional(spark, sf_dir):
    """Assignments are per-id stable (independent of which other rows
    are present), every row lands in exactly one split, and fractions
    approximate the weights."""
    from mapreducelearnings_spark.pipeline import sampling as SA

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r["doc_id"]: r["split"] for r in SA.hash_split(docs, w).collect()}
    half = {
        r["doc_id"]: r["split"]
        for r in SA.hash_split(docs.where("doc_id % 2 = 0"), w).collect()
    }
    assert all(full[i] == s for i, s in half.items())  # growth-stable
    n = len(full)
    from collections import Counter

    frac = {k: v / n for k, v in Counter(full.values()).items()}
    assert abs(frac["train"] - 0.8) < 0.08 and abs(frac.get("val", 0) - 0.1) < 0.05
    import pytest as _pt

    with _pt.raises(ValueError):
        SA.hash_split(docs, {"a": 0.9, "b": 0.3})


def test_cooccurrence_pairs_match_python_reference(spark):
    """Windowed pair semantics pinned against a brute-force Python
    twin: window clamps at the doc end, self-pairs are dropped,
    unordered normalization merges (x,y)/(y,x), counts are corpus-wide
    and lift reproduces the exact rational p(x,y)/(p(x)p(y))."""
    texts = [
        "big data big data big",
        "data big systems",
        "systems of systems",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    w, min_c = 2, 1
    got = {
        (r["w1"], r["w2"]): (r["c_xy"], r["c_x"], r["c_y"], r["lift"])
        for r in TS.cooccurrence_pairs(docs, window=w, min_count=min_c).collect()
    }

    import re
    from collections import Counter

    pair_c: Counter = Counter()
    uni_c: Counter = Counter()
    for t in texts:
        ts = re.findall("[a-z]+", t.lower())
        uni_c.update(ts)
        for i, x in enumerate(ts):
            for y in ts[i + 1 : i + 1 + w]:
                if x != y:
                    pair_c[(min(x, y), max(x, y))] += 1
    nw, np_ = sum(uni_c.values()), sum(pair_c.values())
    want = {
        p: (
            c,
            uni_c[p[0]],
            uni_c[p[1]],
            ((((float(c) * nw) * nw) / np_) / uni_c[p[0]]) / uni_c[p[1]],
        )
        for p, c in pair_c.items()
        if c >= min_c
    }
    assert got == want and ("big", "data") in got
    # the adjacent repeat "systems of systems" must also pair
    # (systems, systems)? no — self-pairs are excluded by contract:
    assert ("systems", "systems") not in got


def test_keep_best_survivors_policy(spark):
    """Keeper = max quality (tie: min doc_id) per cluster; unclustered
    docs survive as singletons with their own id as cluster label."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    stats = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (5, 0.4), (6, 0.4), (9, 0.7)],
        "doc_id long, quality_score double",
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 6, 9)], "doc_id long"
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["n_members"], r["quality_score"])
        for r in DD.keep_best_survivors(labels, stats, docs).collect()
    }
    # cluster 1: quality tie 0.9/0.9 between 2 and 3 -> keep 2
    # cluster 5: tie 0.4/0.4 between 5 and 6 -> keep 5
    # doc 9: unclustered singleton
    assert rows == {
        2: (1, 3, 0.9),
        5: (5, 2, 0.4),
        9: (9, 1, 0.7),
    }


def test_cooccurrence_stripes_twin_matches_pairs(spark, sf_dir):
    """Pairs vs stripes (Lin & Dyer ch.3): the two physical strategies
    must produce identical co-occurrence tables on the real fixture.
    The stripes path exists as the documented strategy twin; on Spark
    the pairs path's partial aggregate already map-side-combines, so
    pairs is the production plan."""
    docs = load_table(spark, sf_dir, "documents")
    a = {
        tuple(r)
        for r in TS.cooccurrence_pairs(docs, window=3, min_count=2).collect()
    }
    b = {
        tuple(r)
        for r in TS.cooccurrence_pairs_stripes(
            docs, window=3, min_count=2
        ).collect()
    }
    assert a == b and len(a) > 0


def test_pq_rerank_budget_autoscales_with_corpus(spark, sf_dir):
    """The residual-PQ path defaults to the shared auto-budget rule
    (hamming_auto_mult): at this fixture (n=500 = N0) auto equals the
    fixed base, and the physical plan's rank filter carries the
    k*mult literal — so the budget actually reaches the plan. A bigger
    synthetic corpus must produce a bigger literal."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    base_mult = SS.hamming_auto_mult(n)
    assert base_mult == SS.HAMMING_RERANK_MULT  # N0 fixture: auto == fixed
    plan = SS.ivf_pq_residual_topk(emb, k=5)._jdf.queryExecution().toString()
    assert f"<= {5 * base_mult}" in plan
    # 8x the corpus => +3 doublings => mult grows by 3*base
    assert SS.hamming_auto_mult(8 * n) == SS.HAMMING_RERANK_MULT * 4
