"""Similarity search over embedding columns (SURVEY.md §2.11 — NEW
layer). Two strategies:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the candidate corpus, cosine as a codegen
  fold, per-query top-k via window row_number. At 100 TB the candidate
  scan is embarrassingly parallel and the only shuffle is the final
  per-query k-row reduction.
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (planes derived deterministically from md5, embedded as literals in
  BOTH the Spark plan and the SQL oracle), candidates restricted to the
  query's bucket. Trades recall for a bucket-local search; identical
  bucketing in both engines makes even the approximate result
  oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..sources.io import read_parquet

N_PLANES = 8
DIMS = 64
# Multi-table config: MORE tables of FEWER planes than the single-table
# path. This corpus's neighbors sit at wide angles (max cos ≈ 0.51 →
# collision prob/plane ≈ 0.63), so per-table selectivity must drop for
# any table to catch them: measured recall@5 0.68–0.75 at 8×4 vs
# 0.03–0.05 for the single 8-plane table, on ~40% of the corpus as
# candidates. At 100 TB raise planes_per_table with log₂(n) to keep
# bucket population bounded; tighter thresholds need fewer tables.
N_TABLES = 8
MULTI_PLANES = 4


def hyperplanes(n_planes: int = N_PLANES, dims: int = DIMS) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [−1, 1): component
    (p, d) = md5-60bit("p:d") / 2⁶⁰ · 2 − 1. Pure-Python md5 so the same
    literal values can be embedded in the SQL oracle."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dims):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append(h / float(1 << 60) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplanes_table(
    table: int, n_planes: int = N_PLANES, dims: int = DIMS
) -> list[list[float]]:
    """Hyperplanes for LSH table ``table`` — independent of each other
    and of the legacy single-table :func:`hyperplanes` family (seed
    "t{table}:{p}:{d}")."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dims):
            h = int(
                hashlib.md5(f"t{table}:{p}:{d}".encode()).hexdigest()[:15], 16
            )
            row.append(h / float(1 << 60) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _emb_double(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id", V.to_double(F.col("embedding")).alias("emb")
    )


def _emb_wide(df: DataFrame, dims: int = DIMS, prefix: str = "e") -> DataFrame:
    """(vec_id, e0..e{dims-1}): the unit-normalized embedding unpacked
    into one double column per dimension. Pairwise cosine over wide rows
    is a literal multiply-add chain — whole-stage codegen end to end, no
    per-element HOF interpretation and no Arrow round-trip (scoring the
    ~800 k sf0.1 near-dup candidates costs ~1 s vs ~4 s through the
    Arrow scorer it replaced) — with the SAME left-to-right
    accumulation order as the fold /
    list_dot_product, so scores stay bit-identical to the SQL oracle.
    The wide shape is internal to this module; inputs and outputs keep
    the array<float> column."""
    d = _emb_double(df).withColumn("_n", V.norm(F.col("emb")))
    return d.select(
        "vec_id",
        *[
            (F.col("emb").getItem(i) / F.col("_n")).alias(f"{prefix}{i}")
            for i in range(dims)
        ],
    )


def _rename_wide(
    wide: DataFrame, id_alias: str, prefix: str, dims: int = DIMS,
    src_prefix: str = "e",
) -> DataFrame:
    """Re-alias a wide frame for one side of a pair join."""
    return wide.select(
        F.col("vec_id").alias(id_alias),
        *[F.col(f"{src_prefix}{i}").alias(f"{prefix}{i}") for i in range(dims)],
    )


def _dot_wide(pa: str, pb: str, dims: int = DIMS):
    """Σ_i pa_i·pb_i as an explicit left-assoc add chain — identical
    float-op order to :func:`..functions.vector.dot`'s fold (0.0 + p0 +
    p1 + … ≡ p0 + p1 + … in IEEE754), hence bit-exact oracle parity."""
    out = F.col(f"{pa}0") * F.col(f"{pb}0")
    for i in range(1, dims):
        out = out + F.col(f"{pa}{i}") * F.col(f"{pb}{i}")
    return out


def _multi_table_tagged_ids(
    emb: DataFrame, n_tables: int, planes_per_table: int
) -> DataFrame:
    """(vec_id, t, b) from a normalized (vec_id, ne) frame: one row per
    vector per LSH table, ids only — the L× row amplification never
    carries vectors; scoring re-attaches them by id equi-join after
    candidate dedup. Bucket bits use the compact fold expression, NOT
    the wide unpacked form: the fold's plan is O(planes) nodes while the
    unpacked multiply-add tree is O(tables·planes·dims) ≈ 2048 terms,
    whose one-time Janino compile (~10 s measured) dwarfs the
    interpretation cost of folding over the corpus rows (bucket
    assignment is linear in the corpus — the quadratic candidate
    scoring is where codegen matters; see :func:`_dot_wide`)."""
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                _bucket_expr_planes(
                    F.col("ne"), hyperplanes_table(t, planes_per_table)
                ).alias("b"),
            )
            for t in range(n_tables)
        ]
    )
    return emb.select("vec_id", F.explode(buckets).alias("tb")).select(
        "vec_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b")
    )


def _emb_normed(df: DataFrame) -> DataFrame:
    """(vec_id, ne): unit-normalized double embedding. Norm materialized
    as a column BEFORE the per-element divide (HOF-lambda capture would
    otherwise recompute the fold per element), so every later pairwise
    cosine is ONE dot fold."""
    return (
        _emb_double(df)
        .withColumn("_n", V.norm(F.col("emb")))
        .select("vec_id", V.normalize_with(F.col("emb"), F.col("_n")).alias("ne"))
    )


# r14 optimization (guide §2.4 "remove shuffles outright" / §5 caching):
# the multi-stage ANN compositions reference the same small derived
# frames — the cell ASSIGNMENT (the thing a production deployment
# materializes as the index) and the normalized corpus — from several
# plan branches. Catalyst does not share common subtrees across
# branches, so without a pin the residual rung recomputed the
# scan→normalize→assign pipeline up to 4× per query (10 parquet scans
# of the embeddings table in one plan, zero ReusedExchange —
# plans/r14/ann_ivf_pq64_residual_topk_before.txt). A lazy persist()
# computes each pinned frame once per action and serves every other
# branch from storage; bench.py drops all RDD blocks between repeats so
# every timed run still pays the full cold computation. Toggle exists
# for A/B measurement only.
_PIN_REUSED = True


def _pin(df: DataFrame) -> DataFrame:
    """Persist a small reused subtree (lazy; computed at most once per
    action, reused by every plan branch that references it).

    LIBRARY-CONSUMER NOTE (ADVICE r14): pinned frames are registered
    with the session's CacheManager and are NOT unpersisted by the
    query functions — the returned DataFrame still references them, so
    there is no safe point inside the function to release them. In a
    long-lived session that calls these functions repeatedly, drop the
    accumulated blocks between logical units of work the way bench.py
    and tools/ab_harness.py do::

        spark.catalog.clearCache()          # SQL cache
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)             # checkpoint/persist blocks

    (The on-disk ingest paths — ann_index_write/append — persist scoped
    frames and DO release them in try/finally, because there the
    consumer is the write inside the same call.) MEMORY_AND_DISK keeps
    an evicted pin correct: overflow spills instead of silently
    recomputing a frame the plan assumed shared."""
    if not _PIN_REUSED:
        return df
    from pyspark.storagelevel import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


# r14: hash-distribute index rows by cell before the partitioned write
# (guide §6, the write.distribution-mode=hash idea): without it every
# shuffle task writes one file into every cell directory it touches —
# measured 795 files for a 1 500-row sf0.1 build, 397 more per 500-row
# append (tasks × cells, the small-files tax at ingest). One exchange
# clusters each cell onto one writer: n_cells files per write. Toggle
# exists for A/B measurement only.
_WRITE_HASH_DISTRIBUTE = True


def _distribute_for_write(df: DataFrame) -> DataFrame:
    if not _WRITE_HASH_DISTRIBUTE:
        return df
    return df.repartition("cell")


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors for the first ``n_queries`` vectors
    (vec_id < n_queries) against the whole corpus (excluding self).

    Returns (query_id, neighbor_id, cos, rank); ordering tiebreak on
    neighbor_id keeps the row set deterministic under rounded ties.
    """
    emb = _pin(_emb_normed(embeddings))
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qemb")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qemb"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _bucket_expr_planes(emb_col, planes):
    """LSH bucket id over an explicit plane list: bit p = sign of
    ⟨v, plane_p⟩."""
    bits = []
    for p, row in enumerate(planes):
        plane_lit = F.array(*[F.lit(x) for x in row])
        d = V.dot(emb_col, plane_lit)
        bits.append(F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _bucket_expr(emb_col):
    """LSH bucket id over the legacy single-table plane family."""
    return _bucket_expr_planes(emb_col, hyperplanes())


def lsh_ann_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's hyperplane
    bucket. Equi-join on bucket replaces the full cross product — the
    100 TB path (bucket count scales 2^planes; skewed buckets split by
    AQE)."""
    emb = _pin(
        _emb_normed(embeddings).withColumn("bucket", _bucket_expr(F.col("ne")))
    )
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qemb"), "bucket"
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"), "bucket"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qemb"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def cosine_topk_q8(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Top-k over int8-QUANTIZED unit vectors — the 4×-compressed scan
    path: at 100 TB the corpus is stored as parquet INT8 arrays (a
    quarter of the float32 bytes, integer-SIMD dot products), queries
    are quantized at plan time, and the quantized score ranks
    candidates. Integer dots are EXACT, so the approximate-vs-exact gap
    is pure quantization error (|cos_q − cos| ≲ 2·√d/127 worst-case,
    ~0.02 observed) — measured against :func:`cosine_topk` in pytest.
    Composes with the IVF/LSH candidate pruning (quantize the cell scan)
    exactly as brute-force does."""
    emb = _emb_normed(embeddings).select(
        "vec_id",
        V.quantize8(F.col("ne")).alias("q"),
    )
    # quantized self-norms: |q| ≈ 127 but not exactly — score divides by
    # the true quantized norms so ranking matches the stored vectors
    emb = _pin(
        emb.withColumn(
            "qn", F.sqrt(V.dot_int(F.col("q"), F.col("q")).cast("double"))
        )
    )
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qn").alias("qqn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("cq"),
        F.col("qn").alias("cqn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                V.dot_int(F.col("qq"), F.col("cq")).cast("double")
                / (F.col("qqn") * F.col("cqn")),
                6,
            ).alias("cos_q8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q8"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_q8", 4).alias("cos_q8"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


IVF_CELLS = 16
IVF_PROBES = 3


def ivf_assign(
    embeddings: DataFrame, n_cells: int = IVF_CELLS
) -> DataFrame:
    """(vec_id, cell, ne): every vector assigned to its nearest coarse
    centroid — the IVF (inverted-file) partitioning step.

    Centroids are a deterministic corpus sample (the first ``n_cells``
    vec_ids) — the standard random-subset IVF initialization, made
    reproducible so the oracle can mirror it; a Lloyd-trained quantizer
    would run :mod:`..operators.kmeans` first and feed its centroids in,
    with identical plumbing from here on.

    Scale shape: centroids are broadcast (n_cells rows), assignment is a
    map-side argmax (``max_by`` over a broadcast crossJoin — partial
    aggregation shrinks n_cells rows per vector to 1 BEFORE the shuffle,
    unlike a window row_number which must sort the full product). At
    100 TB the assignment runs once at ingest and the corpus is written
    bucketed by cell, so queries read n_probes/n_cells of the data.
    """
    emb = _emb_normed(embeddings)
    cent = emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    return _assign_cells(emb, cent)


def _assign_cells(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """:func:`ivf_assign`'s broadcast argmax against EXPLICIT centroid
    rows (cid, ce) — shared with :func:`ann_index_append`, which reads
    its centroids back out of the stored index instead of re-deriving
    them from a corpus frame."""
    return (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "ne",
            "cid",
            V.dot(F.col("ne"), F.col("ce")).alias("cs"),
        )
        .groupBy("vec_id")
        # max of (cs, -cid): best cosine, ties to the smallest centroid
        # id — same order as the oracle's ROW_NUMBER(cs DESC, cid ASC)
        .agg(
            F.max_by(
                F.col("cid"),
                F.struct(F.col("cs"), (-F.col("cid")).alias("nc")),
            ).alias("cell"),
            # ne is constant within the group (one row per centroid)
            F.any_value(F.col("ne")).alias("ne"),
        )
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "ne")
    )


#: Default over-provisioning multiple for FILTERED search widening
#: (r14, VERDICT r13 Next #3): the adaptive probe escalates until
#: FILTERED_WIDEN_MULT × k matching candidates are reachable, not just
#: k. Min-fill (target = k) guarantees a FULL result but scores only
#: the minimum matching set, capping recall vs the filtered truth at
#: ultra-selectivity (measured 0.55 at 0.8% selectivity on the sf0.1
#: fixture); 3×k buys it back to 0.975 at proportionally more probed
#: cells (PERFORMANCE.md "filtered recall vs selectivity"). Recall is
#: the production default; min-fill is the opt-OUT (widen_to=k).
FILTERED_WIDEN_MULT = 3


def _widen_target(k: int, widen_to: int | None) -> int:
    """Resolve the filtered-search widening target: ``widen_to=None``
    (the default) over-provisions to ``FILTERED_WIDEN_MULT × k``;
    an explicit ``widen_to`` is floored at k (a target below k could
    under-fill the result, which no caller can want). Shared by every
    keep= path — in-memory, on-disk, and the compressed rungs — so the
    memory≡disk bit-equality contract holds under the default too."""
    if widen_to is None:
        return FILTERED_WIDEN_MULT * k
    return max(k, widen_to)


def _widened_probe(
    ranked: DataFrame,
    cells: DataFrame,
    keep: DataFrame,
    n_queries: int,
    k: int,
    n_cells: int,
    n_probes: int,
    qemb_col: str = "qemb",
    extra_cols: tuple = (),
) -> DataFrame:
    """Adaptive per-query probe set for FILTERED search (r13, VERDICT
    r12 Next #2 — the under-fill defense): given the per-query
    similarity-ranked cell list ``ranked`` (query_id, qemb, cid, cs,
    pr) and the corpus cell assignment ``cells`` (vec_id, cell),
    return (query_id, qemb, cell) rows covering, per query, the
    smallest rank-prefix whose cumulative count of MATCHING candidates
    (in ``keep``, excluding the query itself) reaches ``k`` — floored
    at ``n_probes`` (a permissive predicate probes exactly what the
    unfiltered path would) and capped at ``n_cells`` (fewer than k
    matches corpus-wide probes everything and returns an honestly
    short result).

    Scale shape: the per-cell match counts are ONE column-pruned
    aggregate — (vec_id, cell) semi-joined against keep, grouped to
    ≤ n_cells rows — so the pass reads two narrow columns of the
    corpus, never the vectors; the widening math itself (cumulative
    sum + first-rank-reaching-k, both windows over query_id) runs on
    the n_queries × n_cells ranked frame, metadata-sized by
    construction. Deterministic given (corpus, keep), so the DuckDB
    oracle reproduces it value-for-value; bit-shared between the
    in-memory path (:func:`ivf_topk`) and the on-disk read
    (:func:`_index_exact_topk`), which feeds it the STORED
    assignment."""
    matched = cells.join(keep, cells["vec_id"] == keep["keep_id"], "left_semi")
    cellcnt = matched.groupBy("cell").agg(F.count("*").alias("mc"))
    qself = (
        matched.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell").alias("self_cell"),
        )
    )
    wcum = (
        Window.partitionBy("query_id")
        .orderBy("pr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wq = Window.partitionBy("query_id")
    stats = (
        ranked.join(
            F.broadcast(cellcnt), ranked["cid"] == cellcnt["cell"], "left"
        )
        .drop("cell")
        .join(F.broadcast(qself), "query_id", "left")
        .withColumn(
            "m",
            F.coalesce(F.col("mc"), F.lit(0))
            - F.when(F.col("self_cell") == F.col("cid"), 1).otherwise(0),
        )
        .withColumn("cum", F.sum("m").over(wcum))
        .withColumn(
            "need",
            F.min(F.when(F.col("cum") >= k, F.col("pr"))).over(wq),
        )
    )
    return stats.where(
        F.col("pr")
        <= F.greatest(
            F.lit(n_probes), F.coalesce(F.col("need"), F.lit(n_cells))
        )
    ).select(
        "query_id",
        qemb_col,
        F.col("cid").cast("long").alias("cell"),
        *extra_cols,
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    keep: DataFrame | None = None,
    widen_to: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-Flat: each query exactly scores only
    the vectors in its ``n_probes`` nearest centroid cells — the
    cell-partitioned alternative to hyperplane LSH (candidates bounded
    by n_probes/n_cells of the corpus instead of bucket collisions; no
    DISTINCT needed since every vector lives in exactly one cell).
    Returns (query_id, neighbor_id, cos, rank).

    ``keep`` (optional, single ``keep_id`` column) is a METADATA
    FILTER — the retrieval-with-filters production shape ("nearest
    docs in language X"): candidates are LEFT-SEMI joined against it
    AFTER the cell probe and BEFORE scoring, so the filter cost rides
    the already-bounded candidate stream, never the corpus
    (pre-filtering the whole index would re-scan everything;
    post-filtering the top-k would under-fill it). The index —
    centroids and cell assignment — stays UNFILTERED, so one index
    serves every predicate.

    The filtered probe is ADAPTIVE (r13, closing the classic
    filtered-IVF under-fill: a fixed n_probes silently returns < k
    rows whenever the probed cells hold < k matching candidates —
    exactly what selective predicates do). Per query, the probe takes
    the smallest prefix of the similarity-ranked cell list whose
    cumulative MATCHING-candidate count reaches the widening target
    (default 3×k since r14 — see ``widen_to`` below), floored at
    ``n_probes`` and capped at ``n_cells`` (if the whole corpus has
    < k matches, all cells are probed and the result is honestly
    short). The per-cell match counts are one column-pruned aggregate
    (vec_id + cell only, semi-joined against keep, grouped to
    n_cells rows — broadcastable metadata, never the vectors), and
    the per-query widening math runs over the tiny
    n_queries × n_cells ranked-cell frame. So a permissive predicate
    pays the unfiltered plan plus one narrow count, while a selective
    one widens exactly as far as the target requires — deterministic,
    hence fully value-checkable by the DuckDB oracle. At 100 TB the
    keep set is ∝ corpus (not broadcastable in general); the count
    pass reads two narrow columns and the semi join shuffles only the
    probed candidates against it.

    ``widen_to`` sets the widening TARGET: how many matching
    candidates the probe escalates to make reachable. The default
    (None) over-provisions to ``FILTERED_WIDEN_MULT × k`` = 3×k —
    recall-first, the production default since r14 (VERDICT r13 Next
    #3): min-fill widening (target = k) guarantees a FULL result but
    scores only the minimum matching set, so under selective
    predicates recall vs the global filtered truth is capped by how
    few cells that minimum spans (measured: 0.55 at 0.8% selectivity
    on the sf0.1 fixture, vs 0.975 at 3×k — the curve is in
    PERFORMANCE.md "filtered recall vs selectivity"). Pass
    ``widen_to=k`` to opt OUT back to min-fill (cheapest full
    result), or higher (e.g. 6×k) to buy more recall at
    proportionally more probed cells — the filtered analogue of the
    unfiltered ladder's rerank-budget lever. Permissive predicates
    are unaffected either way: the probe floors at ``n_probes``, so
    whenever the fixed probe already reaches the target, the plan is
    the unfiltered one plus one narrow count."""
    # NOT pinned (r14 A/B): keep=None reads every subtree once (pin was
    # a wash, 1.00×), and on the keep path pinning the 3-column
    # assignment REGRESSED 1.12× — the widened probe's match-count pass
    # deliberately reads only (vec_id, cell) via parquet column pruning,
    # which an InMemoryRelation of the wide (… ne) rows defeats.
    emb = _emb_normed(embeddings)
    cent = emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    assigned = ivf_assign(embeddings, n_cells)
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qemb")
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qemb", "cid", V.dot(F.col("qemb"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    ranked = qs.withColumn("pr", F.row_number().over(wprobe))
    if keep is None:
        qprobe = ranked.where(F.col("pr") <= n_probes).select(
            "query_id", "qemb", F.col("cid").cast("long").alias("cell")
        )
    else:
        # NOT materialized through the driver (r14 A/B): unlike the
        # on-disk twins — where the probe feeds TWO consumers (pruning
        # cell set + broadcast join) — here it feeds only the broadcast,
        # so a collect/createDataFrame round-trip just adds a job
        # (measured 1.47× on the two-branch filtered entry).
        qprobe = _widened_probe(
            ranked, assigned.select("vec_id", "cell"), keep,
            n_queries, _widen_target(k, widen_to), n_cells, n_probes,
        )
    candidates = assigned.join(F.broadcast(qprobe), "cell")
    if keep is not None:
        candidates = candidates.join(
            keep, candidates["vec_id"] == keep["keep_id"], "left_semi"
        )
    scored = (
        candidates.where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(V.dot(F.col("qemb"), F.col("ne")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


IVF_LLOYD_ROUNDS = 2


def _assign_to_literal_centroids(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, ne, cell): nearest-centroid assignment against a literal
    (cid, vec) list — pure map-side codegen, NO shuffle and no join at
    all (the centroids ride in the plan, the fleet-wide equivalent of a
    broadcast). Argmax via array_max over struct(cs, -cid): highest
    cosine, ties to the smallest cid — same order as the oracle's
    ROW_NUMBER(cs DESC, cid ASC)."""
    pairs = F.array(
        *[
            F.struct(
                V.dot(
                    F.col("ne"), F.array(*[F.lit(x) for x in vec])
                ).alias("cs"),
                F.lit(-cid).alias("nc"),
            )
            for cid, vec in centroids
        ]
    )
    return emb.select(
        "vec_id",
        "ne",
        (-F.array_max(pairs).getField("nc")).cast("long").alias("cell"),
    )


def lloyd_train(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    rounds: int = IVF_LLOYD_ROUNDS,
    dims: int = DIMS,
    sample_mod: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) training of the IVF coarse quantizer:
    init = the deterministic sample (first ``n_cells`` vec_ids, the same
    seed :func:`ivf_assign` uses untrained), then ``rounds`` iterations
    of assign → element-wise mean → re-normalize. Returns the trained
    (cid, components) list, sorted by cid.

    Cross-engine determinism (the property that keeps this
    oracle-checkable): per-cell means are the ONE order-dependent float
    reduction, so each component is ROUNDed to 9 dp before anything
    downstream — both engines then see bit-identical means, and the
    normalization (left-assoc square sum, sqrt, divide) is bit-exact
    from there. The SQL mirror unrolls the same rounds
    (queries._ivf_trained_oracle).

    Scale shape: each round is one map-side literal-centroid argmax
    (zero-shuffle assignment) + one 16-row partial-agg groupBy + a
    k-row collect — the classic k-means control channel
    (operators/kmeans.py does the same in 1-D). Training cost is
    rounds × one scan of the TRAINING frame: with ``sample_mod=s`` the
    Lloyd rounds run on the deterministic ``vec_id % s == 0`` slice
    (1/s of the corpus; the production shape — at 100 TB you never
    Lloyd the full corpus, you train on a bounded sample and assign
    the full corpus once at ingest). ``sample_mod=None`` trains on
    everything (the small-data exact twin). The init (first
    ``n_cells`` vec_ids) is shared by both so trained/untrained stay
    comparable."""
    emb = _pin(_emb_normed(embeddings))
    train = (
        emb
        if sample_mod is None
        else emb.where(F.col("vec_id") % sample_mod == 0)
    )
    cent = [
        (int(r["vec_id"]), [float(x) for x in r["ne"]])
        for r in emb.where(F.col("vec_id") < n_cells)
        .select("vec_id", "ne")
        .collect()
    ]
    cent.sort()
    spark = embeddings.sparkSession
    for _ in range(rounds):
        # Broadcast-join assignment, NOT _assign_to_literal_centroids:
        # the literal form inlines n_cells x dims constants into one
        # codegen expression, and at 16x64 the per-round analysis +
        # compile cost dominated the whole trained-IVF query (measured
        # ~7.6 s at sf0.1 with the scan nearly free). A 16-row broadcast
        # + max_by argmax is the same zero-shuffle map-side work with a
        # constant-size plan. Same float order, so bit-identical means.
        cent_df = spark.createDataFrame(cent, "cid long, ce array<double>")
        assigned = (
            train.crossJoin(F.broadcast(cent_df))
            .select(
                "vec_id", "ne", "cid",
                V.dot(F.col("ne"), F.col("ce")).alias("cs"),
            )
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    F.col("cid"),
                    F.struct(F.col("cs"), (-F.col("cid")).alias("nc")),
                ).alias("cell"),
                F.any_value(F.col("ne")).alias("ne"),
            )
        )
        # ONE parsed SQL expression for the 9-dp means array and one for
        # the re-normalization — building these as 64 individual Column
        # objects cost ~1.5 s of py4j round-trips PER ROUND on the
        # driver (measured), dwarfing the actual 500-row job. aggregate()
        # sums squares left-assoc exactly like the old m0²+m1²+… chain,
        # so the trained centroids stay bit-identical.
        means_expr = (
            "array(" + ",".join(f"round(avg(ne[{i}]), 9)" for i in range(dims)) + ")"
        )
        normed = (
            assigned.groupBy("cell")
            .agg(F.expr(means_expr).alias("m"))
            .select(
                "cell",
                F.expr(
                    "transform(m, x -> x / "
                    "sqrt(aggregate(m, cast(0 as double), (a, b) -> a + b*b)))"
                ).alias("c"),
            )
        )
        cent = sorted(
            (int(r["cell"]), [float(x) for x in r["c"]])
            for r in normed.collect()
        )
    return cent


def ivf_topk_trained(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    rounds: int = IVF_LLOYD_ROUNDS,
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF-Flat top-k over the LLOYD-TRAINED quantizer — closes the
    "a trained one plugs into the same plumbing" note on
    :func:`ivf_assign`: same probe/score shape as :func:`ivf_topk`,
    centroids trained by :func:`lloyd_train` instead of sampled.
    Training balances cell populations, which is what bounds the
    worst-case probe cost at scale (a sampled quantizer inherits the
    corpus's density skew; Lloyd iterates it away). ``sample_mod``
    bounds training cost by Lloyd-ing only the ``vec_id % s == 0``
    slice — the registered production shape."""
    cent_rows = lloyd_train(embeddings, n_cells, rounds, sample_mod=sample_mod)
    spark = embeddings.sparkSession
    cent = spark.createDataFrame(
        cent_rows, "cid long, ce array<double>"
    )
    emb = _pin(_emb_normed(embeddings))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "ne", "cid", V.dot(F.col("ne"), F.col("ce")).alias("cs"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cid"), F.struct(F.col("cs"), (-F.col("cid")).alias("nc"))
            ).alias("cell"),
            F.any_value(F.col("ne")).alias("ne"),
        )
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "ne")
    )
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qemb")
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qemb", "cid", V.dot(F.col("qemb"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    qprobe = (
        qs.withColumn("pr", F.row_number().over(wprobe))
        .where(F.col("pr") <= n_probes)
        .select("query_id", "qemb", F.col("cid").cast("long").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(V.dot(F.col("qemb"), F.col("ne")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


HAMMING_RERANK_MULT = 16
# Corpus size at which the base rerank budget was tuned (recall@5 0.8
# there); hamming_auto_mult doubles down log2-style as the corpus
# outgrows it, keeping the reranked FRACTION shrinking while recall
# holds. Measured curve at the 2 000-vector sf0.1 corpus (R = 5·mult):
# mult 16→0.575, 24→0.650, 32→0.675, 48→0.775 (the auto value),
# 64→0.875, 96→0.975 — published in PERFORMANCE.md.
HAMMING_RERANK_N0 = 500


def hamming_auto_mult(n_vectors: int) -> int:
    """Log-scaled rerank multiplier: base at ≤N0 vectors, +base per
    doubling beyond. Shared rule with the DuckDB oracle (exact at
    power-of-two boundaries: n/N0 is then IEEE-exact in both engines).
    """
    import math

    n = max(int(n_vectors), 1)
    steps = max(0, math.ceil(math.log2(n / HAMMING_RERANK_N0)))
    return HAMMING_RERANK_MULT * (1 + steps)


# Memoized corpus counts for the auto rerank budget, keyed by the
# DataFrame's semantic plan hash: load_table() builds a fresh DataFrame
# per query construction, so identity keys would re-count every call
# (ADVICE r8 — the default-arg path was paying a hidden full count()
# per invocation). Bounded: one entry per distinct corpus plan seen
# this session.
_CORPUS_SIZE_CACHE: dict[int, int] = {}
_CORPUS_SIZE_CACHE_MAX = 256


def corpus_size(embeddings: DataFrame) -> int:
    """Row count of the ANN corpus, memoized per semantic plan so the
    ``rerank_mult=None`` default costs one count() control read per
    corpus per session, not one per query construction."""
    try:
        key = embeddings.semanticHash()
    except Exception:  # pragma: no cover - plan not hashable (connect etc.)
        return embeddings.count()
    n = _CORPUS_SIZE_CACHE.get(key)
    if n is None:
        if len(_CORPUS_SIZE_CACHE) >= _CORPUS_SIZE_CACHE_MAX:
            _CORPUS_SIZE_CACHE.clear()
        n = _CORPUS_SIZE_CACHE[key] = embeddings.count()
    return n


def _sign_sig_cols(ne_col, dims: int = DIMS):
    """64-bit sign signature packed as TWO 32-bit words (lo = dims 0–31,
    hi = dims 32–63): bit i = [ne_i ≥ 0]. Two words instead of one
    64-bit value keeps every partial sum positive — bit 63 of a BIGINT
    is the sign bit, and building it by addition would overflow."""
    def word(lo_bit: int, hi_bit: int):
        acc = None
        for i in range(lo_bit, hi_bit):
            t = F.when(
                ne_col.getItem(i) >= 0, F.lit(1 << (i - lo_bit))
            ).otherwise(F.lit(0))
            acc = t if acc is None else acc + t
        return acc.cast("long")

    return word(0, dims // 2), word(dims // 2, dims)


def hamming_ann_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    rerank_mult: int | None = None,
) -> DataFrame:
    """Binary-signature ANN: 64-bit sign signatures (16 bytes/vector —
    64× smaller than the raw float64 vectors, 16× smaller than float32
    storage) are scanned with XOR+popcount Hamming distance to pre-rank
    candidates, then only the per-query top ``k·rerank_mult`` are
    exactly re-scored with the full-precision cosine. Sign-bit Hamming
    approximates angular distance (each agreeing bit is one hyperplane
    — the coordinate plane — both vectors fall on the same side of), so
    the pre-rank is the 1-bit-per-dim limit of quantization:
    cheaper-but-coarser than the int8 scan, with the same
    compose-with-IVF/LSH pruning story.

    Scale shape: the signature scan is linear, integer-only and reads
    16 bytes/row; the Hamming pre-rank carries IDS ONLY through the
    top-R window; exact scoring touches R = k·rerank_mult rows per
    query. Deterministic both engines (ties broken by neighbor_id at
    both ranks), hence fully oracle-checked despite being approximate.

    An ABSOLUTE rerank budget decays as the corpus outgrows it (R=80:
    recall 0.8 at a 500-vector corpus, 0.575 at 2 000 — 1 bit/dim blurs
    wide-angle neighbors). ``rerank_mult=None`` therefore auto-scales
    via :func:`hamming_auto_mult` — +16 per corpus doubling past 500
    (one count() control read; the oracle computes the identical rule in
    SQL) — which restores recall 0.775 at 2 000 vectors (full measured
    curve at the constant above / PERFORMANCE.md) while the reranked
    FRACTION still shrinks log-linearly. Pass an explicit int for a
    fixed budget, or compose with IVF cell pruning (ivf_hamming_topk)
    when even the signature scan must prune. Reported in bench next to
    every other ANN path."""
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(embeddings))
    emb = _pin(_emb_normed(embeddings))
    lo, hi = _sign_sig_cols(F.col("ne"))
    sig = emb.select("vec_id", lo.alias("slo"), hi.alias("shi"))
    qs = sig.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("slo").alias("qlo"),
        F.col("shi").alias("qhi"),
    )
    ham = (
        sig.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("slo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("shi").bitwiseXOR(F.col("qhi")))
            ).cast("long").alias("ham"),
        )
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.asc("ham"), F.asc("neighbor_id")
    )
    cand = (
        ham.withColumn("hr", F.row_number().over(wh))
        .where(F.col("hr") <= k * rerank_mult)
        .select("query_id", "neighbor_id")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qemb")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qemb"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


PQ_M = 8          # subspaces
PQ_DSUB = DIMS // PQ_M
PQ_K = 16         # codes per subspace (4 bits) → 8×4 = 32-bit PQ code
# 8 bits per subspace → 8×8 = 64-bit codes: the CODE-RESOLUTION lever
# the round-9 30× recall measurement named (PERFORMANCE.md "30× recall":
# a 32-bit code cannot order within a ~3 000-member cluster, so recall
# needs R ≈ cluster size; more bits re-separate the cluster interior
# while the rerank budget stays log-n).
PQ_K64 = 256
PQ_RERANK_MULT = 16


def pq_codebooks(
    embeddings: DataFrame, pq_k: int = PQ_K, pq_m: int = PQ_M
) -> DataFrame:
    """(m, code, ce): per-subspace codebooks, sampled deterministically
    (subvectors of the first ``pq_k`` vec_ids — the same
    reproducible-init convention as the IVF quantizer; Lloyd refinement
    per subspace plugs in via lloyd_train on the sliced columns).
    PQ_M·pq_k tiny rows (128 at the 4-bit default, 2 048 at the 8-bit
    :data:`PQ_K64`) collected through the k-row control channel and
    broadcast."""
    return codebooks_from_normed(_emb_normed(embeddings), pq_k, pq_m)


def codebooks_from_normed(
    normed: DataFrame, pq_k: int = PQ_K, pq_m: int = PQ_M
) -> DataFrame:
    """:func:`pq_codebooks` over an already-normalized (vec_id, ne)
    frame — the form :func:`ann_index_append` needs, since the stored
    index carries unit vectors, not raw embeddings."""
    spark = normed.sparkSession
    rows = (
        normed
        .where(F.col("vec_id") < pq_k)
        .select("vec_id", "ne")
        .collect()
    )
    dsub = DIMS // pq_m
    data = [
        (
            m,
            int(r["vec_id"]),
            [float(x) for x in r["ne"][m * dsub : (m + 1) * dsub]],
        )
        for r in rows
        for m in range(pq_m)
    ]
    return spark.createDataFrame(data, "m long, code long, ce array<double>")


def _pq_subvectors(emb_normed: DataFrame, pq_m: int = PQ_M) -> DataFrame:
    """(vec_id, m, sub): every vector exploded into its pq_m subspace
    slices — map-side expand, no shuffle."""
    dsub = DIMS // pq_m
    return emb_normed.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col("ne"), m * dsub + 1, dsub).alias(
                            "sub"
                        ),
                    )
                    for m in range(pq_m)
                ]
            )
        ).alias("ms"),
    ).select("vec_id", F.col("ms.m").alias("m"), F.col("ms.sub").alias("sub"))


def pq_encode(
    emb_normed: DataFrame, cb: DataFrame, pq_m: int = PQ_M
) -> DataFrame:
    """(vec_id, m, code): each vector's nearest codebook entry per
    subspace, d² expressed as dot(s,s) − 2·dot(s,c) + dot(c,c) — only
    list_dot_product-equivalent folds, so the value is bit-identical to
    the SQL oracle (ties → smallest code). Partial max_by aggregation
    shrinks the 16-candidate product before the shuffle."""
    subs = _pq_subvectors(emb_normed, pq_m)
    j = subs.join(F.broadcast(cb), "m")
    dsub = DIMS // pq_m
    d2 = (
        V.dot_fixed(F.col("sub"), F.col("sub"), dsub)
        - 2 * V.dot_fixed(F.col("sub"), F.col("ce"), dsub)
        + V.dot_fixed(F.col("ce"), F.col("ce"), dsub)
    )
    return (
        j.groupBy("vec_id", "m")
        .agg(
            F.max_by(
                F.col("code"),
                F.struct((-d2).alias("nd"), (-F.col("code")).alias("nc")),
            ).alias("code")
        )
        .select("vec_id", "m", F.col("code").cast("long").alias("code"))
    )


PQ_LLOYD_ROUNDS = 1


def pq_train(
    embeddings: DataFrame,
    rounds: int = PQ_LLOYD_ROUNDS,
    sample_mod: int | None = None,
) -> DataFrame:
    """Lloyd-trained PQ codebooks: init = the deterministic sample
    (:func:`pq_codebooks`), then ``rounds`` iterations of per-subspace
    assign → component-wise mean. Means are ROUNDed to 9 dp — the one
    order-dependent float reduction — so both engines derive
    bit-identical codebooks (the lloyd_train convention). Codes whose
    cell empties drop out identically on both engines. Everything is
    relational: assignment is the same partial-agg argmin as encoding,
    the mean is one 128-row groupBy per round — training cost is
    rounds × one corpus scan; at 100 TB train on a bounded sample and
    encode the full corpus once at ingest. ``sample_mod`` makes that
    production shape the registered one (same convention as
    :func:`lloyd_train`): the Lloyd rounds assign/mean only the
    deterministic ``vec_id % sample_mod == 0`` slice, cutting training
    cost by the sample factor while the final encode still covers the
    full corpus."""
    emb = _emb_normed(embeddings)
    train = (
        emb.where(F.col("vec_id") % sample_mod == 0)
        if sample_mod is not None
        else emb
    )
    subs = _pq_subvectors(train)
    cb = pq_codebooks(embeddings)
    for _ in range(rounds):
        enc = pq_encode(train, cb)
        cb = (
            enc.join(subs, ["vec_id", "m"])
            .groupBy("m", "code")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.col("sub").getItem(j)), 9)
                        for j in range(PQ_DSUB)
                    ]
                ).alias("ce")
            )
            .select("m", "code", "ce")
        )
    return cb


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    rerank_mult: int | None = None,
    trained_rounds: int = 0,
    train_sample_mod: int | None = None,
    pq_k: int = PQ_K,
    pq_m: int = PQ_M,
) -> DataFrame:
    """Product-quantization ANN with Asymmetric Distance Computation:
    the corpus is stored as 32-bit PQ codes (8 subspaces × 4 bits —
    16× smaller than float32, 64× smaller than the float64 vectors),
    queries stay full-precision, and the approximate score is
    Σ_m ⟨q_m, codebook_m[code_m(v)]⟩ — the ADC estimator of the cosine.
    The per-query top k·rerank_mult by ADC score are re-scored exactly.

    Completes the compressed-scan family: int8 (8 bit/dim, near-exact),
    PQ-ADC (0.5 bit/dim, codebook-adaptive), sign-Hamming (1 bit/dim,
    data-blind). At the same R=80 rerank budget on the sf0.1 corpus,
    PQ-ADC recalls 0.825 vs sign-Hamming's 0.575 — the codebook adapts
    to the corpus where sign bits cannot. Scale shape: codebooks are 128 broadcast rows; encoding
    runs once at ingest (one partial-agg shuffle); the ADC scan is an
    equi-join on (m, code) + one (query, vec) partial-agg sum — in
    production the 8 LUT lookups fuse into one scan over the code
    column, which this relational form's broadcast join approximates.
    ADC sums are rounded 6 dp before ranking (the engine's standard
    accumulation-noise kill), so the approximate result is fully
    oracle-checked. ``trained_rounds`` > 0 swaps in the Lloyd-trained
    codebooks (:func:`pq_train`) with identical plumbing downstream.

    ``rerank_mult=None`` auto-scales the rerank budget with corpus size
    via :func:`hamming_auto_mult` (the shared compressed-scan budget
    rule): the round-8 10× recall sweep measured the FIXED R=80 budget
    collapsing 0.825 → 0.40 recall@5 at a 20 000-vector corpus while
    the auto-scaled Hamming path held — an absolute budget decays for
    ADC exactly as it did for sign bits. Since the r9 oracle migration
    the registry entries run this auto path, with the oracle computing
    the identical rule as a scalar subquery.

    ``pq_k`` sets the codes per subspace — the CODE-RESOLUTION lever
    (PERFORMANCE.md "30× recall"): the 4-bit default (:data:`PQ_K`,
    32-bit codes) hits a measured recall ceiling once a single cluster
    outgrows the rerank budget; :data:`PQ_K64` (8 bits, 64-bit codes)
    re-separates cluster interiors at 2× the stored bits while the
    codebook stays a 2 048-row broadcast and every downstream plan
    shape is unchanged."""
    if trained_rounds and (pq_k != PQ_K or pq_m != PQ_M):
        raise ValueError(
            "trained_rounds uses the PQ_K/PQ_M default geometry; "
            "pq_k/pq_m apply to the sampled-codebook path only"
        )
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(embeddings))
    emb = _pin(_emb_normed(embeddings))
    cb = (
        pq_train(embeddings, trained_rounds, sample_mod=train_sample_mod)
        if trained_rounds
        else pq_codebooks(embeddings, pq_k, pq_m)
    )
    ec = pq_encode(emb, cb, pq_m)
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )
    part = (
        ec.join(F.broadcast(cb), ["m", "code"])
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.dot_fixed(
                F.slice(
                    F.col("qe"),
                    F.col("m") * (DIMS // pq_m) + 1,
                    F.lit(DIMS // pq_m),
                ),
                F.col("ce"),
                DIMS // pq_m,
            ).alias("ps"),
        )
    )
    approx = part.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("ps"), 6).alias("adc")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .where(F.col("ar") <= k * rerank_mult)
        .select("query_id", "neighbor_id")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qe"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_hamming_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    rerank_mult: int | None = None,
) -> DataFrame:
    """IVF × compressed-scan COMPOSITION — the claim the quantized scans
    make ("composes with IVF cell pruning") made real: candidates are
    first pruned to the query's ``n_probes`` nearest cells (reading
    n_probes/n_cells of the corpus), then the surviving candidates are
    pre-ranked by sign-bit Hamming (16-byte signatures, XOR+popcount)
    and only the per-query top R = k·rerank_mult re-scored exactly.

    At 100 TB this is the production read path: the corpus is stored
    bucketed by IVF cell with the signature column alongside, a query
    reads 3/16 of the buckets, scans signatures (16 B/row), and touches
    full vectors for R rows. Same R as the flat Hamming scan but over a
    pruned candidate set — recall is bounded by the IVF probe recall
    and typically HIGHER than flat Hamming at equal R because the
    rerank budget concentrates on plausible cells — measured at sf0.1:
    0.75 composed vs 0.575 flat at R = 80.

    ``rerank_mult=None`` auto-scales R with corpus size (shared
    :func:`hamming_auto_mult` rule — the fixed R=80 composition
    measured 0.75 -> 0.35 recall@5 at the 10x corpus); since the r9
    oracle migration the registry entry runs this auto path, with the
    oracle computing the identical rule as a scalar subquery."""
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(embeddings))
    emb = _pin(ivf_assign(embeddings, n_cells))  # (vec_id, cell, ne)
    lo, hi = _sign_sig_cols(F.col("ne"))
    sig = emb.select(
        "vec_id", "cell", lo.alias("slo"), hi.alias("shi"), "ne"
    )
    cent = _emb_normed(embeddings).where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    q = sig.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("ne").alias("qemb"),
        F.col("slo").alias("qlo"),
        F.col("shi").alias("qhi"),
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qemb", "qlo", "qhi", "cid",
        V.dot(F.col("qemb"), F.col("ce")).alias("cs"),
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    qprobe = (
        qs.withColumn("pr", F.row_number().over(wprobe))
        .where(F.col("pr") <= n_probes)
        .select(
            "query_id", "qemb", "qlo", "qhi",
            F.col("cid").cast("long").alias("cell"),
        )
    )
    ham = (
        sig.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("slo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("shi").bitwiseXOR(F.col("qhi")))
            ).cast("long").alias("ham"),
        )
    )
    wh = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("neighbor_id"))
    cand = (
        ham.withColumn("hr", F.row_number().over(wh))
        .where(F.col("hr") <= k * rerank_mult)
        .select("query_id", "neighbor_id")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    qv = q.select("query_id", "qemb")
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qemb"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos ≥ t),
    exhaustive O(n²) cross join.

    TEST-ONLY recall oracle: this is the exhaustive ground truth the
    LSH path (:func:`embedding_near_dup_pairs_lsh`, the registered
    ``dedup_embedding_cosine`` query) is measured against in pytest.
    Not registered as a query and never a production path — at 100 TB
    the cross product never finishes."""
    emb = _emb_normed(embeddings)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("ne").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("ne").alias("eb"))
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(V.dot(F.col("ea"), F.col("eb")), 4).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_tables: int = N_TABLES,
    planes_per_table: int = MULTI_PLANES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table hyperplane
    LSH — the 100 TB path.

    Candidate pairs come from an equi-join on (table, bucket): only
    vectors sharing a bucket in at least one of the L tables are ever
    compared, so the join touches collisions, not the n² cross product.
    Recall is approximate but fully deterministic (md5-derived planes),
    so the same bucketing mirrored in SQL keeps the result
    oracle-checkable.

    Scale shape: the bucket join carries vec_ids ONLY (narrow rows —
    the L× LSH row amplification never ships vectors), candidates are
    DISTINCT-ed before scoring (a pair colliding in several tables is
    scored once, not L times), vectors are re-attached WIDE (one double
    column per dimension) by two id equi-joins, and the exact cosine is
    a codegen multiply-add chain — no HOF interpretation, no Python
    worker, bit-exact with the SQL oracle's list_dot_product."""
    wide = _pin(_emb_wide(embeddings))
    tagged_ids = _pin(
        _multi_table_tagged_ids(
            _emb_normed(embeddings), n_tables, planes_per_table
        )
    )
    # aliases l/r, NOT a/b: the bucket column is named "b" and a dataset
    # alias "b" would shadow it in column resolution
    cand = (
        tagged_ids.alias("l")
        .join(tagged_ids.alias("r"), ["t", "b"])
        .where(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    return (
        cand.join(_rename_wide(wide, "vec_a", "a"), "vec_a")
        .join(_rename_wide(wide, "vec_b", "b"), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(_dot_wide("a", "b"), 4).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def embedding_nearest_lsh(
    embeddings: DataFrame,
    n_tables: int = N_TABLES,
    planes_per_table: int = MULTI_PLANES,
) -> DataFrame:
    """Per-vector nearest same-bucket LSH neighbor — the BOUNDED-OUTPUT
    production form of embedding near-dup detection (VERDICT r8 Next
    #3).

    :func:`embedding_near_dup_pairs_lsh` materializes the full
    above-threshold pair enumeration, which on clustered data is
    Θ(n²/k) rows at a low threshold — fine as an oracle twin, fatal as
    a 100 TB output. A dedup pipeline only needs each document's BEST
    candidate (then thresholds/links downstream), and that output is
    Θ(n) by construction: one row per vector that collided with
    anything.

    Scale shape: candidates are the same (table, bucket) equi-join
    collisions — but scored IN PLACE, with the unit vectors carried
    through the bucket join (Θ(n·L) wide rows shuffled once on the
    bucket key), and WITHOUT deduplicating cross-table repeat pairs
    first: ``MAX`` is idempotent, so a pair colliding in 5 of the 8
    tables contributes 5 identical codegen dot products — far cheaper
    than what the dedup costs, a DISTINCT shuffle of the full
    collision multiset (Θ(n²/k) ids on clustered data) plus two
    id-equi-joins to re-attach vectors (the r9 10x slice measured the
    ids-only+DISTINCT form at 252.7 s vs 18.5 s for this one — 41x vs
    1.8x growth against the 10x data). The
    per-vector argmax is ``MAX(STRUCT(cos, -nn))`` — an ordinary
    partial+final aggregate, so each map task emits at most one
    candidate per local vector and the post-scoring shuffle carries
    Θ(n) rows regardless of how many collisions scored. No window
    over the full candidate set, no pair materialization.
    Deterministic (cos rounded 6 dp before ranking, ties to the
    smallest neighbor id), hence fully oracle-checked."""
    wide = _pin(_emb_wide(embeddings))
    tagged = _pin(
        _multi_table_tagged_ids(
            _emb_normed(embeddings), n_tables, planes_per_table
        )
    )
    left = tagged.join(_rename_wide(wide, "vec_id", "a"), "vec_id")
    right = tagged.withColumnRenamed("vec_id", "nn").join(
        _rename_wide(wide, "nn", "b"), "nn"
    )
    scored = (
        left.join(right, ["t", "b"])
        .where(F.col("vec_id") != F.col("nn"))
        .select(
            "vec_id",
            "nn",
            F.round(_dot_wide("a", "b"), 6).alias("cos"),
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cos").alias("c"), (-F.col("nn")).alias("negnn")
            )
        ).alias("m")
    )
    # Output the 6-dp ranking value AS IS. Re-rounding it to 4 dp would
    # double-round: a 6-dp-quantized cos lands exactly on a 4-dp half
    # tie (…x5000) about 1% of the time, and the two engines' tie
    # behavior on such exact boundaries differs by 1 ulp (sf0.1
    # surfaced 3/2000 rows; sf0.001/0.01/3x never sampled one).
    return best.select(
        "vec_id",
        (-F.col("m.negnn")).alias("nn_id"),
        F.col("m.c").alias("cos"),
    )


def lsh_ann_topk_multi(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_tables: int = N_TABLES,
    planes_per_table: int = MULTI_PLANES,
) -> DataFrame:
    """Approximate top-k with L independent hyperplane tables: a single
    8-plane table (:func:`lsh_ann_topk`) misses neighbors that land one
    hyperplane away; unioning L tables' buckets recovers them
    (recall 1−(1−r)^L for per-table recall r). Candidates are the union
    of the query's bucket in every table, deduped BEFORE scoring (a
    (query, neighbor) pair colliding in several tables is scored once,
    not L times), then exactly scored via the wide codegen dot — still
    an equi-join on (table, bucket), never a cross product."""
    wide = _pin(_emb_wide(embeddings))
    tagged = _pin(
        _multi_table_tagged_ids(
            _emb_normed(embeddings), n_tables, planes_per_table
        )
    )
    q = tagged.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "t", "b"
    )
    cand = (
        tagged.join(F.broadcast(q), ["t", "b"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()  # same pair may collide in several tables
    )
    scored = (
        cand.join(_rename_wide(wide, "query_id", "q"), "query_id")
        .join(_rename_wide(wide, "neighbor_id", "c"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot_wide("q", "c"), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    rerank_mult: int | None = None,
    pq_k: int = PQ_K,
) -> DataFrame:
    """IVF × PQ-ADC COMPOSITION — the FAISS ``IVFPQ`` read path, the
    standard billion-scale ANN index shape: candidates are pruned to
    the query's ``n_probes`` nearest coarse cells, the survivors are
    pre-ranked by the ADC estimate over their 32-bit PQ codes, and only
    the per-query top R = k·rerank_mult touch full vectors for exact
    rerank.

    vs :func:`ivf_hamming_topk` (the sign-bit sibling): same cell
    pruning, but the in-cell scan reads 4 B/row of corpus-adaptive
    codes instead of 16 B/row of data-blind sign bits — at equal R the
    codebook recalls more of the wide-angle neighbors this corpus hides
    (measured in bench next to the rest of the ANN ladder).

    Scale shape: at 100 TB the corpus is stored bucketed by IVF cell
    with the code column alongside (both assigned once at ingest); a
    query reads n_probes/n_cells of the buckets, the ADC scan is an
    equi-join on (m, code) against 128 broadcast codebook rows plus one
    (query, vec) partial-agg sum, and exact math touches R rows per
    query. ADC sums are rounded 6 dp before ranking (the engine's
    accumulation-noise kill), so the composed approximate result is
    fully oracle-checked like every other ANN entry.

    ``rerank_mult=None`` auto-scales R with corpus size (shared
    :func:`hamming_auto_mult` rule — fixed R=80 measured 0.95 -> 0.40
    recall@5 at the 10x corpus); since the r9 oracle migration the
    registry entry runs this auto path, with the oracle computing the
    identical rule as a scalar subquery."""
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(embeddings))
    embn = _pin(_emb_normed(embeddings))
    assigned = _pin(ivf_assign(embeddings, n_cells))  # (vec_id, cell, ne)
    cb = pq_codebooks(embeddings, pq_k)
    codes = pq_encode(embn, cb).join(
        assigned.select("vec_id", "cell"), "vec_id"
    )  # (vec_id, m, code, cell)
    cent = embn.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    q = embn.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qe", "cid", V.dot(F.col("qe"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    qprobe = (
        qs.withColumn("pr", F.row_number().over(wprobe))
        .where(F.col("pr") <= n_probes)
        .select("query_id", "qe", F.col("cid").cast("long").alias("cell"))
    )
    part = (
        codes.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(cb), ["m", "code"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.dot_fixed(
                F.slice(F.col("qe"), F.col("m") * PQ_DSUB + 1, F.lit(PQ_DSUB)),
                F.col("ce"),
                PQ_DSUB,
            ).alias("ps"),
        )
    )
    approx = part.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("ps"), 6).alias("adc")
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .where(F.col("ar") <= k * rerank_mult)
        .select("query_id", "neighbor_id")
    )
    c = embn.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qe"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    rerank_mult: int | None = None,
    pq_k: int = PQ_K64,
    pq_m: int = PQ_M,
    keep: DataFrame | None = None,
    widen_to: int | None = None,
) -> DataFrame:
    """IVF × PQ with RESIDUAL encoding — FAISS ``IVFPQ``'s
    ``encode_residual`` mode, and the lever that actually restores
    recall at 30× where absolute-position code resolution saturates
    (PERFORMANCE.md "30× recall, revisited": 32-bit absolute codes
    0.325, 64-bit 0.725, 128-bit 0.700 — more bits stop helping
    because the codebook still spends them on WHERE clusters are, not
    on ordering WITHIN one).

    PQ here encodes the residual r = v − centroid(cell(v)): every
    vector in a cell shares the centroid, so all ``pq_k`` codes per
    subspace resolve the within-cluster noise ball — exactly the
    signal the true top-5 hide in on a density-concentrated corpus.
    The ADC estimate becomes ⟨q, c + r̂⟩ = ⟨q, c_cell⟩ + Σ_m ⟨q_m, e_m⟩,
    and ⟨q, c_cell⟩ is already computed by the probe ranking — the
    residual upgrade costs ONE extra broadcast join at encode time and
    nothing at scan time.

    Scale shape: identical to :func:`ivf_pq_topk` — centroids and
    codebooks are broadcast control rows, encoding is one partial-agg
    argmin at ingest, the scan reads n_probes/n_cells of a
    cell-bucketed corpus and exact math touches R rows per query.
    ``rerank_mult=None`` auto-scales R with corpus size (shared
    :func:`hamming_auto_mult` rule); residuals subtract in IEEE order
    identically in both engines and ADC sums are rounded 6 dp before
    ranking, so the result is fully oracle-checked like the rest of
    the ANN ladder."""
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(embeddings))
    dsub = DIMS // pq_m
    embn = _pin(_emb_normed(embeddings))
    # the index a production deployment stores: computed once, read by
    # the residual encode, the code join and (keep path) the widened
    # probe — unpinned, each branch replayed scan→normalize→assign
    assigned = _pin(ivf_assign(embeddings, n_cells))  # (vec_id, cell, ne)
    cent = embn.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("ne").alias("ce")
    )
    resid = assigned.join(F.broadcast(cent), "cell").select(
        "vec_id",
        "cell",
        F.zip_with("ne", "ce", lambda a, b: a - b).alias("ne"),
    )
    cb = codebooks_from_normed(resid.select("vec_id", "ne"), pq_k, pq_m)
    codes = pq_encode(resid.select("vec_id", "ne"), cb, pq_m).join(
        assigned.select("vec_id", "cell"), "vec_id"
    )
    q = embn.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )
    qs = q.crossJoin(
        F.broadcast(cent.select(F.col("cell").alias("cid"), "ce"))
    ).select(
        "query_id", "qe", "cid", V.dot(F.col("qe"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    ranked = qs.withColumn("pr", F.row_number().over(wprobe))
    if keep is None:
        qprobe = ranked.where(F.col("pr") <= n_probes).select(
            "query_id", "qe", F.col("cid").cast("long").alias("cell"), "cs"
        )
    else:
        # filtered x compressed (r13, VERDICT r12 Next #6): the same
        # adaptive widening the exact rung uses, here feeding the
        # residual PRE-RANK — and the semi join below runs BEFORE the
        # pre-rank, so the top-R budget counts MATCHING candidates
        # (a budget that counts unfiltered candidates under-fills with
        # matches under selective predicates — the failure mode that
        # kept r12's filtered reads on the exact rung)
        # single consumer (the pre-rank broadcast): left lazy, same
        # rationale as ivf_topk's keep path above
        qprobe = _widened_probe(
            ranked, assigned.select("vec_id", "cell"), keep,
            n_queries, _widen_target(k, widen_to), n_cells, n_probes,
            qemb_col="qe", extra_cols=("cs",),
        )
        codes = codes.join(
            keep, codes["vec_id"] == keep["keep_id"], "left_semi"
        )
    part = (
        codes.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(cb), ["m", "code"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cs",
            V.dot_fixed(
                F.slice(F.col("qe"), F.col("m") * dsub + 1, F.lit(dsub)),
                F.col("ce"),
                dsub,
            ).alias("ps"),
        )
    )
    # cs is constant within a (query, neighbor) group (one cell per
    # vector); MAX picks it deterministically without widening the key
    approx = part.groupBy("query_id", "neighbor_id").agg(
        F.round(F.max("cs") + F.sum("ps"), 6).alias("adc")
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .where(F.col("ar") <= k * rerank_mult)
        .select("query_id", "neighbor_id")
    )
    c = embn.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qe"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# On-disk ANN index: the "assigned once at ingest, corpus stored
# bucketed by cell" claim the ANN docstrings make, materialized.
# ---------------------------------------------------------------------------


def ann_index_write(embeddings: DataFrame, path: str) -> None:
    """Materialize the production ANN index on disk: one parquet
    dataset partitioned by IVF cell, each row carrying the unit vector
    (exact rerank), its 8×4-bit PQ code array (ADC pre-rank), its
    RESIDUAL 8×8-bit PQ code array (the round-10 production default —
    PERFORMANCE.md "30× recall, revisited": residual codes beat every
    absolute-code width at equal budget) and its 64-bit sign signature
    (Hamming pre-rank) — every compressed representation the query
    ladder needs, computed ONCE at ingest.

    At 100 TB this is the ingest job: assignment is the broadcast
    argmax (one partial-agg shuffle), encoding one more, and the
    partitioned write puts each cell in its own directory so a query's
    n_probes cell filter becomes PARTITION PRUNING — the scan never
    opens the other cells' files (asserted in
    tests/test_pipeline.py::test_ann_index_query_prunes_partitions).
    """
    # The ingest job reads embn/assigned from FIVE consumers (two k-row
    # quantizer collects, two full encode aggregations, the final join)
    # — persist them for the job's duration so the scan + normalize +
    # broadcast-argmax subtrees run once, not once per consumer. At
    # 100 TB this is the standard ingest discipline: the persisted
    # frames are ∝ corpus (the job's own input), released on return.
    # BOTH persist() calls sit INSIDE the try (ADVICE r10, re-flagged
    # VERDICT r11 #1): if ANY plan construction after a persist raises
    # — including the centroid select right after embn's own persist —
    # the finally still releases the cached frames instead of leaking
    # session storage (unpersist on a never-persisted frame is a no-op,
    # so the finally is safe on every failure path).
    embn = _emb_normed(embeddings)
    assigned = None
    try:
        embn = embn.persist()
        cent_cid = embn.where(F.col("vec_id") < IVF_CELLS).select(
            F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
        )
        assigned = _assign_cells(embn, cent_cid).persist()  # (vec_id, cell, ne)
        cb = codebooks_from_normed(embn)
        cent = cent_cid.select(F.col("cid").alias("cell"), "ce")
        rcb = _residual_codebooks(assigned, cent)
        (
            _distribute_for_write(_index_rows(embn, assigned, cb, cent, rcb))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )
    finally:
        if assigned is not None:
            assigned.unpersist()
        embn.unpersist()


def _residual_frame(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, ne): each vector's residual against its cell centroid —
    the frame the residual codebook/encode pipeline consumes. ``cent``
    is the (cell, ce) centroid frame (k rows, broadcast)."""
    return assigned.join(F.broadcast(cent), "cell").select(
        "vec_id", F.zip_with("ne", "ce", lambda a, b: a - b).alias("ne")
    )


def _residual_codebooks(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """Residual 8×:data:`PQ_K64` codebooks from the deterministic
    first-:data:`PQ_K64`-ids sample of residuals — the quantizer the
    stored ``rq_code`` column is encoded with, reconstructible from the
    stored index rows alone (ne, cell → residual)."""
    return codebooks_from_normed(_residual_frame(assigned, cent), PQ_K64)


def _pack_codes(enc: DataFrame, colname: str) -> DataFrame:
    """(vec_id, <colname>): per-vector code array from a (vec_id, m,
    code) encode frame — m-sorted so the array layout is deterministic."""
    return enc.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda x: x["code"],
        ).alias(colname)
    )


def _index_rows(
    embn: DataFrame,
    assigned: DataFrame,
    cb: DataFrame,
    cent: DataFrame,
    rcb: DataFrame,
) -> DataFrame:
    """The stored row shape (vec_id, ne, pq_code, rq_code, slo, shi,
    cell) from a normalized frame, its cell assignment and both
    codebooks (absolute 8×16 and residual 8×256) — shared by the full
    build and the incremental append so both write bit-identical
    rows."""
    codes = _pack_codes(pq_encode(embn, cb), "pq_code")
    rcodes = _pack_codes(
        pq_encode(_residual_frame(assigned, cent), rcb), "rq_code"
    )
    lo, hi = _sign_sig_cols(F.col("ne"))
    return assigned.join(codes, "vec_id").join(rcodes, "vec_id").select(
        "vec_id",
        "ne",
        "pq_code",
        "rq_code",
        lo.alias("slo"),
        hi.alias("shi"),
        "cell",
    )


def ann_index_append(spark, path: str, new_embeddings: DataFrame) -> None:
    """Incrementally ingest an arrival batch into the cell-partitioned
    on-disk index WITHOUT a full rebuild — the ingest twin of
    incremental_components, and what a 100 TB index actually does
    daily (VERDICT r8 Next #7).

    The quantizers are read back out of the index itself: centroids
    are the stored unit vectors of vec_id < IVF_CELLS, codebooks the
    subvectors of vec_id < PQ_K — the same deterministic seed rows a
    full rebuild over base ∪ batch would sample, PROVIDED the batch's
    ids all exceed the stored max (validated; the daily-append id
    pattern). New rows are assigned, encoded and sign-packed by the
    shared :func:`_index_rows` builder and appended with a partitioned
    append-mode write: each new file lands inside its cell's existing
    directory, so partition pruning, the probe filter and every stored
    byte of the old rows are untouched. Post-append the index is
    bit-identical to a full rebuild (asserted by
    tests/test_pipeline.py::test_ann_index_append_matches_rebuild,
    including the ann_index_topk results on top).

    Scale shape: one metadata-only count + two k-row control reads
    (centroids, codebook seeds) against the stored index; the batch
    itself sees exactly the build path's per-row work — broadcast
    argmax assign, one partial-agg encode shuffle, map-side sign
    packing — so append cost is ∝|batch|, never ∝|index|."""
    stored = read_parquet(spark, path).select("vec_id", "ne")
    stored_max = stored.agg(F.max("vec_id")).first()[0]
    if stored_max is None:
        raise ValueError(f"empty or missing index at {path}; build first")
    new_min = new_embeddings.agg(F.min("vec_id")).first()[0]
    if new_min is None:
        return  # empty batch: nothing to append
    floor = max(stored_max, IVF_CELLS - 1, PQ_K - 1, PQ_K64 - 1)
    if new_min <= floor:
        raise ValueError(
            f"append batch min vec_id {new_min} <= {floor}: ids must "
            "exceed the stored max (and the quantizer seed range) for "
            "the append to stay bit-identical to a rebuild"
        )
    cent = stored.where(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    cb = codebooks_from_normed(stored)
    # residual quantizer, also from the stored rows alone: residual of
    # each seed row against its STORED cell centroid
    stored_cells = read_parquet(spark, path).select("vec_id", "ne", "cell")
    cent_cells = cent.select(F.col("cid").alias("cell"), "ce")
    rcb = _residual_codebooks(stored_cells, cent_cells)
    # Same persist discipline as the full build, batch-sided only: the
    # persisted frames are ∝|batch|, NEVER ∝|index| (the stored side
    # stays lazy parquet reads — at 100 TB persisting it would be the
    # bug). BOTH persists inside the try (ADVICE r10, re-flagged
    # VERDICT r11 #1) so a plan-construction failure anywhere after
    # either persist still releases the cache via the finally.
    newn = _emb_normed(new_embeddings)
    assigned = None
    try:
        newn = newn.persist()
        assigned = _assign_cells(newn, cent).persist()
        (
            _distribute_for_write(_index_rows(newn, assigned, cb, cent_cells, rcb))
            .write.mode("append")
            .partitionBy("cell")
            .parquet(path)
        )
    finally:
        if assigned is not None:
            assigned.unpersist()
        newn.unpersist()
    # The memoized corpus count is keyed by semanticHash, and the hash
    # of ``read_parquet(spark, path)`` is UNCHANGED after files are appended
    # at that path (ADVICE r9, verified empirically) — so a session that
    # queried the index before the append would compute its auto rerank
    # budget from the stale pre-append count, silently shrinking recall.
    # Drop the entry so the next ann_index_topk re-counts the grown index.
    try:
        _CORPUS_SIZE_CACHE.pop(read_parquet(spark, path).semanticHash(), None)
    except Exception:  # pragma: no cover - plan not hashable (connect etc.)
        _CORPUS_SIZE_CACHE.clear()


def ann_index_compact(spark, path: str, target_bytes: int | None = None) -> None:
    """Compact the cell-partitioned on-disk index in place (VERDICT
    r11 Next #6): daily :func:`ann_index_append` batches accrete one
    small parquet file per cell per append, and at 100 TB the file
    COUNT — a task + open + footer parse each at read time — becomes
    the scheduler bottleneck long before the bytes do. One maintenance
    pass rewrites every cell directory down to a single file via the
    shared atomic-rename publish (:func:`..sources.io.compact_parquet`
    with ``partition_by=("cell",)``), PRESERVING the per-cell layout
    that partition pruning needs — a flat compaction would destroy the
    read path's n_probes/n_cells scan bound.

    The row SET is untouched, so every read is bit-identical pre/post
    (queries rank with full deterministic tiebreaks; nothing depends
    on file order) — pinned by
    tests/test_pipeline.py::test_ann_index_compact_bit_identical,
    which also asserts the file-count reduction and that partition
    pruning still prunes post-compaction. Cost model: one read + one
    write of the index (∝ index), scheduled in the maintenance window
    — the same single-writer caveat as compact_parquet.

    ``target_bytes`` (r14, VERDICT r13 Next #7) swaps the
    one-file-per-cell rule for a size target: a hot cell that outgrew
    one writer/one read task is rewritten as ~⌈cell_bytes /
    target_bytes⌉ files by that many parallel writers (content-salted
    shuffle + maxRecordsPerFile — see compact_parquet), keeping both
    the compaction pass and subsequent reads parallel ∝ cell size
    while small cells still collapse to one file. Reads stay
    bit-identical (pytest-pinned:
    tests/test_pipeline.py::test_ann_index_compact_target_bytes)."""
    from ..sources.io import compact_parquet

    compact_parquet(
        spark, path, target_files=1, partition_by=("cell",),
        target_bytes=target_bytes,
    )
    # The rewrite does not change the count, but semanticHash keying is
    # path-plan based and cheap to refresh defensively alongside.
    try:
        _CORPUS_SIZE_CACHE.pop(read_parquet(spark, path).semanticHash(), None)
    except Exception:  # pragma: no cover - plan not hashable (connect etc.)
        _CORPUS_SIZE_CACHE.clear()


# ---------------------------------------------------------------------------
# Recall-SLA configuration of the on-disk index read path (VERDICT r10
# Next #2). The measured ladder (PERFORMANCE.md "30× recall,
# revisited", worst measured density: 20 clusters × ~3 000
# near-identical members at 30×):
#
#   pre-rank column + budget            recall@5 at worst density
#   absolute pq_code + log-n auto       0.325–0.725 (code-width bound)
#   residual rq_code + log-n auto       0.775–0.800 (compressed floor)
#   residual rq_code + 4 % of corpus    ≥0.95 at every measured density
#   exact (no pre-rank, probed cells)   1.0 (reads n_probes/n_cells)
#
# ann_index_topk(recall_sla=...) picks the cheapest row of that table
# that meets the SLA, sizing the budget from the STORED index's own
# row count — the production conclusion of the 30× measurement, as an
# API knob instead of prose.
# ---------------------------------------------------------------------------

#: Exact-rerank fraction of the ≥0.9 SLA budget. The 30× measurement
#: alone suggested 2.7 % (R = 1 600 / 60 000 → 0.95), but the fraction
#: must hold at EVERY density the SLA can meet, and the round-11 10×
#: re-measurement showed 2.7 % collapsing into the auto budget there
#: (R = 560 → 0.825 < SLA). 4 % is the calibrated envelope: R = 800 at
#: 10× → 0.975, R = 2 400 at 30× → ≥0.95 (monotone above the measured
#: 1 600 → 0.95), and at 1× the auto budget dominates anyway (1.0).
SLA_RERANK_FRACTION = 0.04
#: Measured recall floor of the residual pre-rank under the log-n auto
#: budget at the worst density — SLAs above it need the fraction budget.
SLA_COMPRESSED_FLOOR = 0.80
#: Measured recall of the fraction budget at the worst density — SLAs
#: above it get the exact path (recall 1.0 within probed cells).
SLA_FRACTION_RECALL = 0.95


def sla_rerank_rows(n_vectors: int, k: int = 5) -> int:
    """The ≥0.9-SLA exact-rerank row budget for a stored corpus of
    ``n_vectors``: never below the log-n auto budget (which carries
    recall at low density where the fraction would undershoot), the
    calibrated 4 % fraction above it (see :data:`SLA_RERANK_FRACTION`
    for the two-density calibration). Integer arithmetic only, so the
    DuckDB oracle reproduces it exactly via GREATEST(auto, CEIL(...))."""
    import math

    return max(
        k * hamming_auto_mult(n_vectors),
        math.ceil(SLA_RERANK_FRACTION * n_vectors),
    )


def _index_exact_topk(
    spark,
    path: str,
    embeddings: DataFrame,
    n_queries: int,
    k: int,
    n_cells: int,
    n_probes: int,
    keep: DataFrame | None = None,
    widen_to: int | None = None,
) -> DataFrame:
    """Exact-rerank read of the on-disk index: every row of the probed
    cells is cosine-scored against its queries — no compressed
    pre-rank at all. This is the measured recall-1.0 path
    (ann_ivf_topk's contract over the stored layout): it reads
    n_probes/n_cells of the dataset via partition pruning and scores
    what it reads, the right trade when the SLA outranks the scan
    budget.

    Centroids come from the STORED index rows, not from the passed
    ``embeddings`` frame (ADVICE r11): the stored cells were assigned
    against the BUILD frame's centroids, so probing with centroids
    derived from a different query frame would rank cells that don't
    match the stored partition layout and silently degrade the
    "recall 1.0 within probed cells" contract. Same k-row pruned
    derivation the residual read path uses; when the frames match
    (the tested default) the two are bit-identical."""
    embn = _emb_normed(embeddings)
    cent = (
        read_parquet(spark, path)
        .where(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cid"), F.col("ne").alias("ce"))
    )
    q = embn.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qe", "cid", V.dot(F.col("qe"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    ranked = qs.withColumn("pr", F.row_number().over(wprobe))
    if keep is None:
        qprobe = ranked.where(F.col("pr") <= n_probes).select(
            "query_id", "qe", F.col("cid").cast("long").alias("cell")
        )
    else:
        # adaptive widening against the STORED assignment (the on-disk
        # twin of ivf_topk's filtered probe): the match-count pass
        # reads only the index's (vec_id, cell) columns — parquet
        # column pruning keeps the vectors untouched — and the
        # widened per-query cell set still partition-prunes the
        # scoring scan below
        stored_cells = read_parquet(spark, path).select("vec_id", "cell")
        qprobe = _widened_probe(
            ranked, stored_cells, keep,
            n_queries, _widen_target(k, widen_to), n_cells, n_probes,
            qemb_col="qe",
        )
    # evaluate the probe ONCE: it is bounded (n_queries × ≤ n_cells
    # rows — the k-row control-channel convention), so collect it,
    # rebuild a local frame for the scoring join, and derive the
    # pruning cell set from the same rows. One probe job instead of
    # three (probe → broadcast, probe → distinct-cells collect, and on
    # the keep path the match-count pass replayed per reference —
    # guide §2.4 / §5: the driver round-trip is the cheap side of a
    # recomputed subtree).
    _rows = qprobe.collect()
    qprobe = spark.createDataFrame(_rows, qprobe.schema)
    probe_cells = sorted({r["cell"] for r in _rows})
    idx = read_parquet(spark, path).where(F.col("cell").isin(probe_cells))
    candidates = idx.select("vec_id", "cell", "ne")
    if keep is not None:
        # metadata filter COMPOSED with partition pruning: the semi
        # join runs over only the probed cells' rows — the pruned scan
        # bounds what the filter ever touches, the filter bounds what
        # gets scored
        candidates = candidates.join(
            keep, candidates["vec_id"] == keep["keep_id"], "left_semi"
        )
    scored = (
        candidates.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(V.dot(F.col("qe"), F.col("ne")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_index_filtered_topk(
    spark,
    path: str,
    embeddings: DataFrame,
    keep: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    widen_to: int | None = None,
) -> DataFrame:
    """Filtered vector search over the ON-DISK index: the
    retrieval-with-filters shape (:func:`ivf_topk` with ``keep``)
    composed with the stored layout's partition pruning — the scan
    opens only the probed cell directories, and the metadata semi join
    runs over just those rows before exact scoring. This is the
    production read for "nearest docs in language X" against a
    persisted index: one unfiltered index serves every predicate, the
    probe is ADAPTIVE (r13 — :func:`_widened_probe` sizes each query's
    cell prefix so the probed cells hold ≥ k MATCHING rows whenever
    the corpus has them; the match-count pass reads only the index's
    (vec_id, cell) columns), and the exact rerank keeps results fully
    deterministic. The filtered read deliberately uses the EXACT rung,
    not a compressed pre-rank: a fixed pre-rank budget counts
    unfiltered candidates, so under a selective predicate it can
    under-fill with matching rows and silently crater recall — the
    filtered analogue of the rerank-budget lesson the unfiltered
    ladder already measured. When the query and build frames match,
    results are bit-identical to ``ivf_topk(..., keep=keep)``
    (pytest-pinned:
    tests/test_pipeline.py::test_ann_index_filtered_matches_memory)."""
    return _index_exact_topk(
        spark, path, embeddings, n_queries, k, n_cells, n_probes,
        keep=keep, widen_to=widen_to,
    )


def ann_index_topk(
    spark,
    path: str,
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    rerank_mult: int | None = None,
    recall_sla: float | None = None,
) -> DataFrame:
    """Query the on-disk index: per-query probe cells come from the
    same broadcast-centroid ranking as :func:`ivf_topk`, their UNION
    is collected (n_queries × n_probes rows — the k-row control-channel
    convention) and pushed as a literal ``cell IN (...)`` filter, which
    parquet partition pruning turns into "open only those cell
    directories". ADC pre-rank runs over the stored code arrays against
    broadcast codebooks, exact rerank over the stored unit vectors —
    bit-identical results to the in-memory :func:`ivf_pq_topk` (tested),
    while reading n_probes/n_cells of the dataset.

    ``rerank_mult=None`` auto-scales R with the STORED corpus size —
    counted from the index at ``path`` (a parquet metadata-only count,
    memoized per path plan), not from the ``embeddings`` argument, so
    the budget is right even when the query vectors come from a
    different or subset frame than the one the index was built from
    (ADVICE r8). When the two frames match — the tested default —
    this keeps bit-parity with :func:`ivf_pq_topk` under defaults.

    ``recall_sla`` (VERDICT r10 Next #2) picks the pre-rank column and
    budget from the stored index's own stats per the measured ladder
    above: ≤ :data:`SLA_COMPRESSED_FLOOR` → residual ``rq_code``
    pre-rank under the auto budget; ≤ :data:`SLA_FRACTION_RECALL` →
    residual pre-rank with :func:`sla_rerank_rows`; above → the exact
    path (:func:`_index_exact_topk`, recall 1.0 within probed cells).
    Mutually exclusive with ``rerank_mult``."""
    if recall_sla is not None:
        if rerank_mult is not None:
            raise ValueError("pass recall_sla OR rerank_mult, not both")
        if recall_sla > SLA_FRACTION_RECALL:
            return _index_exact_topk(
                spark, path, embeddings, n_queries, k, n_cells, n_probes
            )
        rerank_rows = None
        if recall_sla > SLA_COMPRESSED_FLOOR:
            rerank_rows = sla_rerank_rows(
                corpus_size(read_parquet(spark, path)), k
            )
        return ann_index_residual_topk(
            spark,
            path,
            embeddings,
            n_queries=n_queries,
            k=k,
            n_cells=n_cells,
            n_probes=n_probes,
            rerank_rows=rerank_rows,
        )
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(read_parquet(spark, path)))
    embn = _emb_normed(embeddings)
    cent = embn.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    q = embn.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qe", "cid", V.dot(F.col("qe"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    qprobe = (
        qs.withColumn("pr", F.row_number().over(wprobe))
        .where(F.col("pr") <= n_probes)
        .select("query_id", "qe", F.col("cid").cast("long").alias("cell"))
    )
    # bounded probe: evaluate once, reuse rows for both the pruning
    # cell set and the broadcast join (one probe job instead of two)
    _rows = qprobe.collect()
    qprobe = spark.createDataFrame(_rows, qprobe.schema)
    probe_cells = sorted({r["cell"] for r in _rows})
    cb = pq_codebooks(embeddings)
    idx = read_parquet(spark, path).where(F.col("cell").isin(probe_cells))
    part = (
        idx.select(
            "vec_id",
            "cell",
            F.posexplode("pq_code").alias("m", "code"),
        )
        .join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(cb), ["m", "code"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.dot_fixed(
                F.slice(F.col("qe"), F.col("m") * PQ_DSUB + 1, F.lit(PQ_DSUB)),
                F.col("ce"),
                PQ_DSUB,
            ).alias("ps"),
        )
    )
    approx = part.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("ps"), 6).alias("adc")
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .where(F.col("ar") <= k * rerank_mult)
        .select("query_id", "neighbor_id")
    )
    c = idx.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qe"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_index_residual_topk(
    spark,
    path: str,
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    rerank_mult: int | None = None,
    pq_m: int = PQ_M,
    rerank_rows: int | None = None,
    keep: DataFrame | None = None,
    widen_to: int | None = None,
) -> DataFrame:
    """Query the on-disk index through its RESIDUAL code column — the
    round-10 production default (PERFORMANCE.md "30× recall,
    revisited": residual codes beat every absolute-code width at equal
    budget and halve the exact-rerank fraction needed for full
    recall). Fully self-contained on the stored index: centroids are
    the stored unit vectors of vec_id < n_cells, the residual codebook
    is re-derived from the stored (ne, cell) of the first
    :data:`PQ_K64` rows — the same reconstruction the append path
    performs, so build, append and query all agree bit-for-bit.
    Results are bit-identical to the in-memory
    :func:`ivf_pq_residual_topk` (pytest-pinned) while reading
    n_probes/n_cells of the dataset via partition pruning.
    ``rerank_rows`` overrides the ``k × mult`` budget with an absolute
    per-query row count — the SLA-fraction hook (see
    :func:`sla_rerank_rows`)."""
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(read_parquet(spark, path)))
    if rerank_rows is None:
        rerank_rows = k * rerank_mult
    dsub = DIMS // pq_m
    stored = read_parquet(spark, path)
    cent = stored.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    rcb = _residual_codebooks(
        stored.select("vec_id", "ne", "cell"),
        cent.select(F.col("cid").alias("cell"), "ce"),
    )
    embn = _emb_normed(embeddings)
    q = embn.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )
    qs = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qe", "cid", V.dot(F.col("qe"), F.col("ce")).alias("cs")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    ranked = qs.withColumn("pr", F.row_number().over(wprobe))
    if keep is None:
        qprobe = ranked.where(F.col("pr") <= n_probes).select(
            "query_id", "qe", F.col("cid").cast("long").alias("cell"), "cs"
        )
    else:
        # filtered x compressed over the stored layout: widening
        # against the STORED assignment (column-pruned count pass),
        # semi join before the pre-rank so the budget counts MATCHING
        # candidates; the widened cell set still partition-prunes
        qprobe = _widened_probe(
            ranked, stored.select("vec_id", "cell"), keep,
            n_queries, _widen_target(k, widen_to), n_cells, n_probes,
            qemb_col="qe", extra_cols=("cs",),
        )
    # bounded probe (n_queries × ≤ n_cells rows): evaluate it once,
    # rebuild a local frame for the pre-rank join and derive the
    # pruning cell set from the same rows — one probe job instead of
    # two (and on the keep path the match-count pass runs exactly once)
    _rows = qprobe.collect()
    qprobe = spark.createDataFrame(_rows, qprobe.schema)
    probe_cells = sorted({r["cell"] for r in _rows})
    idx = stored.where(F.col("cell").isin(probe_cells))
    cand_rows = idx
    if keep is not None:
        cand_rows = idx.join(
            keep, idx["vec_id"] == keep["keep_id"], "left_semi"
        )
    part = (
        cand_rows.select(
            "vec_id",
            "cell",
            F.posexplode("rq_code").alias("m", "code"),
        )
        .join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(rcb), ["m", "code"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cs",
            V.dot_fixed(
                F.slice(F.col("qe"), F.col("m") * dsub + 1, F.lit(dsub)),
                F.col("ce"),
                dsub,
            ).alias("ps"),
        )
    )
    approx = part.groupBy("query_id", "neighbor_id").agg(
        F.round(F.max("cs") + F.sum("ps"), 6).alias("adc")
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .where(F.col("ar") <= rerank_rows)
        .select("query_id", "neighbor_id")
    )
    c = idx.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot(F.col("qe"), F.col("cemb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def lsh_ann_topk_multiprobe(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_tables: int = N_TABLES,
    planes_per_table: int = MULTI_PLANES,
) -> DataFrame:
    """MULTI-PROBE multi-table ANN (Lv et al., VLDB'07): each query
    probes its home bucket in every table PLUS the bucket reached by
    flipping the sign bit with the smallest |margin| — the hyperplane
    the query sits closest to, hence the perturbation most likely to
    hold its missed neighbors. Trades extra probes for extra tables:
    2L probes from L tables approach the recall of 2L tables at HALF
    the index memory/ingest cost — the standard knob when the table
    count (storage) is the binding constraint, not query fan-out.

    Corpus side is untouched (same tagged (vec_id, t, b) index as
    :func:`lsh_ann_topk_multi`); only the tiny query side computes
    margins, so the plan stays an equi-join on (t, b) with ids-only
    amplification. Probe buckets are derived from the same bit-exact
    dot folds as the bucket bits, so the candidate set — and therefore
    the approximate result — is fully oracle-checkable."""
    wide = _pin(_emb_wide(embeddings))
    emb = _pin(_emb_normed(embeddings))
    tagged = _pin(_multi_table_tagged_ids(emb, n_tables, planes_per_table))
    qn = emb.where(F.col("vec_id") < n_queries)
    probe_structs = []
    for t in range(n_tables):
        planes = hyperplanes_table(t, planes_per_table)
        margins, bits = [], []
        for p, row in enumerate(planes):
            plane_lit = F.array(*[F.lit(x) for x in row])
            d = V.dot(F.col("ne"), plane_lit)
            margins.append(F.abs(d))
            bits.append(F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        b = bits[0]
        for x in bits[1:]:
            b = b + x
        b = b.cast("long")
        absm = F.array(*margins)
        # 1-based index of the FIRST minimum — ties to the smallest p,
        # matching the oracle's ROW_NUMBER(ABS(d) ASC, p ASC)
        amin = F.array_position(absm, F.array_min(absm))
        flip = F.pow(F.lit(2.0), (amin - 1).cast("double")).cast("long")
        probe_structs.append(F.struct(F.lit(t).alias("t"), b.alias("b")))
        probe_structs.append(
            F.struct(F.lit(t).alias("t"), b.bitwiseXOR(flip).alias("b"))
        )
    probes = (
        qn.select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.array(*probe_structs)).alias("tb"),
        )
        .select("query_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
        .distinct()
    )
    cand = (
        tagged.join(F.broadcast(probes), ["t", "b"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(_rename_wide(wide, "query_id", "q"), "query_id")
        .join(_rename_wide(wide, "neighbor_id", "c"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot_wide("q", "c"), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


SEMDEDUP_THRESHOLD = 0.4


def semdedup(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    threshold: float = SEMDEDUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic deduplication by
    clustering embeddings and dropping, within each cluster, every
    vector whose cosine to a LOWER-id cluster-mate meets ``threshold``
    (keep-min policy — deterministic, no RNG).

    Returns (vec_id, cell, keep): the full corpus annotated with its
    cluster id and the keep/drop decision, so downstream curation can
    either filter ``keep`` or inspect the drop rate per cell.

    Scale shape: the quadratic compare is confined WITHIN clusters — the
    pair generator is an equi-join on ``cell``, never a corpus n².
    At 100 TB you raise ``n_cells`` ~ sqrt(N) (the paper uses 50k
    clusters for 5B images) so cells stay bounded, and the assignment
    is the same broadcast-centroid map-side argmax the IVF index uses —
    cluster once at ingest, reuse for both search and dedup."""
    # NOT pinned (r14 A/B): persisting the assignment regressed this
    # sub-second query 0.46 → 1.59 s — the cache materialization stage
    # costs more than the self-join's recompute, and the InMemoryRelation
    # blocks the narrow-column pushdown both join sides enjoy.
    assigned = ivf_assign(embeddings, n_cells)
    left = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("ne").alias("a_ne"),
    )
    right = assigned.select("cell", "vec_id", F.col("ne").alias("b_ne"))
    drops = (
        left.join(right, "cell")
        .where(F.col("a_id") < F.col("vec_id"))
        .where(F.round(V.dot(F.col("a_ne"), F.col("b_ne")), 4) >= threshold)
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )
