"""Similarity search over embedding columns (SURVEY.md §2.11 — NEW
layer). Every top-k path returns (query_id, neighbor_id, cos, rank)
rows with the same deterministic tiebreaks, so each approximate result
is oracle-checked exactly against DuckDB.

Every top-k path is one composition — probe → optional ADC pre-rank →
exact rank (REPOSE's partition-pruned top-k, ICDE 2021) — of these
private stages, all over unit vectors ``ne``:

- :func:`_queries` (query_id, qe) and :func:`_centroids` (cid, ce): the
  first ``n_queries`` / ``n_cells`` vec_ids of a corpus or stored index;
- :func:`_probe` (query_id, qe, cell, cs): each query's ``n_probes``
  most similar cells, cs = ⟨qe, ce⟩; with ``keep=`` the prefix widens
  until enough matching rows are reachable (:func:`_widened_probe`);
- :func:`_local_probe`: the on-disk reads collect that bounded probe
  once, for the scoring join and for the cell list partition pruning
  opens;
- :func:`_semi`: the optional ``keep`` metadata filter (left semi join);
- :func:`_exact_in_cells`: exact cosine of every probed row, or
  :func:`_adc_rerank`: an ADC pre-rank over PQ codes residual to the
  cell centroid and an exact rerank of the top R;
- :func:`_rank` / :func:`_top`: per-query row_number over (score DESC,
  tiebreak ASC), cut at k, scores rounded to 4 dp.

The paths (each function's docstring says only what differs):

- **exact cosine** (:func:`cosine_topk`) — the ground truth: broadcast
  the (small) query set against the corpus, no probe.
- **int8 scan** (:func:`cosine_topk_q8`) — the same scan over
  quantized unit vectors with exact integer dots.
- **IVF** (:func:`ivf_topk`) — sampled centroids, probe → exact.
- **trained IVF** (:func:`ivf_topk_trained`) — the same over
  Lloyd-refined centroids.
- **IVF × residual PQ** (:func:`ivf_pq_residual_topk`) — probe →
  residual ADC → exact rerank.
- **on-disk index** (:func:`ann_index_write` / :func:`ann_index_append`
  / :func:`ann_index_compact`) — the IVF × residual PQ layout stored
  partitioned by cell, so the probe becomes partition pruning. Read by
  :func:`ann_index_topk` (residual ADC; ``recall_sla=`` widens the
  rerank budget or picks the exact read :func:`ann_index_filtered_topk`).
- **LSH near-dup** (:func:`embedding_nearest_lsh`) — multi-table
  random-hyperplane buckets (md5-derived planes embedded as literals in
  both the Spark plan and the SQL oracle); candidates are (table,
  bucket) collisions.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..plans.iterate import _pin
from ..sources.io import read_parquet_as

DIMS = 64
# LSH near-dup tables: many tables of few planes. This corpus's
# neighbors sit at wide angles (max cos ≈ 0.51 → collision prob/plane
# ≈ 0.63), so per-table selectivity must stay low for any table to
# catch them. At 100 TB raise planes_per_table with log₂(n) to keep
# bucket population bounded; tighter thresholds need fewer tables.
N_TABLES = 8
MULTI_PLANES = 4

PQ_M = 8          # subspaces
# 8 bits per subspace → 8×8 = 64-bit codes: the CODE-RESOLUTION lever
# the round-9 30× recall measurement named (PERFORMANCE.md "30× recall":
# a 32-bit code cannot order within a ~3 000-member cluster, so recall
# needs R ≈ cluster size; more bits re-separate the cluster interior
# while the rerank budget stays log-n).
PQ_K64 = 256


def hyperplanes_table(
    table: int, n_planes: int = MULTI_PLANES, dims: int = DIMS
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [−1, 1) for LSH table
    ``table``: component (p, d) = md5-60bit("t{table}:{p}:{d}") / 2⁶⁰ ·
    2 − 1. Pure-Python md5 so the same literal values can be embedded in
    the SQL oracle."""
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


def _queries(embn: DataFrame, n_queries: int) -> DataFrame:
    """(query_id, qe): the first ``n_queries`` rows of a (vec_id, ne)
    frame."""
    return embn.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ne").alias("qe")
    )


def _centroids(embn: DataFrame, n_cells: int) -> DataFrame:
    """(cid, ce): the sampled coarse quantizer, the first ``n_cells``
    rows of a (vec_id, ne) frame (a corpus or a stored index)."""
    return embn.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )


def _cos(a: str, b: str):
    """Exact cosine of two unit-vector columns, rounded to 6 dp for
    ranking."""
    return F.round(V.dot(F.col(a), F.col(b)), 6).alias("cos")


def _rank(
    df: DataFrame, score: str, tie: str = "neighbor_id", name: str = "rank"
) -> DataFrame:
    """``df`` plus ``name``: the per-query row_number over (``score``
    DESC, ``tie`` ASC)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(tie))
    return df.withColumn(name, F.row_number().over(w))


def _top(scored: DataFrame, k: int, score: str = "cos") -> DataFrame:
    """(query_id, neighbor_id, score, rank): each query's ``k`` best
    scored rows, the score rounded to 4 dp."""
    return (
        _rank(scored, score)
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, 4).alias(score),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _semi(df: DataFrame, keep: DataFrame | None) -> DataFrame:
    """The rows of ``df`` whose vec_id is in ``keep`` (one ``keep_id``
    column); ``keep=None`` keeps them all."""
    if keep is None:
        return df
    return df.join(keep, df["vec_id"] == keep["keep_id"], "left_semi")


def _probe(
    q: DataFrame,
    cent: DataFrame,
    n_queries: int,
    k: int,
    n_cells: int,
    n_probes: int,
    keep: DataFrame | None = None,
    widen_to: int | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """(query_id, qe, cell, cs): each query's ``n_probes`` most similar
    centroid cells (cs = ⟨qe, ce⟩, ties to the smaller cid). With
    ``keep``, the prefix is :func:`_widened_probe`'s, counted over the
    (vec_id, cell) assignment ``cells``."""
    ranked = _rank(
        q.crossJoin(F.broadcast(cent)).select(
            "query_id", "qe", "cid", V.dot(F.col("qe"), F.col("ce")).alias("cs")
        ),
        "cs", "cid", "pr",
    )
    if keep is None:
        ranked = ranked.where(F.col("pr") <= n_probes)
    else:
        ranked = _widened_probe(
            ranked, cells, keep,
            n_queries, _widen_target(k, widen_to), n_cells, n_probes,
        )
    return ranked.select(
        "query_id", "qe", F.col("cid").cast("long").alias("cell"), "cs"
    )


def _local_probe(probe: DataFrame) -> tuple[DataFrame, list[int]]:
    """Evaluate a probe once — it is bounded (n_queries × ≤ n_cells
    rows, the k-row control-channel convention) — and return a local
    frame of its rows for the scoring join plus the sorted cell list
    the index read prunes to. One probe job instead of two (probe →
    broadcast, probe → cell list), and on the keep path the
    match-count pass runs once."""
    rows = probe.collect()
    local = probe.sparkSession.createDataFrame(rows, probe.schema)
    return local, sorted({r["cell"] for r in rows})


def _exact_in_cells(rows: DataFrame, probe: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos): every (vec_id, cell, ne) row scored
    exactly against each query that probes its cell, the query itself
    excluded."""
    return (
        rows.join(F.broadcast(probe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cos("qe", "ne"))
    )


def _adc_rerank(
    codes: DataFrame,
    probe: DataFrame,
    cb: DataFrame,
    vectors: DataFrame,
    q: DataFrame,
    budget: int,
    pq_m: int = PQ_M,
) -> DataFrame:
    """(query_id, neighbor_id, cos): ADC pre-rank, then exact rerank.
    Each (vec_id, cell, m, code) row of a probed cell scores
    ⟨qe_m, cb[m, code]⟩ over codes residual to the cell centroid; per
    (query, neighbor) the probe's ⟨qe, ce_cell⟩ plus the sum is rounded
    to 6 dp, and each query's top ``budget`` are rescored exactly
    against their unit vectors in ``vectors`` (vec_id, ne)."""
    dsub = DIMS // pq_m
    part = (
        codes.join(F.broadcast(probe), "cell")
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
    cand = (
        _rank(approx, "adc", name="ar")
        .where(F.col("ar") <= budget)
        .select("query_id", "neighbor_id")
    )
    c = vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    return (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _cos("qe", "cemb"))
    )


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors for the first ``n_queries`` vectors
    (vec_id < n_queries) against the whole corpus (excluding self): no
    probe, every (query, vector) pair is scored."""
    emb = _pin(_emb_normed(embeddings))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("ne").alias("cemb"))
    scored = (
        c.crossJoin(F.broadcast(_queries(emb, n_queries)))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos("qe", "cemb"))
    )
    return _top(scored, k)


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
    return _top(scored, k, "cos_q8")


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
    return _assign_cells(emb, _centroids(emb, n_cells))


def _assign_cells(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """:func:`ivf_assign`'s broadcast argmax against EXPLICIT centroid
    rows (cid, ce) — shared with Lloyd training and the trained read,
    and with :func:`ann_index_append`, which reads its centroids back
    out of the stored index instead of re-deriving them from a corpus
    frame."""
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
) -> DataFrame:
    """Adaptive per-query probe set for FILTERED search (r13, VERDICT
    r12 Next #2 — the under-fill defense): given the per-query
    similarity-ranked cell list ``ranked`` (query_id, qe, cid, cs, pr)
    and the corpus cell assignment ``cells`` (vec_id, cell), keep the
    ``ranked`` rows covering, per query, the
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
    in-memory paths and the on-disk reads, which feed it the STORED
    assignment."""
    matched = _semi(cells, keep)
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

    ``keep`` (optional, single ``keep_id`` column) is a METADATA
    FILTER — the retrieval-with-filters production shape ("nearest
    docs in language X"). The assigned rows are LEFT-SEMI joined
    against it before the probe join and scoring (Catalyst plans the
    same tree when the semi join is written after the probe join: it
    pushes the semi join down to the corpus side either way).
    Post-filtering the top-k would under-fill it. The index —
    centroids and cell assignment — stays UNFILTERED, so one index
    serves every predicate.

    The filtered probe is ADAPTIVE (r13, closing the classic
    filtered-IVF under-fill: a fixed n_probes silently returns < k
    rows whenever the probed cells hold < k matching candidates).
    :func:`_widened_probe` takes, per query, the smallest prefix of the
    ranked cell list whose MATCHING-candidate count reaches the
    widening target, floored at ``n_probes`` and capped at ``n_cells``
    (if the whole corpus has fewer matches, every cell is probed and
    the result is honestly short). A permissive predicate pays the
    unfiltered plan plus one narrow count.

    ``widen_to`` sets that TARGET. The default (None) over-provisions
    to ``FILTERED_WIDEN_MULT × k`` = 3×k — recall-first, the
    production default since r14 (VERDICT r13 Next #3): min-fill
    widening (target = k) guarantees a FULL result but scores only the
    minimum matching set (measured recall 0.55 at 0.8% selectivity on
    the sf0.1 fixture, vs 0.975 at 3×k — PERFORMANCE.md "filtered
    recall vs selectivity"). Pass ``widen_to=k`` to opt OUT back to
    min-fill, or higher (e.g. 6×k) to buy more recall at
    proportionally more probed cells."""
    # NOT pinned (r14 A/B): keep=None reads every subtree once (pin was
    # a wash, 1.00×), and on the keep path pinning the 3-column
    # assignment REGRESSED 1.12× — the widened probe's match-count pass
    # deliberately reads only (vec_id, cell) via parquet column pruning,
    # which an InMemoryRelation of the wide (… ne) rows defeats.
    # The probe is NOT collected to the driver either (r14 A/B): it
    # feeds one broadcast join, so a collect round-trip just adds a job
    # (measured 1.47× on the two-branch filtered entry).
    emb = _emb_normed(embeddings)
    cent = _centroids(emb, n_cells)
    assigned = _assign_cells(emb, cent)
    probe = _probe(
        _queries(emb, n_queries), cent, n_queries, k, n_cells, n_probes,
        keep, widen_to, assigned.select("vec_id", "cell"),
    )
    return _top(_exact_in_cells(_semi(assigned, keep), probe), k)


IVF_LLOYD_ROUNDS = 2


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

    Scale shape: each round is one broadcast argmax
    (:func:`_assign_cells`) + one 16-row partial-agg groupBy + a
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
    cent = sorted(
        (int(r["cid"]), [float(x) for x in r["ce"]])
        for r in _centroids(emb, n_cells).collect()
    )
    spark = embeddings.sparkSession
    for _ in range(rounds):
        # Broadcast-join assignment, NOT the centroids inlined as
        # literals: the literal form put n_cells x dims constants into
        # one codegen expression, and at 16x64 the per-round analysis +
        # compile cost dominated the whole trained-IVF query (measured
        # ~7.6 s at sf0.1 with the scan nearly free). A 16-row broadcast
        # + max_by argmax is the same map-side work with a constant-size
        # plan. Same float order, so bit-identical means.
        assigned = _assign_cells(
            train, spark.createDataFrame(cent, "cid long, ce array<double>")
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
    cent = embeddings.sparkSession.createDataFrame(
        lloyd_train(embeddings, n_cells, rounds, sample_mod=sample_mod),
        "cid long, ce array<double>",
    )
    emb = _pin(_emb_normed(embeddings))
    probe = _probe(_queries(emb, n_queries), cent, n_queries, k, n_cells, n_probes)
    return _top(_exact_in_cells(_assign_cells(emb, cent), probe), k)


# The shared exact-rerank budget rule of every compressed pre-rank:
# R = k·mult, mult = base at ≤ N0 vectors, +base per corpus doubling
# past N0, so the reranked FRACTION shrinks while recall holds. Tuned
# on the since-deleted sign-Hamming pre-rank (measured curve:
# PERFORMANCE.md "Hamming ANN rerank budget auto-scaling"); the names
# keep that origin.
HAMMING_RERANK_MULT = 16
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


def codebooks_from_normed(
    normed: DataFrame, pq_k: int = PQ_K64, pq_m: int = PQ_M
) -> DataFrame:
    """(m, code, ce): per-subspace codebooks over a (vec_id, ne) frame,
    sampled deterministically (subvectors of the first ``pq_k`` vec_ids
    — the same reproducible-init convention as the IVF quantizer).
    PQ_M·pq_k tiny rows (2 048 at the 8-bit :data:`PQ_K64`) collected
    through the k-row control channel and broadcast."""
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


def embedding_nearest_lsh(
    embeddings: DataFrame,
    n_tables: int = N_TABLES,
    planes_per_table: int = MULTI_PLANES,
) -> DataFrame:
    """Per-vector nearest same-bucket LSH neighbor — the BOUNDED-OUTPUT
    form of embedding near-dup detection. A full above-threshold pair
    enumeration is Θ(n²/k) rows on clustered data at a low threshold; a
    dedup pipeline only needs each document's BEST candidate (then
    thresholds/links downstream), and that output is Θ(n) by
    construction: one row per vector that collided with anything.

    Scale shape: candidates are (table, bucket) equi-join
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

    Scale shape: centroids and codebooks are broadcast control rows,
    encoding is one partial-agg argmin at ingest, the scan reads
    n_probes/n_cells of a cell-bucketed corpus and exact math touches R
    rows per query. ``rerank_mult=None`` auto-scales R with corpus size
    (shared :func:`hamming_auto_mult` rule); residuals subtract in IEEE
    order identically in both engines and ADC sums are rounded 6 dp
    before ranking, so the result is fully oracle-checked."""
    if rerank_mult is None:
        rerank_mult = hamming_auto_mult(corpus_size(embeddings))
    embn = _pin(_emb_normed(embeddings))
    cent = _centroids(embn, n_cells)
    # the index a production deployment stores: computed once, read by
    # the residual encode, the code join and (keep path) the widened
    # probe — unpinned, each branch replayed scan→normalize→assign
    assigned = _pin(_assign_cells(embn, cent))  # (vec_id, cell, ne)
    resid = _residual_frame(assigned, cent)
    cb = codebooks_from_normed(resid, pq_k, pq_m)
    codes = pq_encode(resid, cb, pq_m).join(
        assigned.select("vec_id", "cell"), "vec_id"
    )
    q = _queries(embn, n_queries)
    # filtered x compressed (r13, VERDICT r12 Next #6): the semi join
    # runs BEFORE the pre-rank, so the top-R budget counts MATCHING
    # candidates (a budget that counts unfiltered candidates under-fills
    # with matches under selective predicates). The probe feeds one
    # broadcast, so it stays lazy, as in ivf_topk.
    probe = _probe(
        q, cent, n_queries, k, n_cells, n_probes,
        keep, widen_to, assigned.select("vec_id", "cell"),
    )
    return _top(
        _adc_rerank(
            _semi(codes, keep), probe, cb, embn, q, k * rerank_mult, pq_m
        ),
        k,
    )


# ---------------------------------------------------------------------------
# On-disk ANN index: the "assigned once at ingest, corpus stored
# bucketed by cell" claim the ANN docstrings make, materialized.
# ---------------------------------------------------------------------------

#: The stored index row schema, fixed by :func:`_index_rows`. ``cell``
#: is the partition column, typed INT as Spark infers it from the
#: ``cell=<n>`` directory names, so a read under this schema plans
#: exactly like an inferring read (same ``semanticHash``, which keys
#: the corpus-size cache) but runs no inference job.
_INDEX_SCHEMA = (
    "vec_id BIGINT, ne ARRAY<DOUBLE>, rq_code ARRAY<BIGINT>, cell INT"
)


def _read_index(spark, path: str) -> DataFrame:
    """The on-disk index at ``path`` under :data:`_INDEX_SCHEMA`: an
    index built from an empty corpus has no data file and reads as 0
    rows instead of failing schema inference."""
    return read_parquet_as(spark, path, _INDEX_SCHEMA)



def ann_index_write(embeddings: DataFrame, path: str) -> None:
    """Materialize the production ANN index on disk: one parquet
    dataset partitioned by IVF cell, each row carrying the unit vector
    (exact rerank) and its RESIDUAL 8×8-bit PQ code array (the
    :func:`ann_index_topk` pre-rank — PERFORMANCE.md "30× recall,
    revisited": residual codes beat every absolute-code width at equal
    budget), computed ONCE at ingest. The rows always
    have the schema the index readers pass back (:func:`_read_index`),
    so an index built from an empty corpus reads as 0 rows.

    At 100 TB this is the ingest job: assignment is the broadcast
    argmax (one partial-agg shuffle), the residual encode one more, and the
    partitioned write puts each cell in its own directory so a query's
    n_probes cell filter becomes PARTITION PRUNING — the scan never
    opens the other cells' files (asserted in
    tests/test_pipeline.py::test_ann_index_query_prunes_partitions).
    """
    # The ingest job reads embn/assigned from several consumers (the
    # centroid broadcast, the k-row codebook collect, the encode
    # aggregation, the final join) — persist them for the job's
    # duration so the scan + normalize + broadcast-argmax subtrees run
    # once, not once per consumer. At
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
        cent = _centroids(embn, IVF_CELLS)
        assigned = _assign_cells(embn, cent).persist()  # (vec_id, cell, ne)
        rcb = _residual_codebooks(assigned, cent)
        (
            _index_rows(assigned, cent, rcb)
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
    is the (cid, ce) centroid frame (k rows, broadcast)."""
    cent = cent.select(F.col("cid").alias("cell"), "ce")
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
    assigned: DataFrame, cent: DataFrame, rcb: DataFrame
) -> DataFrame:
    """The stored row shape (vec_id, ne, rq_code, cell) from a cell
    assignment, its centroids and the residual 8×256 codebook — shared
    by the full build and the incremental append so both write
    bit-identical rows.

    The rows are hash-distributed by cell (r14, guide §6's
    write.distribution-mode=hash): without it every shuffle task
    writes one file into every cell directory it touches — measured
    795 files for a 1 500-row sf0.1 build, 397 more per 500-row append.
    One exchange clusters each cell onto one writer: n_cells files per
    write."""
    rcodes = _pack_codes(
        pq_encode(_residual_frame(assigned, cent), rcb), "rq_code"
    )
    return assigned.join(rcodes, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "ne",
        "rq_code",
        "cell",
    ).repartition("cell")


def ann_index_append(spark, path: str, new_embeddings: DataFrame) -> None:
    """Incrementally ingest an arrival batch into the cell-partitioned
    on-disk index WITHOUT a full rebuild — the ingest twin of
    incremental_components, and what a 100 TB index actually does
    daily (VERDICT r8 Next #7).

    The quantizers are read back out of the index itself: centroids
    are the stored unit vectors of vec_id < IVF_CELLS, the residual
    codebook the residuals of the stored (ne, cell) of vec_id < PQ_K64
    — the same deterministic seed rows a full rebuild over base ∪
    batch would sample, PROVIDED the batch's
    ids all exceed the stored max (validated; the daily-append id
    pattern). New rows are assigned and encoded by the
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
    argmax assign, one partial-agg encode shuffle — so append cost is
    ∝|batch|, never ∝|index|."""
    stored = _read_index(spark, path).select("vec_id", "ne", "cell")
    stored_max = stored.agg(F.max("vec_id")).first()[0]
    if stored_max is None:
        raise ValueError(f"empty or missing index at {path}; build first")
    new_min = new_embeddings.agg(F.min("vec_id")).first()[0]
    if new_min is None:
        return  # empty batch: nothing to append
    floor = max(stored_max, IVF_CELLS - 1, PQ_K64 - 1)
    if new_min <= floor:
        raise ValueError(
            f"append batch min vec_id {new_min} <= {floor}: ids must "
            "exceed the stored max (and the quantizer seed range) for "
            "the append to stay bit-identical to a rebuild"
        )
    cent = _centroids(stored, IVF_CELLS)
    # residual of each seed row against its STORED cell centroid
    rcb = _residual_codebooks(stored, cent)
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
            _index_rows(assigned, cent, rcb)
            .write.mode("append")
            .partitionBy("cell")
            .parquet(path)
        )
    finally:
        if assigned is not None:
            assigned.unpersist()
        newn.unpersist()
    # The memoized corpus count is keyed by semanticHash, and the hash
    # of ``_read_index(spark, path)`` is UNCHANGED after files are appended
    # at that path (ADVICE r9, verified empirically) — so a session that
    # queried the index before the append would compute its auto rerank
    # budget from the stale pre-append count, silently shrinking recall.
    # Drop the entry so the next ann_index_topk re-counts the grown index.
    try:
        _CORPUS_SIZE_CACHE.pop(_read_index(spark, path).semanticHash(), None)
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
        _CORPUS_SIZE_CACHE.pop(_read_index(spark, path).semanticHash(), None)
    except Exception:  # pragma: no cover - plan not hashable (connect etc.)
        _CORPUS_SIZE_CACHE.clear()


# ---------------------------------------------------------------------------
# Recall-SLA configuration of the on-disk index read path (VERDICT r10
# Next #2). The measured ladder (PERFORMANCE.md "30× recall,
# revisited", worst measured density: 20 clusters × ~3 000
# near-identical members at 30×):
#
#   pre-rank + budget                   recall@5 at worst density
#   residual rq_code + log-n auto       0.775–0.800 (the default read)
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


def ann_index_filtered_topk(
    spark,
    path: str,
    embeddings: DataFrame,
    keep: DataFrame | None = None,
    n_queries: int = 8,
    k: int = 5,
    n_probes: int = IVF_PROBES,
    widen_to: int | None = None,
) -> DataFrame:
    """Exact read of the on-disk index: every row of the probed cells
    is cosine-scored against its queries — no compressed pre-rank. It
    reads n_probes/n_cells of the dataset via partition pruning and
    scores what it reads: recall 1.0 within the probed cells, the
    :func:`ann_index_topk` ``recall_sla`` path above
    :data:`SLA_FRACTION_RECALL`.

    With ``keep`` it is the filtered read over the stored layout
    (:func:`ivf_topk` with ``keep``): the widening's match-count pass
    reads only the index's (vec_id, cell) columns, and the semi join
    runs over just the pruned rows. Results are bit-identical to
    ``ivf_topk(..., keep=keep)`` when the query and build frames match
    (pytest-pinned:
    tests/test_pipeline.py::test_ann_index_filtered_matches_memory).

    Centroids come from the STORED index rows, not from the passed
    ``embeddings`` frame (ADVICE r11): the stored cells were assigned
    against the BUILD frame's centroids, so probing with centroids
    derived from a different query frame would rank cells that don't
    match the stored partition layout."""
    stored = _read_index(spark, path)
    probe, cells = _local_probe(
        _probe(
            _queries(_emb_normed(embeddings), n_queries),
            _centroids(stored, IVF_CELLS),
            n_queries, k, IVF_CELLS, n_probes,
            keep, widen_to, stored.select("vec_id", "cell"),
        )
    )
    rows = stored.where(F.col("cell").isin(cells)).select("vec_id", "cell", "ne")
    return _top(_exact_in_cells(_semi(rows, keep), probe), k)


def ann_index_topk(
    spark,
    path: str,
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_probes: int = IVF_PROBES,
    rerank_mult: int | None = None,
    recall_sla: float | None = None,
    keep: DataFrame | None = None,
    widen_to: int | None = None,
) -> DataFrame:
    """Query the on-disk index: the collected probe's cell list is
    pushed as a literal ``cell IN (...)`` filter, which parquet
    partition pruning turns into "open only those cell directories".
    The ADC pre-rank runs over the stored residual ``rq_code`` arrays,
    the exact rerank over the stored unit vectors. Self-contained on
    the stored index: centroids are the stored unit vectors of vec_id <
    IVF_CELLS and the residual codebook is re-derived from the stored
    (ne, cell) of the first :data:`PQ_K64` rows — the reconstruction
    :func:`ann_index_append` performs, so build, append and query agree
    bit-for-bit. Results are bit-identical to the in-memory
    :func:`ivf_pq_residual_topk` and its DuckDB oracle
    (``queries._ivf_pq_residual_oracle``, tested), ``keep`` included:
    widening against the STORED assignment, semi join before the
    pre-rank.

    ``rerank_mult=None`` auto-scales R with the STORED corpus size —
    counted from the index at ``path`` (a parquet metadata-only count,
    memoized per path plan), not from the ``embeddings`` argument, so
    the budget is right even when the query vectors come from a
    different or subset frame than the one the index was built from
    (ADVICE r8).

    ``recall_sla`` (VERDICT r10 Next #2) picks the rung of the measured
    ladder above from the stored index's own stats: ≤
    :data:`SLA_COMPRESSED_FLOOR` → the default read; ≤
    :data:`SLA_FRACTION_RECALL` → the same pre-rank with the
    :func:`sla_rerank_rows` budget; above → the exact read
    (:func:`ann_index_filtered_topk`, recall 1.0 within probed cells).
    Mutually exclusive with ``rerank_mult``."""
    if recall_sla is not None and rerank_mult is not None:
        raise ValueError("pass recall_sla OR rerank_mult, not both")
    sla = recall_sla or 0.0
    if sla > SLA_FRACTION_RECALL:
        return ann_index_filtered_topk(
            spark, path, embeddings, keep, n_queries, k, n_probes, widen_to
        )
    stored = _read_index(spark, path)
    if sla > SLA_COMPRESSED_FLOOR:
        budget = sla_rerank_rows(corpus_size(stored), k)
    elif rerank_mult is None:
        budget = k * hamming_auto_mult(corpus_size(stored))
    else:
        budget = k * rerank_mult
    cent = _centroids(stored, IVF_CELLS)
    rcb = _residual_codebooks(stored, cent)
    q = _queries(_emb_normed(embeddings), n_queries)
    probe, cells = _local_probe(
        _probe(
            q, cent, n_queries, k, IVF_CELLS, n_probes,
            keep, widen_to, stored.select("vec_id", "cell"),
        )
    )
    idx = stored.where(F.col("cell").isin(cells))
    codes = _semi(idx, keep).select(
        "vec_id", "cell", F.posexplode("rq_code").alias("m", "code")
    )
    return _top(_adc_rerank(codes, probe, rcb, idx, q, budget), k)


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
