"""Iterative BPE merge-loop training — the canonical LLM-tokenizer
workload (SURVEY.md §2.11 extension; the one-round statistic is
``bigram_counts`` in the registry, reference analogue
ReduceByKey/.../FollowersCount.scala:26-28's grouped count applied to
adjacent pairs).

Design (the standard distributed BPE trainer shape):

1. ONE corpus pass builds the word-frequency table — after this, every
   training round runs over the VOCABULARY (distinct words), not the
   corpus. At 100 TB the corpus scan is the only corpus-sized job; the
   vocab table is millions of rows at most and each round is one small
   explode + partial aggregate over it.
2. Each word is held as a delimited symbol string ``|s1||s2||...|``
   (every symbol individually wrapped in pipes). This makes the greedy
   left-to-right BPE merge EXACTLY a builtin ``replace``:
   ``replace(w, '|l||r|', '|lr|')`` — occurrences are scanned
   left-to-right and non-overlapping, so ``aaaa`` + merge (a,a) gives
   ``aa aa`` and ``aaa`` gives ``aa a``, matching the greedy trainer.
   No UDF anywhere: wrapping, pair extraction, counting and merging
   are all whole-stage-codegen expressions (replace / split /
   transform / explode).
3. One trainer, :func:`train_merges`. Per round: adjacent-pair counts
   weighted by word frequency, ranked by (count DESC, lhs ASC, rhs
   ASC) — a deterministic total order — and a few top rows collected
   as a control read (the k-means/pagerank loop discipline); the top
   ``batch_size`` symbol-disjoint pairs are merged into the
   checkpointed vocab for the next round. ``batch_size=1`` is the
   sequential trainer (``bpe_merges``), a larger one the batched
   trainer (``bpe_merges_batched``).
4. The loop's width lives in the plan: the vocab is coalesced once to
   its state width, so no round writes session conf (a scoped
   shuffle-width conf measured a wash here; PERFORMANCE.md lesson 3).

The DuckDB oracle unrolls the same rounds as nested CTEs (the
pagerank-oracle pattern), using the same delimited representation and
the same ``replace`` semantics (verified identical cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import state_width

# Only lowercase-alpha words participate: symbols then never contain
# the '|' delimiter, digits, or whitespace, so the wrapped form is
# unambiguous. Shared verbatim with the oracle SQL.
BPE_WORD_PATTERN = "[a-z]+"

# Ranked candidates read per batch slot: the disjoint selector may skip
# conflicting pairs, so a round reads a few more than it can merge.
# Shared with the batched DuckDB oracle.
_CANDIDATES = 4


def _syms():
    # built lazily: F.expr needs an active SparkContext, and this module
    # is imported at registry load time before any session exists.
    return F.split(F.expr("trim(BOTH '|' FROM w)"), r"\|\|")


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq): delimited symbol-string per distinct word + corpus
    frequency. The single corpus-sized job of the trainer."""
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_WORD_PATTERN), 0
            )
        ).alias("tok")
    )
    return toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    ).select(
        F.regexp_replace("tok", "(.)", "|$1|").alias("w"), "freq"
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts weighted by word frequency:
    (lhs, rhs, pair_cnt). One explode + one partial-agg shuffle."""
    with_syms = vocab.select("freq", _syms().alias("s")).where(F.size("s") >= 2)
    pairs = with_syms.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("s") - 1),
                lambda i: F.struct(
                    F.element_at("s", i).alias("lhs"),
                    F.element_at("s", i + 1).alias("rhs"),
                ),
            )
        ).alias("pr"),
    )
    return pairs.groupBy("pr.lhs", "pr.rhs").agg(
        F.sum("freq").alias("pair_cnt")
    )


def apply_merge(vocab: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Greedy left-to-right merge of (lhs, rhs) into every word."""
    return vocab.withColumn(
        "w",
        F.replace("w", F.lit(f"|{lhs}||{rhs}|"), F.lit(f"|{lhs}{rhs}|")),
    )


def _select_disjoint(
    ranked: list[tuple[str, str, int]], m: int
) -> list[tuple[str, str, int]]:
    """Greedy driver-side selection of up to ``m`` mutually
    symbol-DISJOINT pairs from a ranked candidate list ((lhs, rhs,
    cnt), best first). Two pairs conflict iff they share any symbol:
    disjoint pairs have the invariant that applying one merge cannot
    create, destroy, or move an occurrence of the other (a merge only
    touches adjacencies involving its own two symbols), so their
    pre-batch counts are exactly the counts a sequential trainer would
    have seen when its turn came."""
    used: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for lhs, rhs, cnt in ranked:
        if len(out) >= m:
            break
        if lhs in used or rhs in used:
            continue
        out.append((lhs, rhs, cnt))
        used.update((lhs, rhs))
    return out


def train_merges(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int,
    text_col: str = "text",
    batch_size: int = 1,
) -> DataFrame:
    """Learn ``rounds`` BPE merges; returns (merge_round, lhs, rhs,
    pair_cnt) — the ordered merge table a tokenizer ships.

    Each round ranks the top ``_CANDIDATES * batch_size`` pairs and
    merges up to ``batch_size`` mutually symbol-disjoint ones
    (:func:`_select_disjoint`; the top pair always qualifies, so every
    round makes progress). ``batch_size=1`` is the sequential greedy
    trainer; a larger batch is the standard batched-BPE scale fix — a
    30k-merge tokenizer costs ~30k/``batch_size`` rounds of Spark jobs
    instead of 30k. A greedy ``replace`` of ``|l||r|`` only rewrites
    adjacencies whose endpoints are ``l`` or ``r``, so a disjoint pair's
    count is invariant under the other merges of its batch: when the
    sequential trainer's next picks are pairwise disjoint and none uses
    a symbol minted in the same round, the batched table is identical
    (tested); a conflicting candidate waits for a later round, where it
    is recounted.

    The vocabulary is EAGERLY localCheckpoint-ed after every round but
    the last (nothing reads that one), which truncates lineage to a
    one-node scan — round N's pair count never
    recomputes rounds 1..N-1 AND the logical plan stays constant-size.
    persist() alone is NOT enough here: it short-circuits execution but
    keeps the full analyzed lineage, and the per-round planning/cache-
    matching cost over the growing replace-chain plan explodes
    superlinearly (measured at sf0.01: 0.5 s/round through round 12,
    47 s at round 15, 103 s at round 16; the checkpointed loop holds
    ~0.25 s/round flat through round 24 with identical merge picks —
    see PERFORMANCE.md).

    The loop's width is set in the plan, not in session conf: the
    vocabulary's checkpoint job also counts it (an ``Observation``), and
    the checkpoint is coalesced to :func:`..plans.iterate.state_width`
    partitions, so at fixture scale every round's pair count plans with
    no Exchange. Counts are exact longs and the tiebreak is total, so
    the width cannot change a pick.
    """
    size = Observation()  # filled by the checkpoint job: no extra job
    vocab = (
        word_frequencies(docs, text_col)
        .observe(size, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
        .coalesce(state_width(size.get["rows"]))
    )
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < rounds:
        ranked = [
            (r["lhs"], r["rhs"], r["pair_cnt"])
            for r in pair_counts(vocab)
            .orderBy(F.desc("pair_cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(_CANDIDATES * batch_size)
            .collect()
        ]
        if not ranked:  # vocabulary exhausted (all words one symbol)
            break
        for lhs, rhs, cnt in _select_disjoint(
            ranked, min(batch_size, rounds - len(merges))
        ):
            merges.append((len(merges) + 1, lhs, rhs, cnt))
            vocab = apply_merge(vocab, lhs, rhs)
        if len(merges) < rounds:
            vocab = vocab.localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "merge_round: long, lhs: string, rhs: string, pair_cnt: long"
    )


def encode_tokens(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """The trainer's other half: tokenize a corpus with an ordered
    merge list (as produced by :func:`train_merges`). Each word is
    wrapped into the delimited symbol form and every merge is applied
    IN TRAINING ORDER as one chained builtin ``replace`` — the same
    greedy left-to-right semantics the trainer used, so
    encode(train()) round-trips exactly (property-tested against a
    pure-Python encoder). The whole encode is a single map-only
    codegen projection of depth ``len(merges)`` — no UDF, no shuffle;
    at 100 TB this runs at scan speed and the merge list (a few 10k
    entries for a real tokenizer) stays a plan literal or broadcast.

    Returns (id columns passthrough, word, tokens array<string>) one
    row per word occurrence group — callers explode/aggregate as
    needed.
    """
    wrapped = F.regexp_replace(F.col("word"), "(.)", "|$1|")
    col = wrapped
    for lhs, rhs in merges:
        col = F.replace(col, F.lit(f"|{lhs}||{rhs}|"), F.lit(f"|{lhs}{rhs}|"))
    words = docs.select(
        "*",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_WORD_PATTERN), 0
            )
        ).alias("word"),
    ).drop(text_col)
    # project the merged string first, then trim/split it BY NAME — the
    # two-select shape also stops the merge chain from being re-derived
    # per reference (the lesson-15 multi-reference hazard)
    merged = words.select("*", col.alias("_merged"))
    return merged.select(
        "*",
        F.split(
            F.expr("trim(BOTH '|' FROM _merged)"), r"\|\|"
        ).alias("tokens"),
    ).drop("_merged")
