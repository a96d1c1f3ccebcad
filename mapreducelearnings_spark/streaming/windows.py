"""Structured Streaming surface (SURVEY.md §2.10).

The reference has no streaming at all; the batch windowed aggregation
(queries.py: window_events) is the semantic contract, and this module
runs the SAME aggregation expression under Structured Streaming —
``F.window`` is identical in both modes, which is the whole point of
declaring it once.

Scale notes: the streaming aggregation is stateful; the watermark bounds
state (late events beyond it are dropped), and state lives in the
checkpoint store partitioned by group key — the standard 1000-executor
deployment shape. Here it is exercised with a file source +
``availableNow`` trigger (bounded backfill run), the pattern used to
replay history into a streaming pipeline.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sketch import KMV_HASH_BASE, KMV_K
from ..sources.io import read_parquet


def _drain_partitions(default: int = 8) -> int:
    """Shuffle-partition width for the bounded availableNow drains
    (r15, guide §2.1; VERDICT r14 Next #6). A stateful streaming
    operator allocates one state store per shuffle partition and
    re-runs its aggregation across that many tasks EVERY microbatch,
    so the width must track per-microbatch volume, not cluster size —
    the session default (2× cores = 64 on the bench host) is pure
    fixed overhead per batch on KB-sized batches (the 8-vs-32-core
    scaling block measured stream_enriched_totals at ratio 0.49: 8
    cores FASTER than 32, the per-batch-scheduling signature). The
    streaming-LSH drain has sized itself this way since r8 (state
    volume / ~2k rows per store, clamped [8, 32]); this is the same
    rule for the fixed-key drains (segments, users, event types — a
    handful to a few thousand keys of state). Production deployments
    size it to arrival volume via $SPARK_GRAFT_STREAM_SHUFFLE; the
    state-store count is pinned at checkpoint creation, so this is a
    per-stream design constant, not a host tunable. A malformed value or
    one below 1 falls back to ``default``, as session.default_cpus does
    for its knob.

    The width is captured when the query starts: :func:`_drain` sets it
    on the caller's session only around ``start()``, and AQE is left as
    the caller has it."""
    try:
        width = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", ""))
    except ValueError:
        return default
    return width if width >= 1 else default


def _drain(
    frame: DataFrame,
    name: str | None = None,
    mode: str = "append",
    width: int | None = None,
    batch=None,
    checkpoint: str | None = None,
):
    """The one availableNow drain behind every ``run_*`` function: writes
    ``frame`` to the memory sink ``name`` in output ``mode`` or, given a
    ``batch`` function, through ``foreachBatch`` with ``checkpoint``;
    blocks until the bounded source is drained and returns the
    ``StreamingQuery``.

    The shuffle width (``width``, else :func:`_drain_partitions`) is set
    on the caller's session only around ``start()``. Spark runs the
    query in a clone of the session taken at ``start()``, and the first
    batch pins the state-store count from it, so the width lands while
    the caller's session reads its own value for the whole run. AQE is
    not touched: memory-sink micro-batches run with it forced off, and a
    ``foreachBatch`` body sees the caller's setting."""
    writer = frame.writeStream
    if batch is None:
        writer = writer.format("memory").queryName(name).outputMode(mode)
    else:
        writer = writer.foreachBatch(batch).option("checkpointLocation", checkpoint)
    spark, key = frame.sparkSession, "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(width or _drain_partitions()))
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set(key, old)
    q.awaitTermination()
    return q


def _kmv_est(sorted_hashes: list, k: int) -> float:
    """KMV distinct estimate of a sorted sketch of at most k hashes,
    float64-for-float64 the batch ``_estimate_expr``: every operand
    exactly representable, one IEEE division, the cross-engine floor
    quantization. Fewer than k hashes is an exact count."""
    m = len(sorted_hashes)
    if m < k:
        return float(m)
    return (
        math.floor(
            (float(k - 1) * float(KMV_HASH_BASE) / float(sorted_hashes[-1] + 1))
            * 10000
            + 0.5
        )
        / 10000
    )


# Raw schema the file-stream source reads events.parquet with. NOTE the
# unit asymmetry with the batch path: the parquet column is
# TIMESTAMP(NANOS), and the *batch* reader (with the legacy nanosAsLong
# conf, see session.py) surfaces it as long NANOseconds — but the
# *streaming* reader with this explicit LongType schema coerces through
# Spark's native microsecond timestamp first, so ``ts`` arrives here as
# long MICROseconds. stream_events must therefore NOT reuse the batch
# catalog's ``ts div 1000`` recipe (doing so put every event in Jan 1970
# — caught by test_streaming_window_agg_matches_batch).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_counts(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """The shared batch/streaming aggregation: tumbling-window counts and
    value sums per event type. Works unchanged on a batch DataFrame or a
    streaming one (modulo the watermark added by the caller)."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
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


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "30 minutes",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet with event-time
    watermarking. Late rows beyond the watermark are dropped; state for
    closed windows is evicted — the property that keeps a 100 TB/day
    stream's state bounded. ``glob`` widens the watched set (e.g.
    ``*.parquet`` for an ingest dir that accretes files);
    ``max_files_per_trigger`` caps each microbatch (a SOURCE option —
    also honored by availableNow drains), the knob that makes multi-
    batch watermark behavior testable and backfills incremental."""
    # file stream sources take a directory; glob-filter to the events file
    reader = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(sf_dir)
    # ts is long MICROseconds on the streaming path (see EVENTS_RAW_SCHEMA
    # note) — no div 1000 here, unlike catalog.load_table's batch recipe.
    events = raw.withColumn("ts", F.timestamp_micros(F.col("ts")))
    return events.withWatermark("ts", watermark)


def run_stream_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "windowed_events"
) -> None:
    """Backfill pattern: availableNow trigger drains the source, writes
    complete-mode window aggregates to an in-memory sink, terminates."""
    _drain(windowed_counts(stream_events(spark, sf_dir)), table_name, "complete")


# NOTE: stream_documents (and DOCS_RAW_SCHEMA) are defined ONCE, in the
# streaming-near-dup section below — a second copy here used to shadow
# it at import time. The quality gate is stateless, so the watermark the
# shared source attaches is inert for it.


def run_quality_gate_stream_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "gated_docs"
) -> None:
    """The curation pipeline's first stage run AT INGEST: the exact same
    :func:`..pipeline.textstats.quality_filter` expression tree (pure
    stateless codegen — quality ∧ length ∧ language in one pass) applied
    to the document stream in append mode. Stateless operators need no
    watermark and no state store, so gating a 100 TB/day crawl stream
    costs the same CPU as the batch scan, row-for-row — and everything
    downstream (dedup, embedding) sees only survivors."""
    from ..pipeline import textstats as TS

    _drain(TS.quality_filter(stream_documents(spark, sf_dir)), table_name)


def dedup_stream(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup — the ingest-time twin of the batch
    ``dedup_exact`` pipeline: ``dropDuplicatesWithinWatermark`` keeps
    one row per key and holds dedup state only for the watermark
    horizon, so a 100 TB/day stream's dedup state stays bounded by
    (keys seen within the watermark), not by total history. The caller's
    watermark on ``ts`` (see :func:`stream_events`) is required."""
    return events.dropDuplicatesWithinWatermark(keys or ["event_id"])


def run_dedup_stream_to_memory(
    spark: SparkSession, src_dir: str, table_name: str = "deduped_events"
) -> None:
    """Drain a (possibly duplicate-bearing) bounded events source through
    streaming dedup into an append-mode memory sink."""
    _drain(dedup_stream(stream_events(spark, src_dir)), table_name)


def _followup_join(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    """The follow-up join body shared by :func:`followup_pairs` (inner)
    and :func:`followup_pairs_outer` (left outer): each event of
    ``left`` against the same user's events of ``right`` in the
    following 10 minutes."""
    a, b = (
        side.select(
            F.col("event_id").alias(f"{p}_id"),
            F.col("user_id").alias(f"{p}_user"),
            F.col("ts").alias(f"{p}_ts"),
            F.col("event_type").alias(f"{p}_type"),
        )
        for side, p in ((left, "a"), (right, "b"))
    )
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES"))
        & (F.col("a_id") != F.col("b_id")),
        how,
    ).select("a_id", "b_id", "a_user", "a_type", "b_type")


def followup_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """The shared batch/stream STREAM-STREAM JOIN body: for every
    event, the same user's events in the following 10 minutes
    (click → purchase style funnel pairing). The time-interval
    predicate is what makes the streaming version's state BOUNDED: with
    both sides watermarked, each side's state is evicted once the
    watermark passes the interval, so a 100 TB/day funnel join holds
    minutes of state, not history. Works identically on two batch
    frames (the equivalence oracle in tests)."""
    return _followup_join(left, right, "inner")


def run_followup_join_stream_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "followups"
) -> None:
    """Stream-stream join drained through availableNow: both sides are
    the watermarked events stream; append mode emits each pair exactly
    once when the watermark closes it."""
    left = stream_events(spark, sf_dir, watermark="30 minutes")
    right = stream_events(spark, sf_dir, watermark="30 minutes")
    _drain(followup_pairs(left, right), table_name)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    engine-native way to test existence and rename atomically, instead
    of catching read exceptions (a bare except here once turned any
    transient read failure into "table is empty" + destructive
    overwrite)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def read_user_totals(spark: SparkSession, out_path: str) -> DataFrame:
    """Read surface for the upsert table: rounds ``sum_value`` to 4 dp
    ON READ and hides the audit column. The stored table keeps
    full-precision doubles — rounding per merge would compound
    (round-of-rounded-partial-sums drifts from round(total) across many
    microbatches), so presentation rounding happens exactly once,
    here."""
    return read_parquet(spark, out_path).select(
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def run_user_totals_upsert_stream(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    glob: str = "events.parquet",
) -> None:
    """foreachBatch KEYED UPSERT — the operational sink surface for
    targets without a streaming connector: each microbatch's per-user
    totals are merged into a keyed parquet table via read-current →
    merge → write-new-snapshot → ATOMIC RENAME SWAP. Nothing transits
    the driver: the merged frame is written fully distributed to a
    sibling snapshot dir, then two metadata-only renames (current →
    trash, new → current) publish it — the read and the write never
    touch the same path, and the keyed state never transits the driver
    (at 100 TB of users a driver collect was the one bottleneck in
    this layer; a transactional table format's MERGE INTO is the same
    shape with the swap hidden).

    Replay-safe: foreachBatch may re-run a batch after failure, so a
    ``_max_batch_id`` audit column records the highest merged batch
    (availableNow batch ids are monotonic, so one long replaces the
    unbounded per-key ``_batch_ids`` array this used to carry) and
    replayed batches are skipped — the idempotence contract foreachBatch
    requires of its sink logic. Sums are stored FULL-PRECISION and
    rounded only by :func:`read_user_totals`, so multi-batch rounding
    can't drift. A failed read of an existing table ABORTS the batch
    (checkpoint will replay it) instead of being treated as empty.

    The existing table is read through the micro-batch's own session
    (``batch_df.sparkSession``), so the whole merge — read, aggregate,
    write — runs at the drain's shuffle width and under the AQE setting
    the caller's session had at ``start()``; the caller's session conf
    is not changed while the stream runs."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        totals = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        ).withColumn("_max_batch_id", F.lit(int(batch_id)).cast("long"))
        fs, cur = _hadoop_fs(spark, out_path)
        jvm = spark._jvm
        new_path = f"{out_path}.__new_{int(batch_id)}"
        new_p = jvm.org.apache.hadoop.fs.Path(new_path)
        old_p = jvm.org.apache.hadoop.fs.Path(f"{out_path}.__old")
        # Crash recovery: a failure between the two publish renames
        # leaves current missing and the pre-merge snapshot at __old;
        # restore it so the replayed batch merges against real state
        # instead of an empty table.
        if not fs.exists(cur) and fs.exists(old_p):
            fs.rename(old_p, cur)
        if fs.exists(cur):
            # Existence is checked explicitly; any OTHER failure below
            # (corrupt footer, transient FS error) propagates and aborts
            # the batch rather than silently truncating the table.
            existing = read_parquet(batch_df.sparkSession, out_path)
            merged_max = existing.agg(
                F.max("_max_batch_id").alias("m")
            ).first()["m"]
            if merged_max is not None and int(merged_max) >= int(batch_id):
                return  # replayed batch: already merged, skip
            merged = (
                existing.unionByName(totals)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").alias("sum_value"),
                    F.max("_max_batch_id").alias("_max_batch_id"),
                )
            )
        else:
            merged = totals
        fs.delete(new_p, True)
        merged.write.mode("overwrite").parquet(new_path)
        fs.delete(old_p, True)
        if fs.exists(cur):
            fs.rename(cur, old_p)
        fs.rename(new_p, cur)
        fs.delete(old_p, True)

    _drain(
        stream_events(spark, src_dir, glob=glob), batch=upsert, checkpoint=checkpoint
    )


# ---------------------------------------------------------------------------
# Streaming near-dup: ingest-time banded-LSH candidate stream — the
# streaming twin of pipeline.dedup.lsh_candidate_pairs, closing the gap
# between the batch curation pipeline and the streaming surface.
# ---------------------------------------------------------------------------

DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession,
    src_dir: str,
    watermark: str = "1 hour",
    glob: str = "documents.parquet",
    arrival_period_s: int = 1,
    arrival_spread_s: int = 600,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the documents parquet. The table carries
    no event time, so ingest time is derived DETERMINISTICALLY from
    doc_id (epoch + (doc_id mod arrival_spread_s) · arrival_period_s;
    the defaults give the historical 10-minute arrival spread): the
    stream≡batch/oracle contracts need every run to see identical
    event times, which wall-clock ingest time would break. A real
    crawl feed would carry its own fetch timestamp here.

    The two arrival knobs exist for the state-eviction contract
    (VERDICT r11 Next #4): the default spread keeps the WHOLE corpus
    inside one join window — right for the drain-equals-batch parity
    fixtures, but it means the watermark never passes anything and
    join state grows with the drained corpus. A long-running ingest
    stream instead has time ADVANCING under it; `arrival_spread_s`
    wide enough to never wrap plus an `arrival_period_s` that spaces
    arrivals across many windows models exactly that, and is what the
    eviction pytest and the 100× state-curve probe drive."""
    reader = (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        # caps each availableNow microbatch so a multi-file source dir
        # actually exercises cross-batch watermark advancement
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(src_dir)
    docs = raw.withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1_600_000_000)
            + (F.col("doc_id") % arrival_spread_s) * arrival_period_s
        ),
    )
    return docs.withWatermark("ts", watermark)


def streaming_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Banded-LSH near-dup CANDIDATE STREAM: per-row MinHash band
    signatures (``dedup.band_signatures_rowwise`` — zero aggregation
    state, computed at ingest scan speed) feed a watermark-bounded
    stream-stream self-join on (band, sig); a pair is emitted when two
    docs share any band signature within the join window. Cross-band
    duplicate pairs are dropped in-stream by
    ``dropDuplicatesWithinWatermark`` — its state, like the join's, is
    evicted as the watermark passes, so an unbounded ingest stream
    holds only the active window's signatures (the property that makes
    ingest-time near-dup viable at 100 TB/day; the batch twin dedups
    the full corpus, this dedups the arrival window)."""
    from ..pipeline import dedup as DD

    # Spread the signature computation BEFORE computing it: the
    # streaming file source plans one task per source file, so a fat
    # arrival file serializes the per-row MinHash projection onto one
    # core — measured 82 s of the 98 s 10x drain (r9), while the join's
    # state stores cost ~2 s. A deterministic hash repartition on
    # doc_id (streaming-safe, unlike round-robin) shuffles only the
    # raw doc rows and lets every core hash shingles. Partition count
    # follows the session's shuffle setting (sized by the drain).
    banded = DD.band_signatures_rowwise(
        docs.repartition(F.col("doc_id")), passthrough=("ts",)
    )
    x, y = banded.alias("x"), banded.alias("y")
    pairs = x.join(
        y,
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.sig") == F.col("y.sig"))
        & (F.col("x.doc_id") < F.col("y.doc_id"))
        & (F.col("y.ts") >= F.col("x.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("y.ts") <= F.col("x.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.col("x.ts").alias("ts"),
    )
    return pairs.dropDuplicatesWithinWatermark(["doc_a", "doc_b"])


def _quiet_streaming_join_helper(spark: SparkSession) -> None:
    """Silence StreamingJoinHelper's per-batch WARN+stacktrace noise
    (root-caused round 7, VERDICT r06 #4): ``getStateValueWatermark``
    walks EVERY ``<``/``<=`` predicate of a stream-stream join
    condition trying to linearize it in event time; the candidate
    stream's id-ordering predicate ``x.doc_id < y.doc_id`` is not a
    time constraint, so the helper evals an unevaluable attribute
    (StreamingJoinHelper.scala:204), logs
    ``INTERNAL_ERROR Cannot evaluate expression: doc_id`` with a full
    stack, and — by design — returns None for that predicate and moves
    on. The TIME-range predicates still register the state watermark
    (state eviction is contract-tested), so the log is pure noise:
    raise just that logger to ERROR. Best-effort: log4j2 internals are
    not a stable surface, and results are identical either way."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.catalyst.analysis.StreamingJoinHelper",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass


def run_streaming_lsh_to_memory(
    spark: SparkSession,
    src_dir: str,
    table_name: str = "stream_lsh_pairs",
    shuffle_partitions: int | None = None,
    glob: str = "documents.parquet",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    arrival_period_s: int = 1,
    arrival_spread_s: int = 600,
) -> list:
    """Drain the bounded documents source through the candidate stream
    into an append-mode memory sink (availableNow backfill pattern).

    The drain's shuffle width is a cost knob: a stream-stream join
    allocates one state store per shuffle partition per micro-batch, so
    the partition count trades fixed state-store overhead (dominates
    small drains: 32 partitions measured ~3× slower than 8 at fixture
    scale) against join/state parallelism (dominates big drains: the r8
    10× smoke pinned the drain at 8 partitions while the batch twin ran
    at 32, and the stream grew 6.05× where batch grew 0.84× — the only
    superlinear row that round). ``shuffle_partitions=None`` therefore
    sizes the knob from the source row count (a parquet metadata-only
    count): ~2 000 docs of state per store, clamped to [8, 32] — 8 at
    every driver/bench scale, 25 at the 10× smoke (re-measured ratio
    in PERFORMANCE.md r9). At real ingest volume the same rule scales
    with the arrival window's volume; nothing in the query shape
    changes. :func:`_drain` applies the width at ``start()`` only.

    Returns the drain's per-microbatch progress list (each entry a
    parsed ``StreamingQueryProgress`` dict): ``stateOperators[*].
    numRowsTotal`` across those entries IS the state-store occupancy
    curve, which the eviction pytest and the 100× probe assert stays
    bounded by the watermark horizon — not by the corpus — once event
    time advances under the stream (VERDICT r11 Next #4). The default
    single-batch drain returns one entry.

    ``recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default
    100), so a long file-by-file drain would silently truncate the
    returned curve — possibly dropping its true peak (ADVICE r12). The
    retention is sized to the drain's micro-batch bound (with
    ``max_files_per_trigger`` = m, ~ceil(n_files / m) batches plus slack
    for availableNow's bookkeeping batches) and held on the caller's
    session for the whole drain, then restored: Spark reads this conf
    from the caller's live session on every progress update, not from
    the clone taken at ``start()`` (set only around ``start()``, a
    6-batch drain under a retention of 2 still returned 6 entries), so
    it cannot move into :func:`_drain`'s ``start()`` window."""
    import json as _json

    src_df = read_parquet(spark, f"{src_dir}/{glob}")
    if shuffle_partitions is None:
        shuffle_partitions = max(8, min(32, src_df.count() // 2000))
    _quiet_streaming_join_helper(spark)
    n_files = len(src_df.inputFiles())  # a metadata-only listing
    batch_bound = n_files // max(1, max_files_per_trigger or n_files or 1) + 8
    src = stream_documents(
        spark,
        src_dir,
        watermark=watermark,
        glob=glob,
        arrival_period_s=arrival_period_s,
        arrival_spread_s=arrival_spread_s,
        max_files_per_trigger=max_files_per_trigger,
    )
    prog_key = "spark.sql.streaming.numRecentProgressUpdates"
    prog_old = spark.conf.get(prog_key, None)
    spark.conf.set(prog_key, str(max(100, batch_bound)))
    try:
        q = _drain(streaming_lsh_candidates(src), table_name, width=shuffle_partitions)
        return [_json.loads(p.json) for p in q.recentProgress]
    finally:
        if prog_old is None:
            spark.conf.unset(prog_key)
        else:
            spark.conf.set(prog_key, prog_old)


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (SURVEY.md §2.10: the
# applyInPandasWithState surface for operators the built-in windows
# can't express).
# ---------------------------------------------------------------------------


def running_user_totals_stream(events):
    """Per-user running event count + value sum, maintained as custom
    keyed state via ``applyInPandasWithState`` — the engine's surface
    for stateful logic beyond windows (per-key model state, CEP-ish
    accumulators). State is one tiny tuple per user, hash-partitioned by
    the group key across executors.

    NoTimeout by design: a running total never expires. (Operators that
    DO evict idle state must pair a timeout with ``state.remove()`` in
    the timeout callback — re-arming the timeout on every invocation
    keeps scheduling wake-up microbatches and an availableNow drain
    never terminates; observed live.)

    Batch twin (for equivalence testing): groupBy(user_id).agg(count,
    sum) — the stream's final state must equal it after draining a
    bounded source.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = "user_id LONG, n_events LONG, sum_value DOUBLE"
    state_schema = "n LONG, s DOUBLE"

    def update(key, pdfs, state: GroupState):
        n, s = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_stream_to_memory(
    spark, sf_dir: str, table_name: str = "user_totals"
) -> None:
    """Drain the bounded events source through the stateful operator
    (availableNow) into a memory sink; the LAST update per user is the
    final running total."""
    agg = running_user_totals_stream(stream_events(spark, sf_dir))
    _drain(agg, table_name, "update")


def kmv_distinct_stream(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Streaming KMV distinct-count: per-group running COUNT DISTINCT
    estimate with BOUNDED keyed state — the streaming twin of the
    batch sketch (`functions/sketch.py`, queries `distinct_kmv_sketch`
    / `distinct_kmv_incremental`), and the reason sketches exist in
    streaming at all: an exact streaming COUNT DISTINCT must hold every
    id it has ever seen in the state store forever (state ∝ distinct
    domain — unbounded on a 100 TB/day stream), while the KMV state is
    the k smallest distinct md5-hashes per group — k longs, however
    many billions of ids flow past.

    The hash stays a JVM-side codegen column (`md5_long` computed
    BEFORE the stateful operator, exactly the batch expression); the
    Python state function only merges sorted longs, so the Arrow
    boundary carries (group, u) pairs, never raw ids. Each microbatch's
    update is precisely :func:`..functions.sketch.kmv_merge` semantics
    (union → re-rank to k — trimming to the k smallest is safe at any
    point, the mergeability the batch pytest pins), and the estimator
    is float64-for-float64 the batch `_estimate_expr`, so after
    draining a bounded source the final state matches the batch sketch
    EXACTLY — not within an error bound (asserted by
    tests/test_streaming_stateful.py::test_kmv_distinct_stream_matches_batch,
    including a multi-microbatch split drain).

    Output (update mode): one row per (microbatch, group) —
    (event_type, sketch_size, est_distinct, rows_seen); rows_seen is
    monotone per group, so the final state is the max-rows_seen row.
    NoTimeout: a running distinct count never expires."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions import text as X

    hashed = events.where(F.col("user_id").isNotNull()).select(
        "event_type",
        X.md5_long(F.col("user_id").cast("string")).alias("u"),
    )
    out_schema = (
        "event_type STRING, sketch_size LONG, est_distinct DOUBLE, "
        "rows_seen LONG"
    )
    state_schema = "hashes ARRAY<LONG>, rows_seen LONG"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            stored, seen = state.get
            hs = {int(x) for x in stored}
        else:
            hs, seen = set(), 0
        for pdf in pdfs:
            seen += len(pdf)
            hs.update(int(x) for x in pdf["u"])
            if len(hs) > 4 * k:  # amortized trim; k-smallest is
                hs = set(sorted(hs)[:k])  # merge-safe at any point
        sk = [int(x) for x in sorted(hs)[:k]]
        state.update((sk, seen))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "sketch_size": [len(sk)],
                "est_distinct": [_kmv_est(sk, k)],
                "rows_seen": [seen],
            }
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_kmv_distinct_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "kmv_distinct",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain the bounded events source through the streaming KMV
    sketch (availableNow) into a memory sink; ``max_files_per_trigger``
    + a multi-file source dir forces multiple microbatches, exercising
    the cross-batch state merge.

    The drain runs at the SMALL :func:`_drain_partitions` width (the
    stream-LSH drain's lesson, r8): a stateful operator allocates one
    state store per shuffle partition per microbatch, and the sketch
    keys on event_type — a handful of groups, each k longs of state —
    so 32 stores is pure fixed overhead; 8 covers any realistic group
    fan-out here while a wide deployment would size it like the LSH
    drain does (state volume / ~2k rows per store)."""
    events = stream_events(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    _drain(kmv_distinct_stream(events), table_name, "update")


def kmv_overlap_stream(
    events: DataFrame, ref_sketch: DataFrame, k: int = KMV_K
) -> DataFrame:
    """Streaming corpus-overlap monitor (r14, VERDICT r13 Next #8):
    per-group RUNNING Jaccard + directional containment of the stream
    against a STATIC reference sketch — the decontamination question
    asked continuously ("how much of the benchmark has today's crawl
    covered so far?"), composing the r13 overlap algebra
    (`functions/sketch.py::kmv_jaccard` / ``kmv_containment``) with
    the streaming sketch state of :func:`kmv_distinct_stream`.

    ``ref_sketch`` is a k-row sketch frame (column ``u``, e.g. from
    ``kmv_sketch`` on the reference corpus, group column dropped;
    a carried ``k`` column is validated against ``k``). It is
    COLLECTED once at plan-build time — ≤ k longs, the same bounded
    control read the batch overlap ships between jobs — and rides to
    every state task as plain Python constants; the stream side's
    state stays the k smallest distinct md5-hashes per group. Each
    microbatch re-derives the overlap row from the merged union
    sample exactly as the batch algebra does: union = k smallest of
    (state ∪ ref), jaccard = |both|/|union sample| (4-dp floor),
    est_union via the shared estimator, est_intersection =
    J × est_union, per-side estimates from each sketch alone, both
    containment directions clamped to [0, 1] before quantization
    (ADVICE r13) — every step float64-for-float64 the batch
    expressions, so after draining a bounded source the final state's
    row equals batch ``kmv_jaccard`` + ``kmv_containment`` on the
    same frames EXACTLY (pytest-pinned:
    tests/test_streaming_stateful.py::test_kmv_overlap_stream_matches_batch).

    Scale shape: state is ≤ k longs per group (the sketch bound —
    overlap adds ZERO state beyond the distinct-count stream's), the
    reference is ≤ k longs broadcast by closure, and each microbatch's
    overlap math is O(k log k) per group. Output (update mode): one
    row per (microbatch, group) with the full overlap surface +
    rows_seen (monotone — the final state is the max-rows_seen row)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions import text as X

    ref_rows = ref_sketch.select(
        *(["u", "k"] if "k" in ref_sketch.columns else ["u"])
    ).collect()
    for r in ref_rows:
        if "k" in r.asDict() and int(r["k"]) != int(k):
            raise ValueError(
                f"kmv_overlap_stream(k={k}) does not match the reference "
                f"sketch's carried build-time k={int(r['k'])}"
            )
    ref = sorted({int(r["u"]) for r in ref_rows})[:k]
    if not ref:
        raise ValueError("kmv_overlap_stream: empty reference sketch")
    ref_set = set(ref)
    est_b = _kmv_est(ref, k)  # the reference side's estimate, computed once

    hashed = events.where(F.col("user_id").isNotNull()).select(
        "event_type",
        X.md5_long(F.col("user_id").cast("string")).alias("u"),
    )
    out_schema = (
        "event_type STRING, sketch_size LONG, jaccard DOUBLE, "
        "est_union DOUBLE, est_intersection DOUBLE, est_a DOUBLE, "
        "est_b DOUBLE, containment_a_in_b DOUBLE, "
        "containment_b_in_a DOUBLE, rows_seen LONG"
    )
    state_schema = "hashes ARRAY<LONG>, rows_seen LONG"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            stored, seen = state.get
            hs = {int(x) for x in stored}
        else:
            hs, seen = set(), 0
        for pdf in pdfs:
            seen += len(pdf)
            hs.update(int(x) for x in pdf["u"])
            if len(hs) > 4 * k:
                hs = set(sorted(hs)[:k])
        sk = sorted(hs)[:k]
        state.update(([int(x) for x in sk], seen))
        a_set = set(sk)
        union = sorted(a_set | ref_set)[:k]
        m = len(union)
        both = sum(1 for u in union if u in a_set and u in ref_set)
        # batch kmv_jaccard, float64-for-float64
        jacc = math.floor((float(both) / float(m)) * 10000 + 0.5) / 10000
        est_union = _kmv_est(union, k)
        inter = math.floor(jacc * est_union * 10000 + 0.5) / 10000
        est_a = _kmv_est(sk, k)
        # batch kmv_containment incl. the ADVICE-r13 clamp
        c_a = (
            math.floor(
                min(1.0, inter / est_a if est_a > 0 else 0.0) * 10000 + 0.5
            )
            / 10000
        )
        c_b = (
            math.floor(
                min(1.0, inter / est_b if est_b > 0 else 0.0) * 10000 + 0.5
            )
            / 10000
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "sketch_size": [m],
                "jaccard": [jacc],
                "est_union": [est_union],
                "est_intersection": [inter],
                "est_a": [est_a],
                "est_b": [est_b],
                "containment_a_in_b": [c_a],
                "containment_b_in_a": [c_b],
                "rows_seen": [seen],
            }
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_kmv_overlap_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    ref_sketch: DataFrame,
    table_name: str = "kmv_overlap",
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain the bounded events source through the streaming overlap
    monitor (availableNow) into a memory sink — the same drain shape
    (and the same small-partition state-store sizing rationale) as
    :func:`run_kmv_distinct_stream_to_memory`."""
    events = stream_events(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    _drain(kmv_overlap_stream(events, ref_sketch), table_name, "update")


def enriched_segment_totals(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-STATIC enrichment join + aggregation: the unbounded event
    stream joins the bounded customer dim (broadcast — the dim rides to
    every task once per micro-batch, no stream-side state for the join,
    unlike the stream-stream case), then aggregates per segment. The
    canonical ingest-enrichment shape: at 100 TB/day the dim is a
    slowly-changing broadcast and the only streaming state is the
    running aggregate itself."""
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
    return (
        events.join(dim, events["user_id"] == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def run_enriched_totals_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "enriched_totals"
) -> None:
    """Drain the bounded events source through the stream-static join
    into a complete-mode memory sink (availableNow backfill)."""
    from ..catalog import load_table

    agg = enriched_segment_totals(
        stream_events(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )
    _drain(agg, table_name, "complete")


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The shared batch/streaming session aggregation: per-user
    inactivity-gap sessions with event counts and value sums — the same
    output columns as the registered batch ``session_windows`` query.
    Works unchanged on a batch frame or a watermarked stream;
    F.session_window keeps one open-session state row per active user
    under streaming, merged/closed as the watermark advances."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def run_session_windows_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "session_events",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> None:
    """Drain the bounded events source through the STREAMING session
    window (availableNow, append mode). Append emits a session exactly
    once, when the watermark passes its end — so the drained table holds
    precisely the sessions that CLOSED before the terminal watermark
    (max event time − watermark); per-user sessions still open at end of
    input stay in state and are never emitted. The stream≡batch contract
    test mirrors that closure predicate on the batch twin."""
    agg = session_counts(stream_events(spark, sf_dir, watermark=watermark), gap)
    _drain(agg, table_name)


def run_incident_counts_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "incident_counts_stream",
    band_us: int = 600_000_000,
) -> None:
    """STREAM-STATIC banded interval join — the streaming twin of the
    batch ``incident_event_counts`` query (operators/rangejoin.py):
    live events counted into a static table of incident windows.

    The static side (incident windows derived from error events) is
    exploded to its time bands ONCE at plan time; each streaming
    micro-batch equi-joins on the band key (stream-static joins are
    STATELESS — no watermark state, the static side behaves like a
    broadcast dim), then refines with the exact lo<=t<hi predicate.
    The aggregation keyed by incident_id runs in complete mode here
    (fixture-scale memory sink); a production sink would use the
    foreachBatch upsert. Same shape at 100 TB: the band explode keeps
    the static side ≤2 rows per incident, and no micro-batch ever
    nested-loops against the incident table."""
    ev_batch = read_parquet(spark, f"{sf_dir}/events.parquet")
    inc = (
        ev_batch.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("incident_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("lo"),
        )
        .withColumn("hi", F.col("lo") + F.lit(band_us))
        .withColumn(
            "_band",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / F.lit(band_us)),
                    F.floor((F.col("hi") - F.lit(1)) / F.lit(band_us)),
                )
            ),
        )
    )
    stream = stream_events(spark, sf_dir).select(
        F.unix_micros("ts").alias("tus"), "value"
    ).withColumn("_band", F.floor(F.col("tus") / F.lit(band_us)))
    joined = (
        stream.join(inc, "_band")
        .where((F.col("tus") >= F.col("lo")) & (F.col("tus") < F.col("hi")))
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    _drain(joined, table_name, "complete")


def followup_pairs_outer(left: DataFrame, right: DataFrame) -> DataFrame:
    """LEFT-OUTER stream-stream join body: every event, paired with
    the same user's follow-ups in the next 10 minutes — or a NULL
    row if none arrive. Outer stream-stream joins are semantically
    deeper than inner: the engine can only declare "no match will
    ever come" once the watermark passes the event's whole interval,
    so null rows are emitted LATE, at state eviction — which is why
    both sides' watermarks and the time-interval bound are mandatory
    here (Spark rejects an unbounded outer stream-stream join
    outright). Works identically on batch frames (the equivalence
    oracle in tests)."""
    return _followup_join(left, right, "left_outer")


def run_followup_outer_join_stream_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "followups_outer"
) -> None:
    """Left-outer stream-stream join drained through availableNow:
    matched pairs emit when found; null rows for match-less events
    emit when the watermark proves no partner can still arrive."""
    left = stream_events(spark, sf_dir, watermark="30 minutes")
    right = stream_events(spark, sf_dir, watermark="30 minutes")
    _drain(followup_pairs_outer(left, right), table_name)
