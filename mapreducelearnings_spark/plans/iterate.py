"""Generic fixpoint runner — the driver-side loop Catalyst does not give
us (SURVEY.md §4 "Things Catalyst does NOT give us", item 1).

The reference's iterative jobs either grow one giant lineage/plan per
iteration (PageRankDataSet/src/main/scala/wc/FollowerCount.scala:63-73 —
10 iterations compose one unbounded plan) or pass state between
iterations through the file system
(K-means/src/main/java/wc/CountFollowers.java:177-200). This runner
replaces both with persist + periodic ``localCheckpoint`` discipline:

- every iteration's state is persisted and loaded by the next check or
  checkpoint job, so later iterations read cached partitions instead of
  recomputing the chain; no cache is released before its successor is
  loaded;
- every ``checkpoint_every`` iterations the lineage is truncated, so the
  logical plan stays O(checkpoint_every) deep no matter how many
  iterations run — at 100 TB an unbounded plan is a driver OOM and an
  optimizer blow-up, not a style issue.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    max_iter: int = 10,
    checkpoint_every: int = 4,
    check_every: int = 1,
) -> DataFrame:
    """Run ``step`` until ``converged`` or ``max_iter``.

    ``step(state, i)`` returns the next state; ``converged(old, new)``
    (optional) may run Spark actions (e.g. a diff-count join,
    SingleSourceShortestPathRDD/.../FollowerCount.scala:42-44). It is
    evaluated after every ``check_every``-th step, but NEVER after the
    final iteration: the loop ends there regardless, so a diff-count job
    would be pure waste. A side-effecting ``converged`` therefore misses
    the last iteration.

    ``check_every`` (r14, guide §1.2 "per-task work" → fewer control
    jobs): evaluate ``converged`` only every N-th iteration. Correct
    for MONOTONE fixpoint loops (min-relax SSSP, label propagation):
    once converged the state is stable, so extra steps are no-ops and
    the fixpoint returned is identical — the loop just trades ≤ N−1
    wasted (cheap) steps against halving the convergence-check jobs,
    which on small-state graphs are pure job-scheduling overhead.
    Callers whose ``converged`` has side effects or whose step is not
    idempotent at the fixpoint must keep the default 1.

    Every state is persisted; the unchecked, uncheckpointed ones stay
    lazy and are materialized by the next check or checkpoint job, which
    caches the whole pending chain at once. A state's cache is released
    only after that job has run: unpersisting a parent whose child is
    still an unloaded lazy persist makes Spark re-plan the child without
    the parent's cache, and the next action recomputes the chain back to
    the last materialized state. When ``max_iter`` ends on such a lazy
    step, one count job loads it before its ancestors are released.
    """
    state = state.persist(StorageLevel.MEMORY_AND_DISK)
    pending = [state]  # persisted states whose successor is not loaded yet
    for i in range(max_iter):
        new = step(state, i)
        checkpoint_now = checkpoint_every and (i + 1) % checkpoint_every == 0
        if checkpoint_now:
            new = new.localCheckpoint(eager=True)  # truncate lineage (one job)
        else:
            new = new.persist(StorageLevel.MEMORY_AND_DISK)
        check_now = (
            converged is not None
            and i != max_iter - 1
            and (i + 1) % max(1, check_every) == 0
        )
        done = bool(check_now and converged(state, new))
        if checkpoint_now or check_now:
            # ``new`` is loaded now, so no lazy plan still needs its
            # ancestors' caches
            for s in pending:
                s.unpersist()
            pending = []
        pending.append(new)
        state = new
        if done:
            break
    if len(pending) > 1:
        # max_iter ran out on an unchecked, uncheckpointed step: load it
        # (the caller's action then reads the cache) before releasing
        # the ancestors its lazy plan still reads
        state.count()
        for s in pending[:-1]:
            s.unpersist()
    return state


from contextlib import contextmanager  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402


def state_width(state_rows: int) -> int:
    """Partitions for ``state_rows`` of NARROW loop state (graph ranks and
    distances, k-means values, a BPE vocabulary): ≈1 per 250k rows.
    Guide §2.1 sizes partitions to data; this sits far below the 100 MB
    guideline because loop stages also carry fixed per-stage cost that
    small widths amortize. A loop that coalesces its state to this width
    sets its parallelism in the plan: at fixture scale one partition, so
    its per-round aggregates plan with no Exchange and no session conf
    is touched (``kmeans_1d``, ``pipeline.bpe.train_merges``)."""
    return max(1, state_rows // 250_000)


def loop_width(state_rows: int) -> int:
    """Shuffle width for a distributed loop under :func:`loop_conf`:
    :func:`state_width` floored at 4 — r15 measured width 2 regressing
    the path-unroll loop (sssp_paths 1.11×) while 4 won 0.84–0.90× over
    the old constant 8 on every graph-loop bench entry — and capped so a
    huge-|V| caller that forgot to pass an explicit width still gets a
    sane plan."""
    return max(4, min(1024, state_width(state_rows)))


@contextmanager
def loop_conf(spark: SparkSession, partitions: int | None = 8):
    """Scoped tuning for the distributed graph loops: shrink shuffle
    partitions to the state size (the reference's HashPartitioner(3)
    analogue, PageRankRDD/.../FollowerCount.scala:53) and disable AQE —
    adaptive execution materializes every exchange as a separate query
    stage, a per-job overhead that buys nothing on kilobyte shuffles.
    Both confs are restored on exit; AQE remains the default everywhere
    else.

    The scope flips session-global conf that other work on the session
    shares, so it is entered only where it pays: the distributed
    branches of ``sssp``, ``pagerank_standard`` and
    ``connected_components`` above ``io.DRIVER_STATE_CAP``. Measured on
    the 50k-edge follower graph at cap −1 (4 vCPUs, with vs without the
    scope): ``sssp`` 2.3 s / 5 jobs vs 3.4 s / 37, ``pagerank_standard``
    3.5 s / 13 vs 6.3 s / 59, CC at 400k edges 4.6 s / 7 vs 5.1 s / 23.
    It was a wash for the BPE trainer (1.19–1.74 vs 1.38–1.87 s
    sequential, 0.70–0.89 vs 0.73–0.97 s batched), which now sizes its
    loop in the plan, and for the ``sssp_with_paths`` unroll (0.76 vs
    0.70 s under the cap, 25.6 vs 24.8 s above), which runs at the
    session's width. ``tests/test_conf_writes.py`` holds every
    conf-writing site to an allow-list.
    """
    if partitions is None:
        yield
        return
    keys = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _pin(df: DataFrame) -> DataFrame:
    """Persist a small reused subtree (lazy; computed at most once per
    action, reused by every plan branch that references it). Catalyst
    shares no common subtree across plan branches, so a derived frame
    read by several branches — the ANN cell assignment, a dedup
    signature table, a curation gate — is otherwise recomputed once
    per branch (r14: up to 4× per ANN query, 10 parquet scans of the
    embeddings table in one plan).

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

    (The on-disk ANN ingest paths — ann_index_write/append — persist
    scoped frames and DO release them in try/finally, because there the
    consumer is the write inside the same call.) MEMORY_AND_DISK keeps
    an evicted pin correct: overflow spills instead of silently
    recomputing a frame the plan assumed shared."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)
