"""SparkSession factory tuned for scale-out execution.

Design intent (100 TB / 1000-executor cluster, tested on local[32]):

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast-join demotion replace every manual
  optimization the reference hand-codes (map-side combine, replicated
  join selection; see SURVEY.md §4).
- **UTC session timezone** — parquet timestamps written without a zone
  must mean the same instant in Spark and in the DuckDB oracle.
- **Arrow enabled** — any Pandas-UDF path (multimodal decode, custom
  aggregation surface) moves batches, not rows.
- ``spark.sql.shuffle.partitions`` defaults to 2× the local cores; on a
  real cluster this should be set to 2-3× total executor cores (AQE
  coalesces downward, so erring high is safe).

Reference counterpart: every module builds its own SparkConf /
SparkContext ad hoc (e.g. ReduceByKey/src/main/scala/wc/FollowersCount.scala:16-17,
PageRankDataSet/src/main/scala/wc/FollowerCount.scala:22-24); this is the
single engine-wide replacement.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "mapreducelearnings-spark"
#: the directory that holds this package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_T = TypeVar("_T")


def _env(name: str, parse: Callable[[str], _T], default: _T) -> _T:
    """The one reader of the package's ``SPARK_GRAFT_*`` knobs: an unset
    or malformed value (``parse`` raises ValueError) yields ``default``
    instead of failing the session or the query that reads it."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return parse(raw.strip())
    except ValueError:
        return default


def _positive_int(raw: str) -> int:
    value = int(raw)
    if value < 1:
        raise ValueError(raw)
    return value


def _jvm_size(raw: str) -> str:
    """A JVM memory string as ``spark.driver.memory`` takes it (``512m``,
    ``16g``; a bare number is MiB)."""
    if not re.fullmatch(r"[1-9][0-9]*(?:[kmgtp]b?|b)?", raw, re.IGNORECASE):
        raise ValueError(raw)
    return raw


def default_cpus() -> int:
    return _env("SPARK_GRAFT_CPUS", _positive_int, os.cpu_count() or 4)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    All engine code paths obtain their session here so that the scale
    configuration is applied uniformly.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); read as long nanos and
        # convert in the catalog (Spark has no nanos timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- adaptive execution: the engine's answer to hand-tuning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        # --- join strategy: DEFAULTS KEPT (r14, examined and rejected) ---
        # preferSortMergeJoin=false + maxShuffledHashJoinLocalMapThreshold
        # looked like a 0.73–0.95× win on the 9 SMJ-bearing queries in a
        # naive alternating A/B, but the effect REVERSED with the run
        # order (second position always wins ~1.2× — shared JIT +
        # OS page cache), and the executed plans showed the confs never
        # actually produced a ShuffledHashJoin here (the remaining SMJs
        # are same-size self-joins, which fail the planner's muchSmaller
        # condition). A conf that changes no plan is noise; defaults kept.
        # --- AQE under cached plans: DEFAULT KEPT (re-examined r15) ---
        # canChangeCachedPlanOutputPartitioning=true (VERDICT r14 Next
        # #5 second attempt, order-balanced ABBA over the pin-bearing
        # queries): trained 0.93×, nearest/similarity/filtered wash
        # (0.98–1.04×), curation 1.10× WORSE, residual rung 1.48× WORSE
        # (the cached assignment coalesces to ~1 partition and the ADC
        # scan inherits it — reproducing r14). The r14 0.75–0.90× wins
        # did not reproduce, so there is nothing left for a guarding
        # repartition to protect; net-negative, default kept.
        # --- Python interop is Arrow-batched, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode driver is also the executor; give it room ---
        .config("spark.driver.memory", _env("SPARK_GRAFT_DRIVER_MEM", _jvm_size, "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    conf = dict(extra_conf or {})
    # Python workers import this package by name (UDFs, applyInPandas,
    # foreachBatch bodies). A caller that put the checkout on sys.path and
    # runs from another directory would leave them unable to, so the
    # package's directory goes on their PYTHONPATH ahead of the caller's.
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (_PACKAGE_ROOT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
