"""Relational operator layer — SURVEY.md §2.1–2.7 re-expressed Spark-first.

Each function is a thin, composable builder over DataFrames. Nothing here
hand-schedules what Catalyst already optimizes: map-side partial
aggregation, predicate pushdown, column pruning, and broadcast-join
selection are all left to the optimizer (SURVEY.md §4). The builders
exist to give the reference's workload shapes (follower count, tagged
union, replicated join, top-k, …) named, tested homes.

Reference parity cites (behavior only, no code taken):
- grouped count: ReduceByKey/src/main/scala/wc/FollowersCount.scala:26-28
  (and its GroupByKey / FoldByKey / AggregateByKey twins — all four are
  the same logical query; Catalyst's HashAggregate always applies the
  partial+final split the four modules hand-compare).
- replicated (broadcast) join: RepJoin/src/main/java/wc/CountFollowers.java:31-107
- reduce-side (shuffle) join: ReduceSideJoin/src/main/java/wc/CountFollowers.java:26-90
- top-k: PageRankDataSet/src/main/scala/wc/FollowerCount.scala:76
- union + re-aggregate: PageRankRDD/src/main/scala/wc/FollowerCount.scala:66
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def follower_count(edges: DataFrame, dst_col: str = "dst") -> DataFrame:
    """Grouped count of in-edges per vertex (the flagship workload).

    One shuffle on ``dst``; HashAggregate does partial aggregation
    map-side, so shuffle volume is O(distinct keys), not O(rows) — the
    property the reference's ReduceByKey-vs-GroupByKey pair demonstrates.
    """
    return edges.groupBy(dst_col).agg(F.count(F.lit(1)).alias("cnt"))


def max_filter(edges: DataFrame, cap: int) -> DataFrame:
    """The reference's dataset down-sampling filter: keep edges whose
    endpoints are both <= cap (RepJoin/.../CountFollowers.java:55,90).
    Declarative, so it pushes to the parquet scan."""
    return edges.where((F.col("src") <= cap) & (F.col("dst") <= cap))


def broadcast_join(
    big: DataFrame, small: DataFrame, on: Column | Sequence[str], how: str = "inner"
) -> DataFrame:
    """Replicated join: build side broadcast to every task, probe side
    streamed — zero shuffle of the big side. The Spark-native form of
    RepJoin's distributed-cache hash map
    (RepJoin/.../CountFollowers.java:31-77)."""
    return big.join(F.broadcast(small), on, how)


def two_hop_paths(edges: DataFrame) -> DataFrame:
    """Self-join on the middle vertex → (src, dst, n_paths) for paths of
    length 2 (triangle step 1, ReduceSideJoin/.../CountFollowers.java:79-89)."""
    a = edges.alias("a")
    b = edges.alias("b")
    return (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .groupBy(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


def union_reaggregate(
    left: DataFrame, right: DataFrame, key: str, value: str
) -> DataFrame:
    """The reference's outer-join-by-union idiom: bag-union two keyed
    datasets then re-sum per key, preserving keys present in only one
    side (PageRankRDD/.../FollowerCount.scala:66). ``unionByName`` —
    positional union is fragile."""
    return (
        left.select(key, value)
        .unionByName(right.select(key, value))
        .groupBy(key)
        .agg(F.sum(value).alias(value))
    )


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Sort + limit. Spark plans TakeOrderedAndProject: per-partition
    heap of k, then a k-row merge on the driver — no global sort even at
    100 TB. Callers must include a unique tiebreaker column for
    deterministic results (PageRankDataSet/.../FollowerCount.scala:76)."""
    return df.orderBy(*order).limit(k)


def word_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenize → explode → grouped count: the reference's follower
    count generalized to tokens (flatMap analogue,
    SingleSourceShortestPathRDD/.../FollowerCount.scala:39)."""
    tokens = docs.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return tokens.groupBy(F.lower(F.col("token")).alias("token")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def ordered_group_concat(
    df: DataFrame,
    key_col: str,
    sort_cols: Sequence[str],
    payload_col: str,
    out_col: str = "ordered_values",
    sep: str = ",",
) -> DataFrame:
    """MapReduce SECONDARY SORT, declaratively: per ``key_col``, the
    ``payload_col`` values concatenated in ``sort_cols`` order. MR
    achieves this with a composite shuffle key + grouping comparator;
    here it is collect_list of (sort-key..., payload) structs +
    array_sort + transform inside ONE ObjectHashAggregate — no per-key
    sort job. ``sort_cols`` must be a total order (add a unique
    tiebreaker) or the concatenation is nondeterministic. For groups
    too large to collect_list, the RDD
    ``repartitionAndSortWithinPartitions`` twin (parity-tested in
    tests/test_sources_and_parity.py) streams values in order with
    O(1) memory per group."""
    fields = list(sort_cols)
    if payload_col not in fields:
        fields.append(payload_col)
    sorted_structs = F.array_sort(F.collect_list(F.struct(*fields)))
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.array_join(
            F.transform(
                sorted_structs, lambda x: x[payload_col].cast("string")
            ),
            sep,
        ).alias(out_col),
    )
