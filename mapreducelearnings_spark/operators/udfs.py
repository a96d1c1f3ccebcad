"""UDF / UDAF / UDTF surface (SURVEY.md §2.9) — the escape hatches for
logic the built-in functions can't express, always Arrow-batched
(pandas_udf / mapInPandas), never row-at-a-time Python.

The reference's equivalents are its Mapper/Reducer bodies and Scala
closures (e.g. the SSSP neighbor-emission flatMap,
SingleSourceShortestPathRDD/src/main/scala/wc/FollowerCount.scala:62-76,
and the k-means ClusterReducer UDAF shape,
K-means/src/main/java/wc/CountFollowers.java:115-143). Our engine keeps
ALL hot paths in built-in expressions; these exist to prove the surface
and to host genuinely custom logic (multimodal decode lives on the same
mechanism, pipeline/multimodal.py).

UDFs are constructed lazily — pandas_udf parses its return type through
the active SparkSession, so module-import must stay session-free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _weighted_value_udf():
    def weighted_value(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    return F.pandas_udf(weighted_value, "double")


def _weighted_mean_udaf():
    def weighted_mean(value: pd.Series, weight: pd.Series) -> float:
        ws = float(weight.sum())
        return float((value * weight).sum() / ws) if ws else float("nan")

    return F.pandas_udf(weighted_mean, "double")


def discounted_prices(lineitem: DataFrame) -> DataFrame:
    """Scalar Pandas-UDF demo query (vectorized, Arrow-batched):
    discounted price per row. Deliberately builtin-expressible so the
    UDF machinery itself is oracle-checked."""
    udf = _weighted_value_udf()
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.round(udf(F.col("l_extendedprice"), F.col("l_discount")), 4).alias(
            "disc_price"
        ),
    )


def weighted_avg_quantity(lineitem: DataFrame) -> DataFrame:
    """Grouped-agg Pandas UDAF demo query: per-supplier price-weighted
    mean quantity — the aggregateByKey / ClusterReducer custom-reduction
    shape (AggregateByKey/src/main/scala/wc/FollowersCount.scala:27)."""
    udaf = _weighted_mean_udaf()
    return lineitem.groupBy("l_suppkey").agg(
        F.round(udaf(F.col("l_quantity"), F.col("l_extendedprice")), 4).alias(
            "w_avg_qty"
        )
    )
