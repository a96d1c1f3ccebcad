"""Named query registry: every SURVEY.md §2 operator as a (Spark, oracle)
pair.

Each :class:`QuerySpec` binds a PySpark implementation ``(spark, sf_dir)
-> DataFrame`` to the ANSI-SQL string a DuckDB oracle runs on the same
parquet tables. The driver compares row count + schema + order-insensitive
value hash, sorting columns by name — so every computed column is aliased
identically on both sides, doubles produced by accumulation are rounded
on both sides (kills summation-order ulp noise), and every LIMIT carries
a unique tiebreaker.

Oracle-free specs (``oracle=None``) are genuinely non-SQL-expressible
(engine-specific hashing, stateful streaming); the driver records a
rows-only check for those.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import (
    FOLLOWER_EDGES_SQL,
    GRAPH_EDGES_SQL,
    follower_edges,
    graph_edges,
    load_table,
)
from .operators import graph as G
from .operators import kmeans as KM
from .operators import relational as R

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Runtime SQL confs every query needs regardless of who built the
# SparkSession (the driver passes its own). Both are runtime-settable.
_REQUIRED_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS); without this the scan throws
    # PARQUET_TYPE_ILLEGAL. The catalog converts the long nanos back.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet NTZ timestamps must mean the same instant as DuckDB's naive
    # timestamps (oracle parity), so pin the session zone.
    "spark.sql.session.timeZone": "UTC",
}


def _ensure_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: SparkQuery) -> SparkQuery:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(name=name, spark=wrapped, oracle=oracle, doc=doc)
        return fn

    return deco


# ===========================================================================
# §2.3 Aggregations
# ===========================================================================


@register(
    "follower_count",
    f"SELECT dst, COUNT(*) AS cnt FROM ({FOLLOWER_EDGES_SQL}) GROUP BY dst",
    doc="Flagship grouped count (ReduceByKey/.../FollowersCount.scala:26-28).",
)
def q_follower_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.follower_count(follower_edges(spark, sf_dir))


@register(
    "pricing_summary",
    """
    SELECT
      l_returnflag, l_linestatus,
      ROUND(SUM(l_quantity), 4) AS sum_qty,
      ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      ROUND(AVG(l_quantity), 4) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Multi-aggregate grouped scan, filter pushed into the scan "
    "(K-means/.../CountFollowers.java:56-63).",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "grouped_sum",
    """
    SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS total_spent,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    doc="Grouped sum (PageRankDataSet/.../FollowerCount.scala:64).",
)
def q_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "grouped_min_max",
    """
    SELECT l_suppkey, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="Grouped min/max "
    "(SingleSourceShortestPathDataSet/.../FollowerCount.scala:46; "
    "SingleSourceShortestPathRDD:40).",
)
def q_grouped_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.min("l_quantity").alias("min_qty"), F.max("l_quantity").alias("max_qty")
    )


@register(
    "global_agg",
    """
    SELECT MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(SUM(POW(l_quantity - 25.0, 2)), 2) AS sse,
           COUNT(*) AS cnt
    FROM lineitem
    """,
    doc="One-pass global multi-aggregate replacing the reference's "
    "MIN/MAX/SSE counters (K-means/.../CountFollowers.java:56-63,133-140).",
)
def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_q"),
        F.max("l_quantity").alias("max_q"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum(F.pow(F.col("l_quantity") - 25.0, F.lit(2))), 2).alias("sse"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "grouped_collect",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(DISTINCT l_suppkey)), ',') AS suppliers
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="Adjacency lists as sorted comma-joined strings "
    "(SingleSourceShortestPathDataSet/.../FollowerCount.scala:30).",
)
def q_grouped_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("l_suppkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("suppliers")
    )


# ===========================================================================
# §2.2 Projections / filters / predicates  +  §2.7 scalar functions
# ===========================================================================


@register(
    "max_filter",
    f"SELECT src, dst FROM ({FOLLOWER_EDGES_SQL}) WHERE src <= 1000 AND dst <= 1000",
    doc="Down-sampling by id cap, pushed to the scan "
    "(RepJoin/.../CountFollowers.java:55,90).",
)
def q_max_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.max_filter(follower_edges(spark, sf_dir), 1000)


@register(
    "case_when",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_class
    FROM orders
    """,
    doc="Conditional expression (when/otherwise init at "
    "SingleSourceShortestPathDataSet/.../FollowerCount.scala:33).",
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
    )


@register(
    "scalar_gauntlet",
    """
    SELECT p_partkey,
           concat_ws('-', p_brand, p_type) AS brand_type,
           string_split(p_type, ' ')[1] AS type_head,
           ROUND(ABS(p_retailprice - 1000.0), 4) AS abs_diff,
           ROUND(POW(p_size, 2), 1) AS size_sq,
           LEAST(p_size, 25) AS lsize,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor
    FROM part
    """,
    doc="Scalar functions split/concat_ws/abs/pow/least/cast (SURVEY.md "
    "§2.7).",
)
def q_scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.round(F.abs(F.col("p_retailprice") - 1000.0), 4).alias("abs_diff"),
        F.round(F.pow(F.col("p_size"), F.lit(2)), 1).alias("size_sq"),
        F.least(F.col("p_size"), F.lit(25)).alias("lsize"),
        F.floor(F.col("p_retailprice")).cast("long").alias("price_floor"),
    )


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="Distinct value pairs (RepJoin/.../CountFollowers.java:59-61).",
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "explode_tokens",
    r"""
    SELECT lower(tok) AS token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY lower(tok)
    """,
    doc="Tokenize, explode and count: the flatMap analogue "
    "(SingleSourceShortestPathRDD/.../FollowerCount.scala:39).",
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return R.word_count(docs)


# ===========================================================================
# §2.4 Joins
# ===========================================================================


@register(
    "inner_join",
    """
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="Shuffle equi-join (PageRankRDD/.../FollowerCount.scala:59; "
    "ReduceSideJoin/.../CountFollowers.java:26-90).",
)
def q_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "right_outer_join",
    """
    SELECT c_custkey, c_name, o_orderkey
    FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
    """,
    doc="Right-outer join keeping row-less keys "
    "(SingleSourceShortestPathRDD/.../FollowerCount.scala:38).",
)
def q_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right_outer").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@register(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
    doc="Left-semi existence probe "
    "(ReduceSideJoin/.../CountFollowers.java:92-164).",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "broadcast_join",
    """
    SELECT c_custkey, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    doc="Broadcast dimension join "
    "(RepJoin/.../CountFollowers.java:31-77,146).",
)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return R.broadcast_join(
        R.broadcast_join(c, n, c.c_nationkey == n.n_nationkey),
        r,
        F.col("n_regionkey") == r.r_regionkey,
    ).select("c_custkey", "n_name", "r_name")


@register(
    "two_hop_paths",
    f"""
    WITH e AS ({GRAPH_EDGES_SQL})
    SELECT a.src AS src, b.dst AS dst, COUNT(*) AS n_paths
    FROM e a JOIN e b ON a.dst = b.src
    GROUP BY a.src, b.dst
    """,
    doc="Two-hop self-join paths "
    "(ReduceSideJoin/.../CountFollowers.java:79-89).",
)
def q_two_hop_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.two_hop_paths(graph_edges(spark, sf_dir))


# ===========================================================================
# §2.5 Sorts / top-k   §2.6 Set operations
# ===========================================================================


@register(
    "top_k",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    doc="Global top-k with a unique tiebreak "
    "(PageRankDataSet/.../FollowerCount.scala:76).",
)
def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return R.top_k(
        o.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        100,
    )


@register(
    "union_reagg",
    """
    SELECT k, ROUND(SUM(v), 4) AS v FROM (
        SELECT o_custkey AS k, o_totalprice AS v FROM orders
        UNION ALL
        SELECT c_custkey AS k, c_acctbal AS v FROM customer
    ) GROUP BY k
    """,
    doc="Union then re-aggregate, the outer-join-by-union idiom "
    "(PageRankRDD/.../FollowerCount.scala:66).",
)
def q_union_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    left = o.select(F.col("o_custkey").alias("k"), F.col("o_totalprice").alias("v"))
    right = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v"))
    out = R.union_reaggregate(left, right, "k", "v")
    return out.select("k", F.round("v", 4).alias("v"))


# ===========================================================================
# §2.10 Windowed event aggregation (batch twin of the streaming surface)
# ===========================================================================


@register(
    "window_events",
    """
    SELECT CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling 10-minute event windows, start as epoch seconds (SURVEY.md "
    "§2.10).",
)
def q_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
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


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_counts",
    f"""
    SELECT user_id,
           {", ".join(
               f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
               f" AS {t}" for t in _EVENT_TYPES
           )}
    FROM events GROUP BY user_id
    """,
    doc="Per-user event counts pivoted over an explicit event-type list (one "
    "pass, no domain scan).",
)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                for t in _EVENT_TYPES
            ],
        )
    )


@register(
    "unpivot_event_counts",
    f"""
    WITH p AS (SELECT user_id,
               {", ".join(
                   f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
                   f" AS {t}" for t in _EVENT_TYPES
               )}
               FROM events GROUP BY user_id)
    SELECT user_id, event_type, cnt FROM p
    UNPIVOT (cnt FOR event_type IN ({", ".join(_EVENT_TYPES)}))
    """,
    doc="The pivoted counts melted back to (user_id, event_type, cnt) rows, "
    "zero cells dropped.",
)
def q_unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_pivot_event_counts(spark, sf_dir)
    return wide.unpivot(
        ["user_id"], _EVENT_TYPES, "event_type", "cnt"
    ).select("user_id", "event_type", F.col("cnt").cast("long").alias("cnt"))


@register(
    "top_supplier",
    """
    WITH rev AS (SELECT l_suppkey AS suppkey,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
                 FROM lineitem GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 shape: suppliers whose 2-dp revenue equals the "
    "scalar-subquery max.",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        sup.join(rev, sup.s_suppkey == rev.suppkey)
        .join(F.broadcast(mx), F.col("total_rev") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@register(
    "window_function_gauntlet",
    """
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(event_id) OVER w AS first_event,
           CAST(rank() OVER (PARTITION BY user_id
                             ORDER BY value DESC, event_id ASC) AS BIGINT) AS value_rank,
           CAST(ntile(4) OVER w AS BIGINT) AS time_quartile,
           FLOOR(cume_dist() OVER (PARTITION BY user_id
                                   ORDER BY value ASC, event_id ASC)
                 * 1000000 + 0.5) / 1000000 AS value_cume
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    doc="lag/lead/first_value by time and rank/ntile/cume_dist by value per "
    "user, event_id tiebreak.",
)
def q_window_function_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wv = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    wc = Window.partitionBy("user_id").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(wt).alias("prev_value"),
        F.lead("value").over(wt).alias("next_value"),
        F.first("event_id").over(wt).alias("first_event"),
        F.rank().over(wv).cast("long").alias("value_rank"),
        F.ntile(4).over(wt).cast("long").alias("time_quartile"),
        # IEEE floor form, not ROUND: cume_dist is k/n, which lands on
        # exact 6-dp half-ties at scale (k/n = 41/640 at the 10x sweep)
        # where Spark rounds half-up and DuckDB half-to-even — the same
        # divergence class the 3x sweep caught in bigram_lm_scores (r6).
        (F.floor(F.cume_dist().over(wc) * 1000000 + F.lit(0.5)) / 1000000)
        .alias("value_cume"),
    )


@register(
    "salted_join",
    """
    SELECT o_orderkey, o_custkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="Two-sided salted join over 16 salts; result equals the plain join.",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return SK.salted_join(
        orders, customer, "o_custkey", "c_custkey"
    ).select("o_orderkey", "o_custkey", "c_name")


@register(
    "sliding_windows",
    """
    WITH offs(o) AS (VALUES (0), (300))
    SELECT CAST(FLOOR(epoch(ts) / 300) * 300 - o AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
    doc="Sliding 10-minute windows every 5 minutes over events.",
)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
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


@register(
    "top_events_per_user",
    """
    SELECT user_id, event_id, value, rank
    FROM (SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id ASC) AS rank
          FROM events)
    WHERE rank <= 3
    """,
    doc="Top-3 events by value per user, unique-key tiebreak.",
)
def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= 3)
    )


# ===========================================================================
# §2.8 Iterative / graph algorithms — oracles are the same computation
# unrolled into ANSI SQL (chain generation via range(), PageRank as 10
# chained CTEs, SSSP as a bounded recursive CTE, k-means as unrolled
# assign/update rounds), so DuckDB independently recomputes the fixpoint.
# ===========================================================================

_PR_K = 100
_PR_ITERS = 10


def _pagerank_oracle(
    k: int, iterations: int, final_select: str, credit_dummy: bool = False
) -> str:
    n = k * k
    parts = [
        f"WITH verts AS (SELECT CAST(range AS BIGINT) AS v FROM range(1, {n + 1})),",
        f"edges AS (SELECT v AS src, CASE WHEN v % {k} = 0 THEN 0 ELSE v + 1 END AS dst FROM verts),",
        f"r0 AS (SELECT v, 1.0/{n} AS r FROM verts UNION ALL SELECT 0, 0.0),",
    ]
    # MATERIALIZED: each level is referenced 2-3× by the next; DuckDB
    # would otherwise inline CTEs and the plan grows exponentially.
    for i in range(1, iterations + 1):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e.dst AS v, SUM(r.r) AS m FROM edges e "
            f"JOIN r{i - 1} r ON e.src = r.v GROUP BY e.dst),"
        )
        share = f"(SELECT COALESCE(MAX(m), 0.0) FROM t{i} WHERE v = 0) / {n}.0"
        if credit_dummy:
            # PageRankDataSet quirk: + binds OUTSIDE the CASE, so vertex 0
            # is zeroed and then credited delta/N like every other vertex
            rank_expr = (
                f"CASE WHEN b.v = 0 THEN 0.0 ELSE COALESCE(t{i}.m, 0.0) END "
                f"+ {share}"
            )
        else:
            rank_expr = (
                f"CASE WHEN b.v = 0 THEN 0.0 ELSE "
                f"COALESCE(t{i}.m, 0.0) + {share} END"
            )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT b.v AS v, {rank_expr} AS r "
            f"FROM r{i - 1} b LEFT JOIN t{i} ON b.v = t{i}.v),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(final_select.format(last=f"r{iterations}"))
    return "\n".join(parts)


@register(
    "pagerank_idfilter",
    _pagerank_oracle(
        _PR_K,
        _PR_ITERS,
        "SELECT v AS vertex, ROUND(r, 9) AS rank FROM {last} WHERE v <= 100",
    ),
    doc="PageRank on the k=100 chain, 10 iterations, ids <= 100 "
    "(PageRankRDD/.../FollowerCount.scala:72-73).",
)
def q_pagerank_idfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = G.pagerank_chain(spark, k=_PR_K, iterations=_PR_ITERS)
    return ranks.where(F.col("vertex") <= 100).select(
        "vertex", F.round("rank", 9).alias("rank")
    )


@register(
    "pagerank_topk",
    _pagerank_oracle(
        _PR_K,
        _PR_ITERS,
        "SELECT v AS vertex, ROUND(r, 9) AS rank FROM {last} "
        "ORDER BY ROUND(r, 9) DESC, v ASC LIMIT 100",
    ),
    doc="PageRank top-100 by rank, vertex-id tiebreak "
    "(PageRankDataSet/.../FollowerCount.scala:76).",
)
def q_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = G.pagerank_chain(spark, k=_PR_K, iterations=_PR_ITERS)
    return R.top_k(
        ranks.select("vertex", F.round("rank", 9).alias("rank")),
        [F.desc("rank"), F.asc("vertex")],
        100,
    )


@register(
    "pagerank_df_quirk",
    _pagerank_oracle(
        _PR_K,
        _PR_ITERS,
        "SELECT v AS vertex, ROUND(r, 9) AS rank FROM {last} "
        "ORDER BY ROUND(r, 9) DESC, v ASC LIMIT 100",
        credit_dummy=True,
    ),
    doc="PageRank with the DataFrame variant's precedence quirk "
    "(PageRankDataSet/.../FollowerCount.scala:70; SURVEY §4 item 2).",
)
def q_pagerank_df_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = G.pagerank_chain(
        spark, k=_PR_K, iterations=_PR_ITERS, credit_dummy=True
    )
    return R.top_k(
        ranks.select("vertex", F.round("rank", 9).alias("rank")),
        [F.desc("rank"), F.asc("vertex")],
        100,
    )


@register(
    "sssp_distances",
    f"""
    WITH RECURSIVE e AS ({GRAPH_EDGES_SQL}),
    -- no top-level UNION here: under WITH RECURSIVE, DuckDB would treat
    -- its branches as anchor/recursive and skip the distinct
    verts AS (SELECT DISTINCT v FROM
              (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
    bfs AS (
        SELECT CAST(1 AS BIGINT) AS v, 0 AS d
        UNION
        SELECT e.dst AS v, b.d + 1 AS d FROM bfs b JOIN e ON e.src = b.v
        WHERE b.d < 128
    ),
    md AS (SELECT v, MIN(d) AS d FROM bfs GROUP BY v)
    SELECT verts.v AS vertex, CAST(md.d AS DOUBLE) AS distance
    FROM verts LEFT JOIN md ON verts.v = md.v
    """,
    doc="SSSP hop distances from vertex 1, unreachable as NULL "
    "(SingleSourceShortestPathRDD/.../FollowerCount.scala:36-51).",
)
def q_sssp_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = G.sssp(spark, graph_edges(spark, sf_dir), source=1)
    return dist.select(
        "vertex",
        F.when(F.col("dist") == G.INF, F.lit(None).cast("double"))
        .otherwise(F.col("dist"))
        .alias("distance"),
    )


_TRIANGLE_ORACLE = f"""
    WITH e AS ({GRAPH_EDGES_SQL})
    SELECT COUNT(*) // 3 AS triangles
    FROM e a JOIN e b ON a.dst = b.src JOIN e c
      ON b.dst = c.src AND c.dst = a.src
"""


@register(
    "triangle_count",
    _TRIANGLE_ORACLE,
    doc="Triangle count, shuffle-join plan "
    "(ReduceSideJoin/.../CountFollowers.java:79-164; RepJoin:119).",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.triangle_count(graph_edges(spark, sf_dir), broadcast_probe=False)


@register(
    "triangle_count_broadcast",
    _TRIANGLE_ORACLE,
    doc="Triangle count, broadcast-probe plan above io.DRIVER_STATE_CAP "
    "(RepJoin/.../CountFollowers.java:92-122).",
)
def q_triangle_count_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.triangle_count(graph_edges(spark, sf_dir), broadcast_probe=True)


@register(
    "triangle_count_ordered",
    _TRIANGLE_ORACLE,
    doc="Triangle count, degree-ordered anchoring (SURVEY.md §5 "
    "cross-implementation oracle).",
)
def q_triangle_count_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.triangle_count_ordered(graph_edges(spark, sf_dir))


_KM_K = 4
_KM_ROUNDS = 5


def _kmeans_oracle(k: int, rounds: int) -> str:
    parts = [
        "WITH pts AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS w FROM "
        "(SELECT o_totalprice AS x FROM orders) GROUP BY x),",
        f"c0 AS (SELECT CAST(j AS BIGINT) AS cid, (SELECT MAX(x) FROM pts) / {k}.0 * j AS c "
        f"FROM range(1, {k + 1}) t(j)),",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"a{i} AS (SELECT p.x, p.w, "
            f"(MIN({{'d': abs(p.x - c.c), 'cid': c.cid}})).cid AS cid "
            f"FROM pts p CROSS JOIN c{i - 1} c GROUP BY p.x, p.w),"
        )
        parts.append(
            f"c{i} AS (SELECT cid, SUM(x * w) / SUM(w) AS c FROM a{i} GROUP BY cid),"
        )
    parts.append(
        f"afin AS (SELECT p.x, p.w, "
        f"(MIN({{'d': abs(p.x - c.c), 'cid': c.cid}})).cid AS cid "
        f"FROM pts p CROSS JOIN c{rounds} c GROUP BY p.x, p.w)"
    )
    parts.append(
        # CAST: DuckDB SUM(BIGINT) yields HUGEINT, which hash-mismatches
        # Spark's LongType (this was the round-1 kmeans_centroids red row).
        f"SELECT a.cid AS cluster_id, ROUND(c.c, 4) AS centroid, "
        f"CAST(SUM(a.w) AS BIGINT) AS n_points "
        f"FROM afin a JOIN c{rounds} c ON a.cid = c.cid "
        f"GROUP BY a.cid, c.c"
    )
    return "\n".join(parts)


@register(
    "kmeans_centroids",
    _kmeans_oracle(_KM_K, _KM_ROUNDS),
    doc="1-D k-means over o_totalprice, k=4, 5 fixed rounds "
    "(K-means/.../CountFollowers.java:172-203,224-236,272-274).",
)
def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = KM.kmeans_1d(
        orders, "o_totalprice", k=_KM_K, fixed_iterations=_KM_ROUNDS
    )
    return out.select(
        "cluster_id", F.round("centroid", 4).alias("centroid"), "n_points"
    )


# ===========================================================================
# §2.11 NEW LLM-pipeline layer: dedup, text analysis, similarity search,
# multimodal. Hashing is md5-derived in BOTH engines (bit-exact parity,
# verified in tests/test_pipeline.py), so even MinHash/SimHash/LSH results
# are fully oracle-checked — not rows-only.
# ===========================================================================

from .pipeline import bpe as BP  # noqa: E402
from .pipeline import curation as CU  # noqa: E402
from .pipeline import packing as PK  # noqa: E402
from .pipeline import retrieval as RV  # noqa: E402
from .pipeline import sampling as SA  # noqa: E402
from .pipeline import dedup as DD  # noqa: E402
from .pipeline import multimodal as MM  # noqa: E402
from .pipeline import simsearch as SS  # noqa: E402
from .pipeline import textstats as TS  # noqa: E402

# shared SQL fragments (keep in lockstep with functions/text.py)
_TOKS = "regexp_extract_all(lower(text), '[a-z]+')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
sh AS (SELECT DISTINCT doc_id,
       unnest(list_transform(range(1, GREATEST(len(ts) - 1, 1)),
              i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
       FROM toks)
"""


def _sql_stoplist(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


from .functions import text as X  # noqa: E402


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup by 128-bit content hash.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
    SELECT da AS doc_a, db AS doc_b,
           ROUND(c::DOUBLE / (x.n + y.n - c), 4) AS jaccard
    FROM inter JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
    WHERE ROUND(c::DOUBLE / (x.n + y.n - c), 4) >= 0.5
    """,
    doc="Exact n-gram Jaccard near-dup pairs at threshold 0.5; the verifier "
    "for the LSH path.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


def _minhash_perms_values() -> str:
    rows = [
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(X.MINHASH_PERMS[: DD.NUM_HASHES])
    ]
    return ", ".join(rows)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_CTE},
    perms(i, pa, pb) AS (VALUES {_minhash_perms_values()}),
    base AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
                  % {X.MINHASH_M} AS BIGINT) AS h
             FROM sh),
    mh AS (SELECT doc_id, p.i AS i, MIN((p.pa * b.h + p.pb) % {X.MINHASH_M}) AS m
           FROM base b CROSS JOIN perms p
           GROUP BY doc_id, p.i),
    bands AS (SELECT doc_id, i // {DD.ROWS_PER_BAND} AS band,
              md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS sig
              FROM mh GROUP BY doc_id, i // {DD.ROWS_PER_BAND})
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
    WHERE x.doc_id < y.doc_id
    """,
    doc="MinHash(16) + banded LSH(4x4) candidate pairs with an md5-salted "
    "hash family.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_stream_lsh",
    f"""
    WITH {_SHINGLES_CTE},
    perms(i, pa, pb) AS (VALUES {_minhash_perms_values()}),
    base AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
                  % {X.MINHASH_M} AS BIGINT) AS h
             FROM sh),
    mh AS (SELECT doc_id, p.i AS i, MIN((p.pa * b.h + p.pb) % {X.MINHASH_M}) AS m
           FROM base b CROSS JOIN perms p
           GROUP BY doc_id, p.i),
    bands AS (SELECT doc_id, i // {DD.ROWS_PER_BAND} AS band,
              md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS sig
              FROM mh GROUP BY doc_id, i // {DD.ROWS_PER_BAND})
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
    WHERE x.doc_id < y.doc_id
    """,
    doc="Banded-LSH candidate pairs under Structured Streaming; same oracle "
    "as dedup_minhash_lsh.",
)
def q_dedup_stream_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as SW

    SW.run_streaming_lsh_to_memory(spark, sf_dir, table_name="stream_lsh_pairs")
    return (
        spark.table("stream_lsh_pairs").select("doc_a", "doc_b").distinct()
    )


@register(
    "stream_enriched_totals",
    """
    SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Event stream joined to the customer dim, per-segment running totals; "
    "equals the batch join+agg.",
)
def q_stream_enriched_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as SW

    SW.run_enriched_totals_to_memory(
        spark, sf_dir, table_name="enriched_totals_reg"
    )
    return spark.table("enriched_totals_reg").select(
        "segment", "n_events", "total_value"
    )


@register(
    "simhash_fingerprints",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    th AS (SELECT doc_id,
           unnest(list_transform(ts, t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))) AS h
           FROM toks),
    bits AS (SELECT doc_id, r.j AS j,
             SUM(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j) r
             GROUP BY doc_id, r.j)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc="32-bit term-frequency SimHash per document; token-less documents "
    "drop out.",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "text_stats",
    f"""
    SELECT doc_id, token_count, char_count, punct_count, stop_count,
           ROUND(0.5 * LEAST(token_count / 100.0, 1.0)
                 + 0.3 * (stop_count::DOUBLE / GREATEST(token_count, 1))
                 + 0.2 * (1.0 - punct_count::DOUBLE / GREATEST(char_count, 1)),
                 4) AS quality_score
    FROM (SELECT doc_id,
                 len({_TOKS}) AS token_count,
                 CAST(length(text) AS BIGINT) AS char_count,
                 CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct_count,
                 len(list_filter({_TOKS}, t -> t IN ({_sql_stoplist(X.STOPWORDS_EN)}))) AS stop_count
          FROM documents)
    """,
    doc="Per-document token/char/punct/stopword counts and quality score.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "lang_id",
    f"""
    SELECT doc_id, en_hits, fr_hits, de_hits,
           CASE WHEN en_hits = 0 AND fr_hits = 0 AND de_hits = 0 THEN 'und'
                WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
                WHEN fr_hits >= de_hits THEN 'fr'
                ELSE 'de' END AS lang_pred
    FROM (SELECT doc_id,
            len(list_filter({_TOKS}, t -> t IN ({_sql_stoplist(X.STOPWORDS_EN)}))) AS en_hits,
            len(list_filter({_TOKS}, t -> t IN ({_sql_stoplist(X.STOPWORDS_FR)}))) AS fr_hits,
            len(list_filter({_TOKS}, t -> t IN ({_sql_stoplist(X.STOPWORDS_DE)}))) AS de_hits
          FROM documents)
    """,
    doc="Stopword-family language id, tiebreak en > fr > de, 'und' when "
    "nothing matches.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "quality_filter",
    # composed from the two oracles registered above — one source of
    # truth for the score and language formulas
    f"""
    WITH st AS ({REGISTRY["text_stats"].oracle}),
    lg AS ({REGISTRY["lang_id"].oracle})
    SELECT st.doc_id, st.token_count, st.quality_score, lg.lang_pred
    FROM st JOIN lg ON st.doc_id = lg.doc_id
    WHERE st.quality_score >= {TS.QF_MIN_QUALITY}
      AND st.token_count >= {TS.QF_MIN_TOKENS}
      AND lg.lang_pred = '{TS.QF_LANG}'
    """,
    doc="Keep gate: quality >= 0.55, token_count >= 20 and language en, in "
    "one scan.",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.quality_filter(load_table(spark, sf_dir, "documents"))


@register(
    "explode_variants",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ts[i] AS tok
    FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)
    UNION ALL
    SELECT doc_id, CAST(NULL AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS tok
    FROM toks WHERE len(ts) = 0
    """,
    doc="posexplode ordinals and explode_outer NULL rows for empty token "
    "arrays.",
)
def q_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("ts"))
    return toks.select(
        "doc_id", F.posexplode_outer("ts").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


@register(
    "hof_gauntlet",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents)
    SELECT doc_id,
           array_to_string(list_transform(ts, t -> upper(t)), ' ') AS upper_toks,
           array_to_string(list_filter(ts, t -> len(t) > 3), ' ') AS long_toks,
           len(list_filter(ts, t -> t = 'the')) > 0 AS has_the,
           CAST(list_reduce(list_prepend(0, list_transform(ts, t -> len(t))),
                            (a, b) -> a + b) AS BIGINT) AS total_chars,
           array_to_string(list_sort(ts), ' ') AS sorted_toks
    FROM toks
    """,
    doc="transform/filter/exists/aggregate/sort over the token array; arrays "
    "space-joined to strings.",
)
def q_hof_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("ts"))
    return toks.select(
        "doc_id",
        F.array_join(
            F.transform("ts", lambda t: F.upper(t)), " "
        ).alias("upper_toks"),
        F.array_join(
            F.filter("ts", lambda t: F.length(t) > 3), " "
        ).alias("long_toks"),
        F.exists("ts", lambda t: t == "the").alias("has_the"),
        F.aggregate(
            "ts", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("total_chars"),
        F.array_join(F.sort_array("ts"), " ").alias("sorted_toks"),
    )


@register(
    "text_normalize",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    """,
    doc="Lowercase, strip non-alnum, collapse whitespace; compared by md5 and "
    "length.",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@register(
    "sentence_stats",
    f"""
    SELECT doc_id, n_sentences,
           CASE WHEN n_sentences > 0
                THEN ROUND(CAST(n_words AS DOUBLE) / n_sentences, 4)
           END AS words_per_sentence
    FROM (SELECT doc_id,
          CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                               s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
          len({_TOKS}) AS n_words
          FROM documents)
    """,
    doc="Sentence counts and words per sentence by terminal-punctuation "
    "split.",
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.sentence_stats(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_TOKS},
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % {X.FINGERPRINT_MOD}) AS fingerprint
    FROM documents
    """,
    doc="Order-sensitive polynomial rolling fingerprint over token hashes.",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.fingerprints(load_table(spark, sf_dir, "documents"))


# normalized-embedding CTE: norms computed once per vector (mirrors the
# Spark side's normalize-then-single-dot restructure — 26.9 s -> 12.3 s
# on the sf0.1 all-pairs sweep; the rest is the honest quadratic dot
# cost the LSH path avoids). "e" exposes ne = unit vector.
_EMB_CTE = (
    "e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
    "AS emb FROM embeddings), "
    "e AS (SELECT vec_id, list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) "
    "AS ne FROM e0)"
)
_COS = "list_dot_product({a}, {b})"


@register(
    "similarity_topk",
    f"""
    WITH {_EMB_CTE},
    q AS (SELECT vec_id AS query_id, ne AS qemb FROM e WHERE vec_id < 8),
    scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qemb", b="c.ne")}, 6) AS cos
               FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    rk AS (SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 for 8 query vectors, neighbor_id tiebreak.",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SS.cosine_topk(load_table(spark, sf_dir, "embeddings"))


def _multi_planes_values(n_tables: int, planes_per_table: int) -> str:
    """VALUES rows (t, p, vec) for the multi-table hyperplane family —
    the same literals :func:`SS.hyperplanes_table` builds Spark-side."""
    rows = []
    for t in range(n_tables):
        for p, row in enumerate(SS.hyperplanes_table(t, planes_per_table)):
            arr = ", ".join(repr(x) for x in row)
            rows.append(f"({t}, {p}, [{arr}]::DOUBLE[])")
    return ",\n        ".join(rows)


def _multi_tagged_cte(n_tables: int, planes_per_table: int) -> str:
    """CTE chain ending in tagged(vec_id, ne, t, b): one row per vector
    per LSH table — SQL mirror of :func:`SS._multi_table_tagged_ids`
    (the oracle keeps ne attached; the Spark side re-attaches vectors
    wide, by id, after candidate dedup)."""
    return f"""planes(t, p, vec) AS (VALUES
        {_multi_planes_values(n_tables, planes_per_table)}),
    bk AS (SELECT e.vec_id, planes.t AS t,
           CAST(SUM(CASE WHEN list_dot_product(e.ne, planes.vec) >= 0
                    THEN CAST(1 AS BIGINT) << planes.p ELSE 0 END) AS BIGINT) AS b
           FROM e CROSS JOIN planes GROUP BY e.vec_id, planes.t),
    tagged AS (SELECT bk.vec_id, e.ne, bk.t, bk.b
               FROM bk JOIN e ON bk.vec_id = e.vec_id)"""


# 8 tables × 4 planes (SS.N_TABLES × SS.MULTI_PLANES — rationale on the
# constants): measured 0.79–0.85 near-dup recall at threshold 0.4 on half
# the brute-force comparisons.
_NDUP_TABLES, _NDUP_PLANES = SS.N_TABLES, SS.MULTI_PLANES


@register(
    "dedup_embedding_nearest",
    # The oracle mirrors the Spark plan's OWN shape: collisions scored in place off the (t, b) join stream, then
    # a streaming argmax GROUP BY — max(struct(cos, -nn)) compares
    # lexicographically in both engines, ties to the smallest nn. No
    # DISTINCT over the collision multiset and no window sort, so
    # nothing quadratic is ever MATERIALIZED on the DuckDB side either
    # (the r10 form spilled past the 80 GB disk at 10×; this one's
    # state is one aggregate entry per vector). Cross-table repeat
    # collisions contribute identical (cos, -nn) pairs — max is
    # idempotent, exactly the Spark-side invariant.
    f"""
    WITH {_EMB_CTE},
    {_multi_tagged_cte(_NDUP_TABLES, _NDUP_PLANES)},
    best AS (SELECT l.vec_id,
             MAX(struct_pack(
                 c := ROUND({_COS.format(a="l.ne", b="r.ne")}, 6),
                 mnn := -r.vec_id)) AS m
             FROM tagged l JOIN tagged r
               ON l.t = r.t AND l.b = r.b AND l.vec_id <> r.vec_id
             GROUP BY l.vec_id)
    SELECT vec_id, -m.mnn AS nn_id, m.c AS cos
    FROM best
    """,
    doc="Nearest same-bucket LSH neighbour per vector (cos 6 dp, smallest-id "
    "tiebreak).",
)
def q_dedup_embedding_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SS.embedding_nearest_lsh(
        load_table(spark, sf_dir, "embeddings"),
        n_tables=_NDUP_TABLES,
        planes_per_table=_NDUP_PLANES,
    )


@register(
    "similarity_topk_q8",
    f"""
    WITH {_EMB_CTE},
    qv AS (SELECT vec_id,
           list_transform(ne, x -> CAST(floor(x * 127.0 + 0.5) AS BIGINT)) AS q
           FROM e),
    qn AS (SELECT vec_id, q,
           sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) AS qn FROM qv),
    qs AS (SELECT vec_id AS query_id, q AS qq, qn AS qqn
           FROM qn WHERE vec_id < 8),
    scored AS (SELECT qs.query_id, c.vec_id AS neighbor_id,
               ROUND(CAST(list_dot_product(qs.qq, c.q) AS DOUBLE)
                     / (qs.qqn * c.qn), 6) AS cos_q8
               FROM qn c CROSS JOIN qs WHERE c.vec_id <> qs.query_id),
    rk AS (SELECT query_id, neighbor_id, cos_q8,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_q8 DESC, neighbor_id ASC) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos_q8, 4) AS cos_q8,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 5
    """,
    doc="Cosine top-k over int8-quantized unit vectors (half-up quantization, "
    "exact integer dots).",
)
def q_similarity_topk_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SS.cosine_topk_q8(load_table(spark, sf_dir, "embeddings"))


@register(
    "ann_ivf_topk",
    f"""
    WITH {_EMB_CTE},
    cent AS (SELECT vec_id AS cid, ne AS ce FROM e WHERE vec_id < {SS.IVF_CELLS}),
    ac AS (SELECT e.vec_id, e.ne, cent.cid,
           list_dot_product(e.ne, cent.ce) AS cs
           FROM e CROSS JOIN cent),
    cells AS (SELECT vec_id, ne, cid AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cs DESC, cid ASC) AS rn FROM ac)
              WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, ne AS qemb, cid AS cell FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid ASC) AS rn
                FROM ac WHERE vec_id < 8)
               WHERE rn <= {SS.IVF_PROBES}),
    scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qemb", b="c.ne")}, 6) AS cos
               FROM cells c JOIN qprobe q ON c.cell = q.cell
               WHERE c.vec_id <> q.query_id),
    rk AS (SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 5
    """,
    doc="IVF-Flat top-k: 16 sampled centroid cells, each query scores its 3 "
    "nearest cells.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SS.ivf_topk(load_table(spark, sf_dir, "embeddings"))


def _ivf_filtered_oracle_branch(
    tag: str,
    keep_where: str,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = SS.IVF_CELLS,
    n_probes: int = SS.IVF_PROBES,
    widen_to: int | None = None,
) -> str:
    """One predicate branch of the filtered-search oracle: SQL mirror
    of SS.ivf_topk(keep=...) INCLUDING the adaptive probe widening
    (SS._widened_probe) — per query, the probe takes the smallest
    similarity-rank prefix of cells whose cumulative matching-candidate
    count (keep-joined, self excluded) reaches the widening TARGET,
    floored at n_probes, capped at n_cells (need NULL → all cells).
    The target mirrors SS._widen_target: default (widen_to=None) is
    the r14 recall-first over-provision FILTERED_WIDEN_MULT × k; the
    final ranking still keeps k rows."""
    target = SS._widen_target(k, widen_to)
    return f"""
    cent_{tag} AS (SELECT vec_id AS cid, ne AS ce FROM e
                   WHERE vec_id < {n_cells}),
    ac_{tag} AS (SELECT e.vec_id, e.ne, c.cid,
                 list_dot_product(e.ne, c.ce) AS cs
                 FROM e CROSS JOIN cent_{tag} c),
    cells_{tag} AS (SELECT vec_id, ne, cid AS cell FROM
                    (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, cid ASC) AS rn
                     FROM ac_{tag}) WHERE rn = 1),
    keep_{tag} AS (SELECT doc_id AS keep_id FROM documents
                   WHERE {keep_where}),
    ranked_{tag} AS (SELECT vec_id AS query_id, ne AS qemb, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, cid ASC) AS pr
                     FROM ac_{tag} WHERE vec_id < {n_queries}),
    matched_{tag} AS (SELECT c.vec_id, c.cell FROM cells_{tag} c
                      JOIN keep_{tag} kp ON c.vec_id = kp.keep_id),
    cellcnt_{tag} AS (SELECT cell, COUNT(*) AS mc FROM matched_{tag}
                      GROUP BY cell),
    qself_{tag} AS (SELECT vec_id AS query_id, cell AS self_cell
                    FROM matched_{tag} WHERE vec_id < {n_queries}),
    stats_{tag} AS (SELECT r.query_id, r.qemb, r.cid, r.pr,
                    COALESCE(cc.mc, 0)
                      - CASE WHEN s.self_cell = r.cid THEN 1 ELSE 0 END
                      AS m
                    FROM ranked_{tag} r
                    LEFT JOIN cellcnt_{tag} cc ON r.cid = cc.cell
                    LEFT JOIN qself_{tag} s ON r.query_id = s.query_id),
    cum_{tag} AS (SELECT *, SUM(m) OVER (PARTITION BY query_id
                          ORDER BY pr) AS cum FROM stats_{tag}),
    lim_{tag} AS (SELECT *, MIN(CASE WHEN cum >= {target} THEN pr END)
                          OVER (PARTITION BY query_id) AS need
                  FROM cum_{tag}),
    qprobe_{tag} AS (SELECT query_id, qemb, cid AS cell FROM lim_{tag}
                     WHERE pr <= GREATEST({n_probes},
                                          COALESCE(need, {n_cells}))),
    scored_{tag} AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ROUND({_COS.format(a="q.qemb", b="c.ne")}, 6) AS cos
                     FROM cells_{tag} c
                     JOIN qprobe_{tag} q ON c.cell = q.cell
                     JOIN keep_{tag} kp ON c.vec_id = kp.keep_id
                     WHERE c.vec_id <> q.query_id),
    rk_{tag} AS (SELECT '{tag}' AS pred, query_id, neighbor_id,
                 ROUND(cos, 4) AS cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT)
                   AS rank
                 FROM scored_{tag})"""


#: The selective branch's predicate: ~4% of documents (one minority
#: lang thinned by a deterministic id residue) — few enough matches in
#: 3 probed cells at driver scale that the adaptive widening actually
#: engages, so the driver row value-pins the escalation path, not just
#: the permissive floor.
_FILTERED_RARE_WHERE = "lang = 'de' AND doc_id % 3 = 0"


@register(
    "ann_ivf_filtered_topk",
    f"""
    WITH {_EMB_CTE},
    {_ivf_filtered_oracle_branch("en", "lang = 'en'")},
    {_ivf_filtered_oracle_branch("rare", _FILTERED_RARE_WHERE)}
    SELECT pred, query_id, neighbor_id, cos, rank
    FROM rk_en WHERE rank <= 5
    UNION ALL
    SELECT pred, query_id, neighbor_id, cos, rank
    FROM rk_rare WHERE rank <= 5
    """,
    doc="IVF top-k under a metadata predicate applied in the probe, adaptive "
    "widening to 3xk; 'en' and rare branches.",
)
def q_ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    keep_en = docs.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("keep_id")
    )
    keep_rare = docs.where(
        (F.col("lang") == "de") & (F.col("doc_id") % 3 == 0)
    ).select(F.col("doc_id").alias("keep_id"))
    # Sharing corpus subtrees across the two branches via pins lost in
    # ABBA at every granularity (OPTIMIZATION_r15.md, "Examined and REJECTED").
    a = SS.ivf_topk(emb, keep=keep_en).select(
        F.lit("en").alias("pred"), "*"
    )
    b = SS.ivf_topk(emb, keep=keep_rare).select(
        F.lit("rare").alias("pred"), "*"
    )
    return a.unionByName(b)


def _ivf_trained_oracle(
    n_cells: int = SS.IVF_CELLS,
    n_probes: int = SS.IVF_PROBES,
    rounds: int = SS.IVF_LLOYD_ROUNDS,
    dims: int = SS.DIMS,
    sample_mod: int | None = None,
) -> str:
    """SQL mirror of SS.lloyd_train + SS.ivf_topk_trained: the Lloyd
    rounds are UNROLLED (assign → 9-dp-rounded element-wise mean →
    re-normalize, per round), so DuckDB re-derives the same trained
    centroids from the data instead of receiving literals — the oracle
    stays scale-independent. With ``sample_mod`` the rounds assign/mean
    only the ``vec_id % s = 0`` slice, mirroring the sampled production
    training. The 9-dp round after AVG is the one spot where engine
    summation order could diverge; everything downstream (left-assoc
    square sum, sqrt, divide, dots) is bit-exact given identical
    inputs."""
    train = "e" if sample_mod is None else "es"
    ctes = [f"c0 AS (SELECT vec_id AS cid, ne AS ce FROM e WHERE vec_id < {n_cells})"]
    if sample_mod is not None:
        ctes.insert(
            0, f"es AS (SELECT * FROM e WHERE vec_id % {sample_mod} = 0)"
        )
    for r in range(rounds):
        ctes.append(
            f"a{r} AS (SELECT vec_id, ne, cid AS cell FROM "
            f"(SELECT e.vec_id, e.ne, c.cid, "
            f"ROW_NUMBER() OVER (PARTITION BY e.vec_id "
            f"ORDER BY list_dot_product(e.ne, c.ce) DESC, c.cid ASC) AS rn "
            f"FROM {train} e CROSS JOIN c{r} c) WHERE rn = 1)"
        )
        avgs = ", ".join(f"ROUND(AVG(ne[{i + 1}]), 9)" for i in range(dims))
        ctes.append(
            f"m{r} AS (SELECT cell AS cid, [{avgs}] AS m FROM a{r} GROUP BY cell)"
        )
        sq = " + ".join(f"m[{i + 1}]*m[{i + 1}]" for i in range(dims))
        comps = ", ".join(f"m[{i + 1}]/s" for i in range(dims))
        ctes.append(
            f"c{r + 1} AS (SELECT cid, [{comps}] AS ce FROM "
            f"(SELECT cid, m, SQRT({sq}) AS s FROM m{r}))"
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {_EMB_CTE},
    {body},
    ac AS (SELECT e.vec_id, e.ne, c.cid,
           list_dot_product(e.ne, c.ce) AS cs
           FROM e CROSS JOIN c{rounds} c),
    cells AS (SELECT vec_id, ne, cid AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cs DESC, cid ASC) AS rn FROM ac)
              WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, ne AS qemb, cid AS cell FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid ASC) AS rn
                FROM ac WHERE vec_id < 8)
               WHERE rn <= {n_probes}),
    scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
               ROUND({_COS.format(a="q.qemb", b="c.ne")}, 6) AS cos
               FROM cells c JOIN qprobe q ON c.cell = q.cell
               WHERE c.vec_id <> q.query_id),
    rk AS (SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 5
    """


_IVF_TRAIN_SAMPLE_MOD = 4


@register(
    "ann_ivf_trained_topk",
    _ivf_trained_oracle(sample_mod=_IVF_TRAIN_SAMPLE_MOD),
    doc="IVF-Flat top-k over a quantizer Lloyd-trained 2 rounds on the vec_id "
    "% 4 == 0 sample.",
)
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SS.ivf_topk_trained(
        load_table(spark, sf_dir, "embeddings"),
        sample_mod=_IVF_TRAIN_SAMPLE_MOD,
    )


# SQL twin of SS.hamming_auto_mult over the corpus CTE `e` (base +
# base per corpus doubling past N0; power-of-two boundaries are
# IEEE-exact in both engines). Shared by every auto-budget ANN oracle
# since the r9 migration (the PQ/composition entries previously pinned
# a fixed mult for oracle-text stability).
_AUTO_MULT_SQL = (
    f"{SS.HAMMING_RERANK_MULT} * (1 + GREATEST(0, CAST(CEIL(LOG2("
    f"GREATEST((SELECT COUNT(*) FROM e), 1) / {SS.HAMMING_RERANK_N0}.0"
    f")) AS BIGINT)))"
)


def _rerank_budget_sql(k: int, rerank_mult: int | None) -> str:
    """The per-query exact-rerank row budget R as SQL: a pinned
    ``k*mult`` literal, or ``rerank_mult=None`` for the auto-scaled
    scalar subquery (the same rule the Spark side applies via
    SS.hamming_auto_mult when its ``rerank_mult=None``)."""
    if rerank_mult is not None:
        return str(k * rerank_mult)
    return f"{k} * ({_AUTO_MULT_SQL})"


@register(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256  -- DuckDB 1.0 sha256 takes VARCHAR; same UTF-8 bytes
    FROM documents
    """,
    doc="Binary payload plus (mime, n_bytes, sha256) metadata struct "
    "(SURVEY.md §2.11).",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.multimodal_meta(load_table(spark, sf_dir, "documents"))


# ===========================================================================
# §2.9 UDF/UDAF surface, §2.10 session windows, ShortestPathMR paths,
# skew-salted twins — remaining SURVEY coverage.
# ===========================================================================

from .functions import skew as SK  # noqa: E402
from .operators import udfs as U  # noqa: E402


@register(
    "udf_discounted_price",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1.0 - l_discount), 4) AS disc_price
    FROM lineitem
    """,
    doc="Scalar Pandas UDF discounted price (§2.9).",
)
def q_udf_discounted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.discounted_prices(load_table(spark, sf_dir, "lineitem"))


@register(
    "udaf_weighted_avg",
    """
    SELECT l_suppkey,
           ROUND(SUM(l_quantity * l_extendedprice) / SUM(l_extendedprice), 4)
             AS w_avg_qty
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="Grouped-aggregate Pandas UDAF: price-weighted mean quantity per "
    "supplier (K-means/.../CountFollowers.java:115-143).",
)
def q_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.weighted_avg_quantity(load_table(spark, sf_dir, "lineitem"))


@register(
    "session_windows",
    """
    WITH o AS (SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
                    THEN 1 ELSE 0 END AS new_s
               FROM events),
    s AS (SELECT user_id, ts, value,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id,
           -- FLOOR before the cast: Spark's unix_timestamp truncates
           -- sub-second parts; DuckDB's double→int cast would round
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    doc="Per-user session windows with a 30-minute gap (F.session_window).",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
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


@register(
    "sssp_paths",
    f"""
    WITH RECURSIVE e AS ({GRAPH_EDGES_SQL}),
    bfs AS (
        SELECT CAST(1 AS BIGINT) AS v, 0 AS d
        UNION
        SELECT e.dst AS v, b.d + 1 AS d FROM bfs b JOIN e ON e.src = b.v
        WHERE b.d < 128
    ),
    md AS (SELECT v, MIN(d) AS d FROM bfs GROUP BY v),
    pred AS (SELECT e.dst AS v, MIN(e.src) AS p
             FROM e JOIN md a ON e.src = a.v JOIN md b ON e.dst = b.v
             WHERE a.d = b.d - 1 GROUP BY e.dst),
    paths AS (
        SELECT CAST(1 AS BIGINT) AS v, [CAST(1 AS BIGINT)] AS path
        UNION ALL
        SELECT pr.v, pa.path || [pr.v] FROM paths pa JOIN pred pr ON pr.p = pa.v
        WHERE len(pa.path) < 129
    )
    SELECT paths.v AS vertex, CAST(md.d AS DOUBLE) AS dist,
           array_to_string(paths.path, ',') AS path
    FROM paths JOIN md ON paths.v = md.v
    """,
    doc="SSSP with one min-predecessor path per vertex, comma-joined "
    "(ShortestPathMR/.../CountFollowers.java:81-112).",
)
def q_sssp_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = G.sssp_with_paths(spark, graph_edges(spark, sf_dir), source=1)
    return out.withColumn(
        "path",
        F.array_join(F.transform("path", lambda x: x.cast("string")), ","),
    )


@register(
    "salted_follower_count",
    f"SELECT dst, COUNT(*) AS cnt FROM ({FOLLOWER_EDGES_SQL}) GROUP BY dst",
    doc="follower_count through a two-level salted aggregation; same oracle.",
)
def q_salted_follower_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SK.salted_count(follower_edges(spark, sf_dir), "dst")


# ===========================================================================
# Reference-pipeline parity + SQL surface + multi-join analytics
# ===========================================================================


def _kmeans_oracle_over(pts_sql: str, k: int, rounds: int) -> str:
    """Unrolled k-means oracle over an arbitrary (x, w) weighted source."""
    parts = [
        f"WITH pts AS ({pts_sql}),",
        f"c0 AS (SELECT CAST(j AS BIGINT) AS cid, (SELECT MAX(x) FROM pts) / {k}.0 * j AS c "
        f"FROM range(1, {k + 1}) t(j)),",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"a{i} AS (SELECT p.x, p.w, "
            f"(MIN({{'d': abs(p.x - c.c), 'cid': c.cid}})).cid AS cid "
            f"FROM pts p CROSS JOIN c{i - 1} c GROUP BY p.x, p.w),"
        )
        parts.append(
            f"c{i} AS (SELECT cid, SUM(x * w) / SUM(w) AS c FROM a{i} GROUP BY cid),"
        )
    parts.append(
        f"afin AS (SELECT p.x, p.w, "
        f"(MIN({{'d': abs(p.x - c.c), 'cid': c.cid}})).cid AS cid "
        f"FROM pts p CROSS JOIN c{rounds} c GROUP BY p.x, p.w)"
    )
    parts.append(
        f"SELECT a.cid AS cluster_id, ROUND(c.c, 4) AS centroid, "
        f"CAST(SUM(a.w) AS BIGINT) AS n_points FROM afin a "
        f"JOIN c{rounds} c ON a.cid = c.cid GROUP BY a.cid, c.c"
    )
    return "\n".join(parts)


@register(
    "kmeans_followers",
    _kmeans_oracle_over(
        "SELECT CAST(c AS DOUBLE) AS x, CAST(COUNT(*) AS BIGINT) AS w FROM "
        "(SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey) "
        "GROUP BY c",
        _KM_K,
        _KM_ROUNDS,
    ),
    doc="k-means (k=4) over follower counts per supplier "
    "(K-means/.../CountFollowers.java:148-200).",
)
def q_kmeans_followers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    out = KM.kmeans_1d(counts, "c", k=_KM_K, fixed_iterations=_KM_ROUNDS)
    return out.select(
        "cluster_id", F.round("centroid", 4).alias("centroid"), "n_points"
    )


_REVENUE_BY_NATION_SQL = """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE c_nationkey = s_nationkey
    GROUP BY n_name
"""


@register(
    "sql_revenue_by_nation",
    _REVENUE_BY_NATION_SQL,
    doc="5-way local-supplier revenue join as SQL text over the catalog "
    "views.",
)
def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import register_views

    register_views(
        spark, sf_dir, ("customer", "orders", "lineitem", "supplier", "nation")
    )
    return spark.sql(_REVENUE_BY_NATION_SQL)


@register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    doc="Join + filter + aggregate + top-k in one plan (TPC-H Q3 shape).",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
        )
    )
    return R.top_k(joined, [F.desc("revenue"), F.asc("l_orderkey")], 10)


# ===========================================================================
# Token counting (BPE-ish) + document frequency / IDF
# ===========================================================================

# GPT-style pre-tokenizer shape: contraction suffixes, space-prefixed
# word/number runs, punctuation runs. Same RE2-compatible pattern string
# feeds Spark and DuckDB (parity verified in tests).
BPE_ISH_PATTERN = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"
_BPE_SQL = BPE_ISH_PATTERN.replace("'", "''")


@register(
    "token_counts_bpe",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_SQL}')) AS BIGINT)
             AS n_tokens,
           CAST(len({_TOKS}) AS BIGINT) AS n_words
    FROM documents
    """,
    doc="Token counts by a GPT-style pre-tokenizer regex next to plain word "
    "tokens (SURVEY.md §2.11).",
)
def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), 0)
        )
        .cast("long")
        .alias("n_tokens"),
        F.size(X.tokens("text")).cast("long").alias("n_words"),
    )


@register(
    "token_doc_frequency",
    f"""
    WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM documents),
    n AS (SELECT COUNT(*) AS nd FROM documents)
    SELECT token, COUNT(*) AS df,
           ROUND(LN((SELECT nd FROM n) / COUNT(*)), 4) AS idf
    FROM dt GROUP BY token
    """,
    doc="Document frequency and IDF per token, N via a broadcast 1-row "
    "crossJoin.",
)
def q_token_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dt = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    ).distinct()
    return (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("df")), 4
            ).alias("idf"),
        )
    )


# ===========================================================================
# Dedup clustering (connected components over LSH candidate pairs) +
# distinct aggregation
# ===========================================================================


#: Unroll depth of the oracle-side min-label CC (see
#: :func:`_cc_minlabel_ctes`). Every measured scale (1x-30x) converges
#: in ONE round (LSH buckets are cliques, so a component's diameter in
#: bucket-hops is tiny); 4 rounds of propagate+pointer-jump cover
#: diameters to ~2^4 hops, and the fixpoint assert turns any deeper
#: pathology into a loud oracle error instead of a silent mismatch.
_CC_LABEL_ROUNDS = 4


def _cc_minlabel_ctes(rounds: int = _CC_LABEL_ROUNDS) -> str:
    """Oracle-side connected components WITHOUT the recursive
    reachability CTE (PERFORMANCE.md, round 12): ``reach(v, l)`` enumerates
    every (vertex, reachable-smaller-label) pair — Θ(s²) rows for a
    near-dup cluster of s members, which is exactly the blowup that
    exhausted DuckDB's memory/spill at the 30× sweep density while the
    engine side stayed bounded. This replacement is the textbook
    min-label propagation over the doc↔bucket BIPARTITE graph instead:
    per round, every bucket takes the min label of its members and
    every member takes the min of its buckets (cliques converge in one
    round), followed by one pointer-jump (l ← l(l), halving any
    residual chain depth); state per round is one label per vertex —
    O(V+E), never quadratic. A final extra bucket step must be a
    no-op; if it is not, DuckDB's error() raises, so an un-converged
    unroll is a loud oracle failure, never a wrong answer (a stable
    labeling is per-bucket constant, hence component-constant, hence
    the component min — the same fixpoint argument the engine's
    union-find relies on). Every CTE is MATERIALIZED: the rounds
    reference each other multiply, and inlining re-expands the whole
    MinHash pipeline exponentially in the unroll depth (measured: the
    un-materialized form did not finish at the SMOKE scale).

    Emits CTE text (to splice after a ``bands(doc_id, band, sig)``
    CTE) ending in ``clusters(doc_id, cluster_id)`` — the same output
    contract the old recursive tail produced, verified equal at
    1x/3x/10x/30x."""
    parts = [
        """memb AS MATERIALIZED (
        SELECT b.doc_id AS v, d.bkt FROM bands b
        JOIN (SELECT band, sig, DENSE_RANK() OVER (ORDER BY band, sig) AS bkt
              FROM (SELECT band, sig FROM bands
                    GROUP BY band, sig HAVING COUNT(*) >= 2)) d
        ON b.band = d.band AND b.sig = d.sig)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT v, v AS l FROM memb)",
    ]
    prev = "l0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""bm{r} AS MATERIALIZED (SELECT m.bkt, MIN(p.l) AS bl
            FROM memb m JOIN {prev} p ON m.v = p.v GROUP BY m.bkt)"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (SELECT p.v, LEAST(p.l, MIN(b.bl)) AS l
            FROM {prev} p JOIN memb m ON m.v = p.v
            JOIN bm{r} b ON b.bkt = m.bkt
            GROUP BY p.v, p.l)"""
        )
        parts.append(
            f"""l{r} AS MATERIALIZED (SELECT a.v, LEAST(a.l, b.l) AS l
            FROM s{r} a JOIN s{r} b ON a.l = b.v)"""
        )
        prev = f"l{r}"
    parts.append(
        f"""chkb AS MATERIALIZED (SELECT m.bkt, MIN(p.l) AS bl
        FROM memb m JOIN {prev} p ON m.v = p.v GROUP BY m.bkt)"""
    )
    parts.append(
        f"""chk AS (SELECT COUNT(*) AS n
        FROM {prev} p JOIN memb m ON m.v = p.v
        JOIN chkb b ON b.bkt = m.bkt
        WHERE b.bl < p.l)"""
    )
    parts.append(
        f"""clusters AS (
        SELECT v AS doc_id,
               CASE WHEN (SELECT n FROM chk) > 0
                    THEN CAST(error('cc oracle: min-label propagation '
                         || 'not converged — raise _CC_LABEL_ROUNDS')
                         AS BIGINT)
                    ELSE l END AS cluster_id
        FROM {prev})"""
    )
    return ",\n    ".join(parts)


_DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    perms(i, pa, pb) AS (VALUES {_minhash_perms_values()}),
    base AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
                  % {X.MINHASH_M} AS BIGINT) AS h
             FROM sh),
    mh AS (SELECT doc_id, p.i AS i, MIN((p.pa * b.h + p.pb) % {X.MINHASH_M}) AS m
           FROM base b CROSS JOIN perms p
           GROUP BY doc_id, p.i),
    bands AS (SELECT doc_id, i // {DD.ROWS_PER_BAND} AS band,
              md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS sig
              FROM mh GROUP BY doc_id, i // {DD.ROWS_PER_BAND}),
    {_cc_minlabel_ctes()}
    SELECT doc_id, cluster_id FROM clusters
    """


@register(
    "dedup_clusters",
    _DEDUP_CLUSTERS_ORACLE,
    doc="Connected components over the MinHash-LSH pairs (SURVEY.md §2.11).",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = DD.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = G.connected_components(spark, edges)
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@register(
    "dedup_clusters_star",
    _DEDUP_CLUSTERS_ORACLE,
    doc="dedup_clusters through 2 large-star/small-star rounds first; same "
    "oracle.",
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = DD.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = G.connected_components_star(spark, edges)
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def incremental_demo_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(base_labels, delta_pairs) for the incremental-maintenance demo:
    the corpus's LSH candidate pairs split at a FIXED-SIZE arrival
    boundary (the newest 50 doc ids), with the 'old' side clustered.
    Shared by the registry query below and tools/scale_smoke.py, which
    times :func:`incremental_components` ALONE over these inputs — the
    maintenance step must cost ∝|delta| regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # the shingle->minhash->band pipeline feeds FOUR downstream jobs
    # (base CC, contracted-delta CC, remap, delta_only); a LAZY
    # localCheckpoint materializes it once at the first job and reuses
    # the RDD after — chosen over .persist() because persist registers
    # the subtree in the session CacheManager, which silently rewrote
    # the UNRELATED dedup_minhash_lsh query's audited plan around an
    # InMemoryRelation (PLANS.md 2→3 exchanges with zero code change
    # there); localCheckpoint reuses without cross-query pollution
    pairs = (
        DD.lsh_candidate_pairs(docs)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=False)
    )
    # deterministic arrival split: the newest 50 doc ids are the delta
    # batch (1-row control read for the threshold). FIXED batch size —
    # a streaming maintenance step ingests arrival-sized batches, so
    # its cost must track |delta|, not corpus size; the 3x/10x scale
    # smoke asserts exactly that (~flat step time as the corpus grows)
    cut = int(docs.agg(F.max("doc_id")).first()[0]) - 49
    base = pairs.where((F.col("src") < cut) & (F.col("dst") < cut))
    delta = pairs.where((F.col("src") >= cut) | (F.col("dst") >= cut))
    base_labels = G.connected_components(spark, base)
    return base_labels, delta


@register(
    "dedup_clusters_incremental",
    _DEDUP_CLUSTERS_ORACLE,
    doc="The last 50 docs' LSH pairs merged into existing cluster labels; "
    "oracle is the from-scratch clustering.",
)
def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_labels, delta = incremental_demo_inputs(spark, sf_dir)
    cc = G.incremental_components(spark, base_labels, delta)
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )


_CURATION_ORACLE = f"""
    WITH RECURSIVE
    keepq AS (SELECT doc_id, token_count, quality_score
              FROM ({{quality_filter}})),
    dk AS (SELECT d.doc_id, d.text FROM documents d
           JOIN keepq k ON d.doc_id = k.doc_id),
    ek AS (SELECT MIN(doc_id) AS doc_id FROM dk GROUP BY md5(text)),
    de AS (SELECT dk.doc_id, dk.text FROM dk JOIN ek ON dk.doc_id = ek.doc_id),
    {_SHINGLES_CTE.replace("FROM documents", "FROM de")},
    perms(i, pa, pb) AS (VALUES {_minhash_perms_values()}),
    base AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
                  % {X.MINHASH_M} AS BIGINT) AS h
             FROM sh),
    mh AS (SELECT doc_id, p.i AS i, MIN((p.pa * b.h + p.pb) % {X.MINHASH_M}) AS m
           FROM base b CROSS JOIN perms p
           GROUP BY doc_id, p.i),
    bands AS (SELECT doc_id, i // {DD.ROWS_PER_BAND} AS band,
              md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS sig
              FROM mh GROUP BY doc_id, i // {DD.ROWS_PER_BAND}),
    {_cc_minlabel_ctes()},
    dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    SELECT de.doc_id, k.token_count, k.quality_score
    FROM de JOIN keepq k ON de.doc_id = k.doc_id
    WHERE de.doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@register(
    "corpus_curation",
    _CURATION_ORACLE.format(quality_filter=REGISTRY["quality_filter"].oracle),
    doc="Quality gate, exact-hash dedup, then MinHash-LSH cluster dedup, "
    "keeping min doc_id.",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CU.curate_corpus(spark, load_table(spark, sf_dir, "documents"))


_RATES_SQL = " ".join(
    f"WHEN lang = '{k}' THEN {int(r * SA.SAMPLE_MOD)}"
    for k, r in SA.SAMPLE_RATES.items()
)


@register(
    "stratified_sample",
    f"""
    SELECT doc_id, lang, source,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS UBIGINT) % {SA.SAMPLE_MOD} AS BIGINT) AS u
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
          AS UBIGINT) % {SA.SAMPLE_MOD}
          < (CASE {_RATES_SQL} ELSE 0 END)
    """,
    doc="Keep iff md5(doc_id) mod 10000 < rate[lang]*10000.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SA.stratified_sample(load_table(spark, sf_dir, "documents"))


def _shingle_concat_sql(n: int) -> str:
    return " || ' ' || ".join(f"ts[i+{j}]" if j else "ts[i]" for j in range(n))


@register(
    "decontamination",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    sh AS (SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, GREATEST(len(ts) - {SA.DECON_N - 2}, 1)),
                  i -> {_shingle_concat_sql(SA.DECON_N)})) AS sh_n
           FROM toks),
    bench AS (SELECT DISTINCT sh_n FROM sh
              WHERE doc_id < {SA.DECON_BENCH_MAX_ID}),
    hits AS (SELECT s.doc_id, COUNT(DISTINCT s.sh_n) AS n_overlap
             FROM sh s JOIN bench b ON s.sh_n = b.sh_n
             WHERE s.doc_id >= {SA.DECON_BENCH_MAX_ID}
             GROUP BY s.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(h.n_overlap, 0) >= {SA.DECON_THRESHOLD} AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= {SA.DECON_BENCH_MAX_ID}
    """,
    doc="Flag documents sharing any 8-gram shingle with the doc_id < 20 "
    "benchmark set.",
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SA.contamination_flags(load_table(spark, sf_dir, "documents"))


_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in RV.DEFAULT_QUERY)


@register(
    "inverted_index",
    f"""
    WITH tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM
                (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
                GROUP BY doc_id, token)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY token
    """,
    doc="Token -> document frequency and sorted doc:tf posting list.",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RV.inverted_index(load_table(spark, sf_dir, "documents"))


@register(
    "bm25_topk",
    f"""
    WITH q(term) AS (VALUES {_BM25_TERMS_SQL}),
    lens AS (SELECT doc_id, len({_TOKS}) AS len_d FROM documents),
    consts AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(len_d AS DOUBLE)) AS avg_len FROM lens),
    tf AS (SELECT t.doc_id, t.token, COUNT(*) AS tf FROM
           (SELECT doc_id, unnest({_TOKS}) AS token FROM documents) t
           JOIN q ON t.token = q.term GROUP BY t.doc_id, t.token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    scored AS (SELECT tf.doc_id,
               LN((c.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({RV.BM25_K1} + 1))
               / (tf.tf + {RV.BM25_K1} * (1.0 - {RV.BM25_B}
                  + {RV.BM25_B} * l.len_d / c.avg_len)) AS term_score
               FROM tf JOIN df ON tf.token = df.token
               JOIN lens l ON tf.doc_id = l.doc_id
               CROSS JOIN consts c),
    agg AS (SELECT doc_id, ROUND(SUM(term_score), 6) AS bm25
            FROM scored GROUP BY doc_id)
    SELECT doc_id, ROUND(bm25, 4) AS bm25
    FROM agg ORDER BY bm25 DESC, doc_id ASC LIMIT {RV.BM25_TOP_N}
    """,
    doc="BM25 top-10 for a fixed bag of query terms, scores 6 dp.",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RV.bm25_topk(load_table(spark, sf_dir, "documents"))


@register(
    "sequence_packing",
    f"""
    WITH tok AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
    c AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          SUM(n_tokens) OVER (ORDER BY doc_id) AS cum
          FROM tok WHERE n_tokens > 0)
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_offset,
           CAST(FLOOR((cum - n_tokens) / {PK.PACK_BUDGET}) AS BIGINT) AS chunk_first,
           CAST(FLOOR((cum - 1) / {PK.PACK_BUDGET}) AS BIGINT) AS chunk_last
    FROM c
    """,
    doc="Each document's token span and 512-token chunks in the concatenated "
    "stream (pipeline/packing.py).",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PK.pack_sequences(spark, load_table(spark, sf_dir, "documents"))


@register(
    "distinct_users_per_type",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Distinct users and event count per event type.",
)
def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


from .functions import sketch as KMV  # noqa: E402


@register(
    "distinct_kmv_sketch",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) AS BIGINT) AS u
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM h),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sketch_size,
             MAX(u) AS umax
      FROM r WHERE rn <= {KMV.KMV_K} GROUP BY event_type),
    x AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type)
    SELECT s.event_type, s.sketch_size,
           CASE WHEN s.sketch_size < {KMV.KMV_K}
                THEN CAST(s.sketch_size AS DOUBLE)
                ELSE FLOOR(({float(KMV.KMV_K - 1)} * {float(KMV.KMV_HASH_BASE)}
                            / CAST(s.umax + 1 AS DOUBLE)) * 10000 + 0.5)
                     / 10000
           END AS est_distinct,
           x.n_exact
    FROM s JOIN x USING (event_type)
    """,
    doc="KMV distinct-count estimate per event type over md5 hashes "
    "(Bar-Yossef et al. RANDOM'02).",
)
def q_distinct_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = KMV.kmv_sketch(ev, "event_type", "user_id")
    est = KMV.kmv_estimate(sk, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact")
    )
    return est.join(exact, "event_type")


@register(
    "distinct_kmv_incremental",
    # The oracle is the FROM-SCRATCH sketch over the whole table: the
    # comparison itself proves merge(sketch(base), sketch(batch)) ==
    # sketch(base ∪ batch) — exact, not approximate, because the k
    # smallest distinct hashes of a union are contained in the union of
    # each side's k smallest (same SQL as distinct_kmv_sketch, without
    # the exact-count exhibit column).
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) AS BIGINT) AS u
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM h)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sketch_size,
           CASE WHEN COUNT(*) < {KMV.KMV_K}
                THEN CAST(COUNT(*) AS DOUBLE)
                ELSE FLOOR(({float(KMV.KMV_K - 1)} * {float(KMV.KMV_HASH_BASE)}
                            / CAST(MAX(u) + 1 AS DOUBLE)) * 10000 + 0.5)
                     / 10000
           END AS est_distinct
    FROM r WHERE rn <= {KMV.KMV_K} GROUP BY event_type
    """,
    doc="A base KMV sketch merged with an arrival batch's sketch; oracle is "
    "the from-scratch sketch.",
)
def q_distinct_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 4 != 0)
    batch = ev.where(F.col("event_id") % 4 == 0)
    merged = KMV.kmv_merge(
        KMV.kmv_sketch(base, "event_type", "user_id"),
        KMV.kmv_sketch(batch, "event_type", "user_id"),
        "event_type",
    )
    return KMV.kmv_estimate(merged, "event_type")


@register(
    "distinct_kmv_jaccard",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) AS BIGINT) AS u
      FROM events WHERE user_id IS NOT NULL),
    sa AS (SELECT event_type, u FROM
           (SELECT event_type, u,
                   row_number() OVER (PARTITION BY event_type ORDER BY u)
                     AS rn FROM h)
           WHERE rn <= {KMV.KMV_K}),
    refh AS (SELECT u FROM
             (SELECT u, row_number() OVER (ORDER BY u) AS rn
              FROM h WHERE event_type = 'purchase')
             WHERE rn <= {KMV.KMV_K}),
    sb AS (SELECT g.event_type, refh.u
           FROM (SELECT DISTINCT event_type FROM events) g
           CROSS JOIN refh),
    un AS (SELECT event_type, u FROM
           (SELECT event_type, u,
                   row_number() OVER (PARTITION BY event_type ORDER BY u)
                     AS rn
            FROM (SELECT event_type, u FROM sa
                  UNION SELECT event_type, u FROM sb))
           WHERE rn <= {KMV.KMV_K}),
    m AS (SELECT un.event_type,
                 COUNT(*) AS n_rows,
                 MAX(un.u) AS umax,
                 SUM(CASE WHEN sa.u IS NOT NULL AND sb.u IS NOT NULL
                          THEN 1 ELSE 0 END) AS n_both
          FROM un
          LEFT JOIN sa ON un.event_type = sa.event_type AND un.u = sa.u
          LEFT JOIN sb ON un.event_type = sb.event_type AND un.u = sb.u
          GROUP BY un.event_type),
    q AS (SELECT event_type,
                 CAST(n_rows AS BIGINT) AS sketch_size,
                 FLOOR((CAST(n_both AS DOUBLE) / CAST(n_rows AS DOUBLE))
                       * 10000 + 0.5) / 10000 AS jaccard,
                 CASE WHEN n_rows < {KMV.KMV_K}
                      THEN CAST(n_rows AS DOUBLE)
                      ELSE FLOOR(({float(KMV.KMV_K - 1)}
                                  * {float(KMV.KMV_HASH_BASE)}
                                  / CAST(umax + 1 AS DOUBLE)) * 10000 + 0.5)
                           / 10000
                 END AS est_union
          FROM m)
    SELECT event_type, sketch_size, jaccard, est_union,
           FLOOR(jaccard * est_union * 10000 + 0.5) / 10000
             AS est_intersection
    FROM q
    """,
    doc="KMV Jaccard and intersection estimates per event type against the "
    "'purchase' cohort.",
)
def q_distinct_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sa = KMV.kmv_sketch(ev, "event_type", "user_id")
    ref = KMV.kmv_sketch(
        ev.where(F.col("event_type") == "purchase").withColumn(
            "event_type", F.lit("_ref")
        ),
        "event_type",
        "user_id",
    ).drop("event_type")
    groups = ev.select("event_type").distinct()
    sb = groups.crossJoin(ref)
    return KMV.kmv_jaccard(sa, sb, "event_type")


@register(
    "distinct_kmv_containment",
    # SQL mirror of KMV.kmv_containment (functions/sketch.py): the
    # jaccard oracle's union-sample CTEs re-derive est_intersection,
    # each side's cardinality comes from its OWN sketch (the shared
    # KMV estimator), and both directional ratios are clamped to 1.0
    # BEFORE the 4-dp floor quantization — every factor
    # an IEEE expression over identical operands in both engines.
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) AS BIGINT) AS u
      FROM events WHERE user_id IS NOT NULL),
    sa AS (SELECT event_type, u FROM
           (SELECT event_type, u,
                   row_number() OVER (PARTITION BY event_type ORDER BY u)
                     AS rn FROM h)
           WHERE rn <= {KMV.KMV_K}),
    refh AS (SELECT u FROM
             (SELECT u, row_number() OVER (ORDER BY u) AS rn
              FROM h WHERE event_type = 'purchase')
             WHERE rn <= {KMV.KMV_K}),
    sb AS (SELECT g.event_type, refh.u
           FROM (SELECT DISTINCT event_type FROM events) g
           CROSS JOIN refh),
    un AS (SELECT event_type, u FROM
           (SELECT event_type, u,
                   row_number() OVER (PARTITION BY event_type ORDER BY u)
                     AS rn
            FROM (SELECT event_type, u FROM sa
                  UNION SELECT event_type, u FROM sb))
           WHERE rn <= {KMV.KMV_K}),
    m AS (SELECT un.event_type,
                 COUNT(*) AS n_rows,
                 MAX(un.u) AS umax,
                 SUM(CASE WHEN sa.u IS NOT NULL AND sb.u IS NOT NULL
                          THEN 1 ELSE 0 END) AS n_both
          FROM un
          LEFT JOIN sa ON un.event_type = sa.event_type AND un.u = sa.u
          LEFT JOIN sb ON un.event_type = sb.event_type AND un.u = sb.u
          GROUP BY un.event_type),
    jq AS (SELECT event_type,
                  FLOOR((CAST(n_both AS DOUBLE) / CAST(n_rows AS DOUBLE))
                        * 10000 + 0.5) / 10000 AS jaccard,
                  CASE WHEN n_rows < {KMV.KMV_K}
                       THEN CAST(n_rows AS DOUBLE)
                       ELSE FLOOR(({float(KMV.KMV_K - 1)}
                                   * {float(KMV.KMV_HASH_BASE)}
                                   / CAST(umax + 1 AS DOUBLE)) * 10000 + 0.5)
                            / 10000
                  END AS est_union
           FROM m),
    ji AS (SELECT event_type,
                  FLOOR(jaccard * est_union * 10000 + 0.5) / 10000
                    AS est_intersection
           FROM jq),
    ea AS (SELECT event_type,
                  CASE WHEN COUNT(*) < {KMV.KMV_K}
                       THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE FLOOR(({float(KMV.KMV_K - 1)}
                                   * {float(KMV.KMV_HASH_BASE)}
                                   / CAST(MAX(u) + 1 AS DOUBLE)) * 10000 + 0.5)
                            / 10000
                  END AS est_a
           FROM sa GROUP BY event_type),
    eb AS (SELECT event_type,
                  CASE WHEN COUNT(*) < {KMV.KMV_K}
                       THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE FLOOR(({float(KMV.KMV_K - 1)}
                                   * {float(KMV.KMV_HASH_BASE)}
                                   / CAST(MAX(u) + 1 AS DOUBLE)) * 10000 + 0.5)
                            / 10000
                  END AS est_b
           FROM sb GROUP BY event_type)
    SELECT ji.event_type, ea.est_a, eb.est_b, ji.est_intersection,
           FLOOR(LEAST(1.0, CASE WHEN ea.est_a > 0
                                 THEN ji.est_intersection / ea.est_a
                                 ELSE 0.0 END) * 10000 + 0.5) / 10000
             AS containment_a_in_b,
           FLOOR(LEAST(1.0, CASE WHEN eb.est_b > 0
                                 THEN ji.est_intersection / eb.est_b
                                 ELSE 0.0 END) * 10000 + 0.5) / 10000
             AS containment_b_in_a
    FROM ji
    JOIN ea ON ji.event_type = ea.event_type
    JOIN eb ON ji.event_type = eb.event_type
    """,
    doc="KMV directional containment C(A in B) per event type against the "
    "'purchase' cohort, clamped to [0, 1].",
)
def q_distinct_kmv_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sa = KMV.kmv_sketch(ev, "event_type", "user_id")
    ref = KMV.kmv_sketch(
        ev.where(F.col("event_type") == "purchase").withColumn(
            "event_type", F.lit("_ref")
        ),
        "event_type",
        "user_id",
    ).drop("event_type")
    sb = ev.select("event_type").distinct().crossJoin(ref)
    return KMV.kmv_containment(sa, sb, "event_type")


@register(
    "distinct_kmv_stream",
    # the from-scratch batch sketch over the whole table — the stream's
    # final keyed state must equal it EXACTLY (same SQL shape as
    # distinct_kmv_incremental: k smallest distinct md5 hashes, one
    # IEEE division, cross-engine floor quantization)
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) AS BIGINT) AS u
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM h)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sketch_size,
           CASE WHEN COUNT(*) < {KMV.KMV_K}
                THEN CAST(COUNT(*) AS DOUBLE)
                ELSE FLOOR(({float(KMV.KMV_K - 1)} * {float(KMV.KMV_HASH_BASE)}
                            / CAST(MAX(u) + 1 AS DOUBLE)) * 10000 + 0.5)
                     / 10000
           END AS est_distinct
    FROM r WHERE rn <= {KMV.KMV_K} GROUP BY event_type
    """,
    doc="KMV distinct count drained from the event stream; equals the batch "
    "sketch.",
)
def q_distinct_kmv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as SW2

    SW2.run_kmv_distinct_stream_to_memory(
        spark, sf_dir, table_name="q_distinct_kmv_stream"
    )
    # update mode emits one row per (microbatch, group); the final
    # state per group is the max-rows_seen row
    return spark.sql(
        """
        SELECT event_type, sketch_size, est_distinct FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY rows_seen DESC) AS rn
          FROM q_distinct_kmv_stream) WHERE rn = 1
        """
    )


# ===========================================================================
# As-of join + JSON extraction
# ===========================================================================

from .operators.asof import asof_join  # noqa: E402


@register(
    "asof_latest_order",
    """
    WITH ev AS (SELECT event_id, user_id,
                TIMESTAMP '1995-01-01 00:00:00'
                  + (event_id % 2400) * INTERVAL 1 DAY AS asof_ts
                FROM events),
    m AS (SELECT ev.event_id, ev.user_id,
          CAST(FLOOR(epoch(ev.asof_ts)) AS BIGINT) AS asof_epoch,
          MAX(CASE WHEN o.o_orderkey IS NULL THEN NULL
                   ELSE {'d': o.o_orderdate, 'k': o.o_orderkey,
                         'p': o.o_totalprice} END) AS mo
          FROM ev LEFT JOIN orders o
            ON o.o_custkey = ev.user_id AND o.o_orderdate <= ev.asof_ts
          GROUP BY ev.event_id, ev.user_id, ev.asof_ts)
    SELECT event_id, user_id, asof_epoch,
           (mo).k AS o_orderkey,
           ROUND((mo).p, 2) AS o_totalprice
    FROM m
    """,
    doc="Each event matched to the customer's latest order at or before an "
    "as-of time (operators/asof.py).",
)
def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "timestampadd(DAY, CAST(event_id % 2400 AS INT), "
            "TIMESTAMP'1995-01-01 00:00:00')"
        ).alias("asof_ts"),
    )
    o = load_table(spark, sf_dir, "orders")
    joined = asof_join(
        ev.withColumnRenamed("user_id", "k"),
        o.withColumnRenamed("o_custkey", "k"),
        "k",
        "asof_ts",
        "o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.unix_timestamp("asof_ts").alias("asof_epoch"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@register(
    "events_props_json",
    """
    SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_value
    FROM events
    """,
    doc="JSON field extraction from the events props column.",
)
def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k_value"),
    )


@register(
    "events_props_variant",
    """
    SELECT event_id,
           CAST(props->>'k' AS BIGINT) AS k_value,
           props->>'k' AS k_str,
           CAST(props->>'missing' AS BIGINT) AS k_missing
    FROM events
    """,
    doc="events_props_json through a VARIANT parse and try_variant_get.",
)
def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "long").alias("k_value"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "long").alias("k_missing"),
    )


# ===========================================================================
# Standard PageRank + rollup + percentiles
# ===========================================================================

_PRG_D = 0.85
_PRG_ITERS = 10


def _pagerank_general_oracle(iterations: int, d: float) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({GRAPH_EDGES_SQL}),",
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),",
        "nn AS (SELECT COUNT(*) AS n FROM verts),",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),",
        "we AS MATERIALIZED (SELECT e.src, e.dst, 1.0 / deg.dg AS w "
        "FROM e JOIN deg ON e.src = deg.src),",
        "r0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM nn) AS r FROM verts),",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT we.dst AS v, SUM(r.r * we.w) AS m "
            f"FROM we JOIN r{i - 1} r ON we.src = r.v GROUP BY we.dst),"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0.0) AS dm "
            f"FROM r{i - 1} r LEFT JOIN deg ON r.v = deg.src "
            f"WHERE deg.src IS NULL),"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT verts.v AS v, "
            f"(1.0 - {d}) / (SELECT n FROM nn) + {d} * "
            f"(COALESCE(t{i}.m, 0.0) + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS r "
            f"FROM verts LEFT JOIN t{i} ON verts.v = t{i}.v),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT v AS vertex, ROUND(r, 9) AS rank FROM r{iterations}"
    )
    return "\n".join(parts)


@register(
    "pagerank_general",
    _pagerank_general_oracle(_PRG_ITERS, _PRG_D),
    doc="Damped PageRank (d=0.85) with dangling-mass redistribution on the "
    "derived graph.",
)
def q_pagerank_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = G.pagerank_standard(
        spark, graph_edges(spark, sf_dir), iterations=_PRG_ITERS, damping=_PRG_D
    )
    return ranks.select("vertex", F.round("rank", 9).alias("rank"))


@register(
    "sales_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP flag -> flag+status -> grand total.",
)
def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "quantity_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           quantile_cont(l_quantity, 0.90) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated quantity percentiles per group.",
)
def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.50)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        F.expr("percentile(l_quantity, 0.90)").alias("p90"),
    )


# ===========================================================================
# Anti-join + set operations (absent in the reference — SURVEY §2.4/§2.6
# note the gaps; the engine provides them natively)
# ===========================================================================


@register(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
    doc="Left-anti join: customers with no large order (SURVEY.md §2.4).",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 200000
    )
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "set_ops",
    """
    SELECT 'except' AS op, custkey FROM (
        SELECT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    UNION ALL
    SELECT 'intersect' AS op, custkey FROM (
        SELECT o_custkey AS custkey FROM orders
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """,
    doc="EXCEPT and INTERSECT as one union tagged by op (SURVEY.md §2.6).",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    c = load_table(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    positive = c.where(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("custkey")
    )
    exc = o.subtract(building)  # EXCEPT DISTINCT semantics
    its = o.intersect(positive)  # INTERSECT DISTINCT semantics
    return exc.select(F.lit("except").alias("op"), "custkey").unionByName(
        its.select(F.lit("intersect").alias("op"), "custkey")
    )


# ===========================================================================
# Cube aggregation + analytic window functions (running totals / lag)
# ===========================================================================


@register(
    "customer_running_totals",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
           ROUND(COALESCE(LAG(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey), 0.0), 2) AS prev_price
    FROM orders
    """,
    doc="Per-customer running spend and previous price (SUM + LAG over (date, "
    "key)).",
)
def q_customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_spend"),
        F.round(
            F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2
        ).alias("prev_price"),
    )


@register(
    "events_rolling_hour",
    """
    SELECT event_id, user_id, ts_sec,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_sec
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_last_hour,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts_sec
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
               AS v_last_hour
    FROM (SELECT event_id, user_id,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec, value
          FROM events)
    """,
    doc="Per-event count and value sum of the user's trailing-hour events "
    "(RANGE frame).",
)
def q_events_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.count(F.lit(1)).over(w).cast("long").alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("v_last_hour"),
    )


# ===========================================================================
# TPC-H-style composite-plan pack (round 5): the decision-support query
# shapes the reference's MR courses build toward — EXISTS/NOT-EXISTS
# (semi/anti with non-equi residuals), scalar-subquery broadcast,
# disjunctive pushdown, argmin-per-group, grouping sets, and multi-way
# join+agg+topk pipelines. All over the driver's reduced TPC-H tables
# (no partsupp / commitdate / phone — each query notes its adaptation).
# ===========================================================================


@register(
    "order_priority_semi",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: semi join with a ship-lag > 60 day residual, counted "
    "by priority.",
)
def q_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_4')
        OR (n1.n_name = 'NATION_4' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: shipping volume between two nation pairs by year.",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        s.join(li, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
            | ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_4"))
            | ((F.col("supp_nation") == "NATION_4") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vol"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum(F.col("vol").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           ROUND(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    doc="TPC-H Q10 shape: top-20 customers by returned-item revenue (DECIMAL "
    "sums).",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    agg = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
    )
    return R.top_k(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


@register(
    "promo_revenue",
    """
    SELECT ROUND(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS promo_pct,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promo revenue share.",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double"),
                4,
            ).alias("promo_pct"),
            F.round(F.sum(vol), 2).cast("double").alias("total_revenue"),
        )
    )


@register(
    "large_orders",
    """
    SELECT c_custkey, o_orderkey,
           CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    doc="TPC-H Q18 shape: orders with total quantity > 300.",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 300)
        .select(F.col("l_orderkey").alias("bk"))
    )
    agg = (
        o.join(big, o["o_orderkey"] == big["bk"], "left_semi")
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )
    return R.top_k(agg, [F.desc("totalprice"), F.asc("o_orderkey")], 100)


@register(
    "disjunctive_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: revenue over disjunctive brackets spanning both "
    "join sides.",
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    b = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(b).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "idle_customers",
    """
    SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: positive-balance customers with no orders since "
    "2000, by segment.",
)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent = o.where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "min_cost_supplier",
    """
    WITH pcost AS (
      SELECT l_partkey, l_suppkey,
             FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE) * 10000 + 0.5) / 10000 AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY unit_cost ASC, l_suppkey ASC) AS rn
      FROM pcost
    )
    SELECT p_partkey, p_brand, s_name, unit_cost
    FROM best
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE rn = 1 AND p_brand = 'Brand#1'
    """,
    doc="TPC-H Q2 shape: min-unit-cost supplier per part via min_by.",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    s = load_table(spark, sf_dir, "supplier")
    # quantize via FLOOR(x*1e4 + 0.5)/1e4, NOT ROUND(x, 4): the sums are
    # decimal-exact, but ROUND-of-double implementations differ between
    # engines when the quotient's double sits on a .xxxx5 boundary
    # (measured at sf0.1: 508.8792 vs 508.8793); IEEE mul/add/floor/div
    # have no implementation freedom, so this form is bit-identical.
    pcost = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.floor(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                    "double"
                )
                * 10000
                + 0.5
            )
            / 10000.0
        ).alias("unit_cost")
    )
    best = pcost.groupBy("l_partkey").agg(
        F.min_by(
            F.struct("l_suppkey", "unit_cost"),
            F.struct("unit_cost", "l_suppkey"),
        ).alias("b")
    ).select(
        "l_partkey",
        F.col("b.l_suppkey").alias("l_suppkey"),
        F.col("b.unit_cost").alias("unit_cost"),
    )
    return (
        best.join(F.broadcast(p), best["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), best["l_suppkey"] == s["s_suppkey"])
        .select("p_partkey", "p_brand", "s_name", "unit_cost")
    )


@register(
    "grouping_sets_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS with GROUPING() markers.",
)
def q_grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [
            ["l_returnflag", "l_linestatus"],
            ["l_returnflag"],
            ["l_linestatus"],
            [],
        ],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: four pushed conjuncts, one global aggregate.",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "order_count_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: histogram of per-customer order counts via a left "
    "outer join.",
)
def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    c_orders = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS lim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0 * 100 + 0.5) / 100 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pa.pk = l_partkey
    WHERE p_brand = 'Brand#2' AND l_quantity < lim
    """,
    doc="TPC-H Q17 shape: revenue of lines under 0.2x their part's average "
    "quantity.",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#2")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("lim")
    )
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(pa, F.col("pk") == li["l_partkey"])
        .where(F.col("l_quantity") < F.col("lim"))
    )
    return j.agg(
        (
            F.floor(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / 7.0
                * 100
                + 0.5
            )
            / 100.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "market_share",
    """
    WITH all_sales AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
               AS vol,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
    )
    SELECT o_year,
           FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS mkt_share,
           CAST(ROUND(SUM(vol), 2) AS DOUBLE) AS total_vol
    FROM all_sales GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: a nation's market share in one region by year.",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(s, s["s_suppkey"] == li["l_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)")
            .alias("vol"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return j.groupBy("o_year").agg(
        (
            F.floor(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", F.col("vol")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("vol").cast("double")
                * 1000000
                + 0.5
            )
            / 1000000.0
        ).alias("mkt_share"),
        F.round(F.sum("vol"), 2).cast("double").alias("total_vol"),
    )


@register(
    "late_exclusive_suppliers",
    """
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lines l1 ON s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM lines l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s_name
    """,
    doc="TPC-H Q21 shape: suppliers who alone held up an order (EXISTS and "
    "NOT EXISTS).",
)
def q_late_exclusive_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, sf_dir, "supplier")
    lines = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        ).alias("late"),
    )
    l1 = lines.where(F.col("late"))
    l2 = lines.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lines.where(F.col("late")).select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    waited = l1.join(
        l2,
        (l1["l_orderkey"] == l2["k2"]) & (l1["l_suppkey"] != l2["s2"]),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == l3["k3"]) & (F.col("l_suppkey") != l3["s3"]),
        "left_anti",
    )
    return (
        waited.join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "best_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    doc="TPC-H Q15 shape: all suppliers tied at the max decimal revenue.",
)
def q_best_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_rev"),
        )
    )


@register(
    "important_parts",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(ROUND(val, 2) AS DOUBLE) AS part_value
    FROM pr
    WHERE val > (SELECT 1.2 * CAST(SUM(val) AS DOUBLE) / COUNT(*) FROM pr)
    """,
    doc="TPC-H Q11 shape: parts above 1.2x the mean part revenue.",
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("val")
    )
    thr = pr.agg(
        (
            1.2 * F.sum("val").cast("double") / F.count(F.lit(1))
        ).alias("thr")
    )
    return (
        pr.crossJoin(F.broadcast(thr))
        .where(F.col("val").cast("double") > F.col("thr"))
        .select(
            "l_partkey",
            F.round("val", 2).cast("double").alias("part_value"),
        )
    )


_CHUNK_LEN = 200
_CHUNK_STRIDE = 150


@register(
    "doc_chunks",
    f"""
    WITH gs AS (SELECT CAST(range AS BIGINT) AS s FROM range(0, 16))
    SELECT doc_id, s AS chunk_idx,
           substr(text, CAST(s * {_CHUNK_STRIDE} + 1 AS INT), {_CHUNK_LEN})
             AS chunk,
           CAST(length(substr(text, CAST(s * {_CHUNK_STRIDE} + 1 AS INT),
                              {_CHUNK_LEN})) AS BIGINT) AS chunk_len
    FROM documents CROSS JOIN gs
    WHERE s * {_CHUNK_STRIDE} < length(text)
    """,
    doc="200-char document chunks at stride 150.",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / F.lit(_CHUNK_STRIDE)).cast("long")
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("s"),
    )
    chunk = F.col("text").substr(
        (F.col("s") * _CHUNK_STRIDE + 1).cast("int"), F.lit(_CHUNK_LEN)
    )
    return chunks.select(
        "doc_id",
        F.col("s").alias("chunk_idx"),
        chunk.alias("chunk"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


@register(
    "repetition_stats",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_extract_all(lower(text), '[a-z]+'))
                           AS tok
                  FROM documents),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_tok_count,
           ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_frac,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_tok_frac
    FROM tc GROUP BY doc_id
    """,
    doc="Per-document duplicate-token fraction and top-token share (Rae et "
    "al. 2021).",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_tok_count"),
        F.round(
            1.0 - F.count(F.lit(1)) / F.sum("c").cast("double"), 6
        ).alias("dup_frac"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
            "top_tok_frac"
        ),
    )


_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@register(
    "pii_redact",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                            '<EMAIL>', 'g'),
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
             '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(t,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
             AS BIGINT) AS n_ips
    FROM aug
    """,
    doc="Planted emails and IPv4s redacted to placeholders, with per-document "
    "match counts.",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 now"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IPV4),
            F.lit("<IP>"),
        ).alias("redacted"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_EMAIL), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_IPV4), 0))
        .cast("long")
        .alias("n_ips"),
    )


def _ivf_pq_residual_oracle(
    n_queries: int = 8,
    k: int = 5,
    rerank_mult: int | None = None,
    m: int = SS.PQ_M,
    kq: int = SS.PQ_K64,
    dims: int = SS.DIMS,
    budget_sql: str | None = None,
) -> str:
    """SQL mirror of SS.ivf_pq_residual_topk and of SS.ann_index_topk's
    default read: the IVF assignment CTE, then the whole PQ pipeline
    runs over RESIDUALS r = ne − ce(cell) (element-wise list_transform
    subtraction — the same IEEE subtract Spark's zip_with performs),
    and the ADC estimate adds back the query-centroid dot the probe
    ranking already computed: adc = ROUND(MAX(cs) + SUM(ps), 6).
    ``budget_sql`` overrides the
    rerank budget expression (the SLA-fraction hook)."""
    dsub = dims // m
    if budget_sql is None:
        budget_sql = _rerank_budget_sql(k, rerank_mult)
    return f"""
    WITH {_EMB_CTE},
    cent AS (SELECT vec_id AS cid, ne AS ce FROM e
             WHERE vec_id < {SS.IVF_CELLS}),
    ac AS (SELECT e.vec_id, e.ne, cent.cid,
           list_dot_product(e.ne, cent.ce) AS cs
           FROM e CROSS JOIN cent),
    cells AS (SELECT vec_id, cid AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cs DESC, cid ASC) AS rn FROM ac)
              WHERE rn = 1),
    resid AS (SELECT e.vec_id, cells.cell,
              list_transform(range(1, {dims + 1}),
                             i -> e.ne[i] - cent.ce[i]) AS rne
              FROM e JOIN cells ON e.vec_id = cells.vec_id
              JOIN cent ON cells.cell = cent.cid),
    qprobe AS (SELECT vec_id AS query_id, ne AS qe, cid AS cell, cs FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, cid ASC) AS rn
                FROM ac WHERE vec_id < {n_queries})
               WHERE rn <= {SS.IVF_PROBES}),
    mr AS (SELECT CAST(range AS BIGINT) AS m FROM range(0, {m})),
    cb AS (SELECT mr.m, vec_id AS code,
           rne[1 + mr.m * {dsub} : {dsub} + mr.m * {dsub}] AS ce
           FROM resid CROSS JOIN mr WHERE vec_id < {kq}),
    subs AS (SELECT vec_id, mr.m,
             rne[1 + mr.m * {dsub} : {dsub} + mr.m * {dsub}] AS sub
             FROM resid CROSS JOIN mr),
    enc AS (SELECT vec_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                     (list_dot_product(s.sub, s.sub)
                      - 2 * list_dot_product(s.sub, c.ce)
                      + list_dot_product(c.ce, c.ce)) ASC,
                     c.code ASC) AS rn
            FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
    part AS (SELECT q.query_id, enc.vec_id AS neighbor_id, q.cs,
             list_dot_product(
               q.qe[1 + enc.m * {dsub} : {dsub} + enc.m * {dsub}], c.ce) AS ps
             FROM enc
             JOIN cells ON enc.vec_id = cells.vec_id
             JOIN qprobe q ON cells.cell = q.cell
             JOIN cb c ON enc.m = c.m AND enc.code = c.code
             WHERE enc.vec_id <> q.query_id),
    approx AS (SELECT query_id, neighbor_id,
               ROUND(MAX(cs) + SUM(ps), 6) AS adc
               FROM part GROUP BY query_id, neighbor_id),
    cand AS (SELECT query_id, neighbor_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc DESC, neighbor_id ASC) AS ar
              FROM approx) WHERE ar <= {budget_sql}),
    scored AS (SELECT ca.query_id, ca.neighbor_id,
               ROUND({_COS.format(a="q.ne", b="n.ne")}, 6) AS cos
               FROM cand ca JOIN e n ON ca.neighbor_id = n.vec_id
               JOIN e q ON ca.query_id = q.vec_id),
    rk AS (SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= {k}
    """


@register(
    "ann_ivf_pq64_residual_topk",
    _ivf_pq_residual_oracle(),
    doc="IVF x PQ top-k over 8x256 residual codebooks (PERFORMANCE.md '30× "
    "recall, revisited').",
)
def q_ann_ivf_pq64_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return SS.ivf_pq_residual_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "ann_index_compact_topk",
    _ivf_pq_residual_oracle(),
    doc="On-disk index build, append, compact and query; phase times in "
    "PHASE_TIMES.",
)
def q_ann_index_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import time

    emb = load_table(spark, sf_dir, "embeddings")
    n = SS.corpus_size(emb)
    cut = max(SS.PQ_K64, SS.IVF_CELLS, (3 * n) // 4)
    root = tempfile.mkdtemp(prefix="ann_index_compact_q_")
    path = root + "/idx"
    try:
        t0 = time.perf_counter()
        SS.ann_index_write(emb.where(F.col("vec_id") < cut), path)
        t1 = time.perf_counter()
        SS.ann_index_append(spark, path, emb.where(F.col("vec_id") >= cut))
        t2 = time.perf_counter()
        SS.ann_index_compact(spark, path)
        t3 = time.perf_counter()
        result = SS.ann_index_topk(spark, path, emb)
        # bounded control read (≤ n_queries × k = 40 rows), while the
        # temp index still exists, so the caller gets a local frame
        schema = result.schema
        rows = result.collect()
        t4 = time.perf_counter()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    PHASE_TIMES["ann_index_compact_topk"] = {
        "build_sec": round(t1 - t0, 4),
        "append_sec": round(t2 - t1, 4),
        "compact_sec": round(t3 - t2, 4),
        "query_sec": round(t4 - t3, 4),
    }
    return spark.createDataFrame(rows, schema)


#: Per-phase wall times of the most recent multi-phase query run —
#: bench.py copies this next to the headline timings so a chain row's
#: ingest I/O is never mistaken for query latency.
PHASE_TIMES: dict[str, dict[str, float]] = {}


# Session-scoped on-disk ANN index, shared by every read-path query:
# built ONCE per (session, sf_dir) into a temp root that an atexit hook
# removes, so repeated invocations measure the READ path, not a rebuild.
# ann_index_compact_topk's phase-timed chain measures the ingest cost.
_SESSION_INDEX_CACHE: dict[str, str] = {}


def _session_index(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    path = _SESSION_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        root = tempfile.mkdtemp(prefix="ann_index_session_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/idx"
        SS.ann_index_write(load_table(spark, sf_dir, "embeddings"), path)
        _SESSION_INDEX_CACHE[sf_dir] = path
    return path


@register(
    "ann_index_sla_topk",
    _ivf_pq_residual_oracle(
        budget_sql=f"GREATEST(5 * ({_AUTO_MULT_SQL}), "
        f"CAST(CEIL({SS.SLA_RERANK_FRACTION} * "
        f"(SELECT COUNT(*) FROM e)) AS BIGINT))"
    ),
    doc="On-disk index query under recall_sla=0.9 (residual pre-rank, 4% "
    "rerank floor).",
)
def q_ann_index_sla_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _session_index(spark, sf_dir)
    return SS.ann_index_topk(
        spark, path, load_table(spark, sf_dir, "embeddings"), recall_sla=0.9
    )


@register(
    "nation_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))
                        - CAST(p_retailprice * l_quantity * 0.1
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%ring%'
    GROUP BY n_name, year(o_orderdate)
    """,
    doc="TPC-H Q9 shape: profit by nation and year, cost adapted to "
    "p_retailprice*quantity*0.1.",
)
def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%ring%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    amount = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        - (F.col("p_retailprice") * F.col("l_quantity") * 0.1).cast(
            "decimal(18,4)"
        )
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("profit"))
    )


@register(
    "shipmode_priority",
    """
    SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY
                THEN 'SLOW' ELSE 'FAST' END AS ship_mode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY ship_mode
    """,
    doc="TPC-H Q12 shape: ship-lag bucket by order-priority count matrix.",
)
def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.when(
                F.col("l_shipdate")
                >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                F.lit("SLOW"),
            )
            .otherwise(F.lit("FAST"))
            .alias("ship_mode"),
            F.when(high, F.lit(1)).otherwise(F.lit(0)).alias("is_high"),
        )
        .groupBy("ship_mode")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("is_high")).alias("low_line_count"),
        )
    )


@register(
    "parts_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#2'
      AND p_size IN (1, 5, 11, 17, 23, 29, 35, 41, 47)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: distinct suppliers per part group, excluded "
    "suppliers anti-joined.",
)
def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#2")
        & F.col("p_size").isin(1, 5, 11, 17, 23, 29, 35, 41, 47)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    assoc = li.join(
        F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    return (
        assoc.join(F.broadcast(p), assoc["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "excess_shippers",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey),
    tot AS (SELECT l_partkey, SUM(qty) AS part_qty
            FROM shipped GROUP BY l_partkey)
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN
          (SELECT l_suppkey FROM shipped
           JOIN tot ON shipped.l_partkey = tot.l_partkey
           WHERE qty > 0.3 * part_qty)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape: suppliers shipping > 30% of a part's 1996 volume.",
)
def q_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = shipped.groupBy("l_partkey").agg(F.sum("qty").alias("part_qty"))
    qualifying = (
        shipped.join(tot, "l_partkey")
        .where(F.col("qty") > 0.3 * F.col("part_qty"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(qualifying, s["s_suppkey"] == qualifying["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "repeated_ngrams",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    sh AS (SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, GREATEST(len(ts) - {SA.DECON_N - 2}, 1)),
                  i -> {_shingle_concat_sql(SA.DECON_N)})) AS sh_n
           FROM toks),
    rep AS (SELECT sh_n AS shingle, COUNT(*) AS n_docs
            FROM sh GROUP BY sh_n HAVING COUNT(*) >= 2)
    SELECT shingle, CAST(n_docs AS BIGINT) AS n_docs
    FROM rep ORDER BY n_docs DESC, shingle ASC LIMIT 50
    """,
    doc="Top-50 word 8-grams shared by >= 2 documents (Lee et al. 2022).",
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize in its OWN projection before the shingle lambda: inlining
    # tokens() into word_shingles() lets the collapsed projection
    # re-evaluate the regexp inside the lambda (once per element_at —
    # measured 20s vs 0.8s at sf0.1 for the same result).
    toks = docs.select("doc_id", X.tokens("text").alias("ts"))
    sh = toks.select(
        "doc_id",
        F.explode(X.word_shingles(F.col("ts"), SA.DECON_N)).alias("shingle"),
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(50)
    )


@register(
    "asof_latest_order_cogroup",
    REGISTRY["asof_latest_order"].oracle,
    doc="asof_latest_order through cogroup applyInPandas and merge_asof "
    "(§2.9).",
)
def q_asof_latest_order_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join_cogroup

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "timestampadd(DAY, CAST(event_id % 2400 AS INT), "
            "TIMESTAMP'1995-01-01 00:00:00')"
        ).alias("asof_ts"),
    )
    o = load_table(spark, sf_dir, "orders")
    joined = asof_join_cogroup(
        ev.withColumnRenamed("user_id", "k"),
        o.withColumnRenamed("o_custkey", "k"),
        "k",
        "asof_ts",
        "o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.unix_timestamp("asof_ts").alias("asof_epoch"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@register(
    "bigram_counts",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, GREATEST(len(ts), 1)),
                  i -> ts[i] || ' ' || ts[i+1])) AS bigram
           FROM toks WHERE len(ts) >= 2)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM bg GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC LIMIT 50
    """,
    doc="Top-50 adjacent-token bigram counts with multiplicity.",
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(X.tokens("text").alias("ts")).where(F.size("ts") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i), F.element_at("ts", i + 1)
                ),
            )
        ).alias("bigram")
    )
    return (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(50)
    )


_BPE_TRAIN_ROUNDS = 6


def _bpe_merges_oracle(rounds: int) -> str:
    """Unrolled-round DuckDB twin of pipeline.bpe.train_merges (the
    pagerank-oracle pattern): same delimited symbol representation,
    same greedy-left-to-right replace, same (cnt DESC, lhs, rhs)
    tiebreak; every aggregate CAST to BIGINT (HUGEINT rule)."""
    ctes = [
        "w0 AS (SELECT regexp_replace(tok, '(.)', '|\\1|', 'g') AS w, "
        "CAST(COUNT(*) AS BIGINT) AS freq FROM "
        "(SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok "
        "FROM documents) GROUP BY 1)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"p{r} AS (SELECT pr.l AS lhs, pr.r AS rhs, "
            "CAST(SUM(freq) AS BIGINT) AS pair_cnt FROM "
            "(SELECT freq, unnest(list_transform(range(1, len(s)), "
            "i -> {'l': s[i], 'r': s[i+1]})) AS pr FROM "
            f"(SELECT freq, string_split(trim(w, '|'), '||') AS s FROM w{r - 1})) "
            "GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{r} AS (SELECT lhs, rhs, pair_cnt FROM p{r} "
            "ORDER BY pair_cnt DESC, lhs ASC, rhs ASC LIMIT 1)"
        )
        ctes.append(
            f"w{r} AS (SELECT replace(v.w, '|'||m.lhs||'||'||m.rhs||'|', "
            f"'|'||m.lhs||m.rhs||'|') AS w, v.freq "
            f"FROM w{r - 1} v CROSS JOIN m{r} m)"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, lhs, rhs, pair_cnt "
        f"FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


@register(
    "bpe_merges",
    _bpe_merges_oracle(_BPE_TRAIN_ROUNDS),
    doc="6 rounds of BPE top-pair merges over the word-frequency table "
    "(pipeline/bpe.py).",
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return BP.train_merges(spark, docs, _BPE_TRAIN_ROUNDS)


_BPE_BATCH_MERGES = 8
_BPE_BATCH_SIZE = 4


def _bpe_batched_oracle(num_merges: int, batch_size: int) -> str:
    """Unrolled-round DuckDB twin of pipeline.bpe.train_merges with
    ``batch_size`` > 1: per round, rank the top
    ``BP._CANDIDATES * batch_size`` pairs, then
    unroll the GREEDY symbol-disjoint selection one slot at a time —
    slot j takes the best-ranked candidate sharing no symbol with
    slots 1..j-1 (an empty slot contributes no symbols, so later slots
    keep scanning, exactly like the Python selector). The batch's
    replaces are applied in selection order (disjoint pairs commute,
    but the order is mirrored anyway); a '~none~' sentinel makes an
    empty slot's replace a no-op instead of a NULL. merge_round
    numbering assumes full batches — the oracle check itself fails
    loudly if the corpus ever yields a conflicted (short) batch, so
    the assumption is verified at every scale the sweep runs. Every
    CTE is MATERIALIZED: default inlining re-expands the chain
    (rk is referenced per slot, y per successor) into an
    exponential tree of parquet scans — observed as a too-many-
    open-files abort before any wrong result could even emerge."""
    assert num_merges % batch_size == 0
    rounds = num_merges // batch_size
    pool = BP._CANDIDATES * batch_size
    ctes = [
        "w0 AS MATERIALIZED (SELECT regexp_replace(tok, '(.)', '|\\1|', 'g') AS w, "
        "CAST(COUNT(*) AS BIGINT) AS freq FROM "
        "(SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok "
        "FROM documents) GROUP BY 1)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT pr.l AS lhs, pr.r AS rhs, "
            "CAST(SUM(freq) AS BIGINT) AS pair_cnt FROM "
            "(SELECT freq, unnest(list_transform(range(1, len(s)), "
            "i -> {'l': s[i], 'r': s[i+1]})) AS pr FROM "
            f"(SELECT freq, string_split(trim(w, '|'), '||') AS s FROM w{r - 1})) "
            "GROUP BY 1, 2)"
        )
        ctes.append(
            f"rk{r} AS MATERIALIZED (SELECT lhs, rhs, pair_cnt, rn FROM "
            "(SELECT *, ROW_NUMBER() OVER (ORDER BY pair_cnt DESC, "
            f"lhs ASC, rhs ASC) AS rn FROM p{r}) WHERE rn <= {pool})"
        )
        for j in range(1, batch_size + 1):
            if j == 1:
                ctes.append(
                    f"s{r}_1 AS MATERIALIZED (SELECT lhs, rhs, pair_cnt FROM rk{r} "
                    "ORDER BY rn LIMIT 1)"
                )
                ctes.append(
                    f"y{r}_1 AS MATERIALIZED (SELECT lhs AS sym FROM s{r}_1 "
                    f"UNION SELECT rhs FROM s{r}_1)"
                )
            else:
                ctes.append(
                    f"s{r}_{j} AS MATERIALIZED (SELECT lhs, rhs, pair_cnt FROM rk{r} "
                    f"WHERE lhs NOT IN (SELECT sym FROM y{r}_{j - 1}) "
                    f"AND rhs NOT IN (SELECT sym FROM y{r}_{j - 1}) "
                    "ORDER BY rn LIMIT 1)"
                )
                ctes.append(
                    f"y{r}_{j} AS MATERIALIZED (SELECT sym FROM y{r}_{j - 1} "
                    f"UNION SELECT lhs FROM s{r}_{j} "
                    f"UNION SELECT rhs FROM s{r}_{j})"
                )
        repl = "v.w"
        for j in range(1, batch_size + 1):
            src = (
                f"COALESCE((SELECT '|'||lhs||'||'||rhs||'|' FROM s{r}_{j}),"
                " '~none~')"
            )
            dst = (
                f"COALESCE((SELECT '|'||lhs||rhs||'|' FROM s{r}_{j}),"
                " '~none~')"
            )
            repl = f"replace({repl}, {src}, {dst})"
        ctes.append(f"w{r} AS MATERIALIZED (SELECT {repl} AS w, v.freq FROM w{r - 1} v)")
    selects = " UNION ALL ".join(
        f"SELECT CAST({(r - 1) * batch_size + j} AS BIGINT) AS merge_round, "
        f"lhs, rhs, pair_cnt FROM s{r}_{j}"
        for r in range(1, rounds + 1)
        for j in range(1, batch_size + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


@register(
    "bpe_merges_batched",
    _bpe_batched_oracle(_BPE_BATCH_MERGES, _BPE_BATCH_SIZE),
    doc="BPE training merging up to 4 disjoint top pairs per round "
    "(pipeline/bpe.py train_merges with batch_size=4).",
)
def q_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return BP.train_merges(
        spark, docs, _BPE_BATCH_MERGES, batch_size=_BPE_BATCH_SIZE
    )


# Ordered merge list for the encode entry: a FIXED tokenizer, which is
# what a production pipeline ships (train once, encode forever). The
# chain is order-sensitive and cascading ("t"+"h" -> "th" must land
# before "th"+"e" -> "the" can fire), so the oracle applies the exact
# same replaces in the exact same order.
_ENCODE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"),
]


def _bpe_encode_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of pipeline.bpe.encode_tokens for a literal merge
    list: the same wrap -> ordered greedy replace chain -> unwrap, then
    a global token histogram (vocab-bounded: ≤ 26 single letters + one
    symbol per merge, so the output is scale-stable)."""
    expr = "regexp_replace(word, '(.)', '|\\1|', 'g')"
    for lhs, rhs in merges:
        expr = f"replace({expr}, '|{lhs}||{rhs}|', '|{lhs}{rhs}|')"
    return f"""
    WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                       AS word
                   FROM documents),
    enc AS (SELECT {expr} AS m FROM words),
    toks AS (SELECT unnest(string_split(trim(m, '|'), '||')) AS token
             FROM enc)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY token
    """


@register(
    "bpe_encode_tokens",
    _bpe_encode_oracle(_ENCODE_MERGES),
    doc="Token histogram of the corpus encoded with a fixed merge list "
    "(pipeline/bpe.py:encode_tokens).",
)
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    enc = BP.encode_tokens(docs, _ENCODE_MERGES)
    return (
        enc.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "bigram_lm_scores",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    bg AS (SELECT doc_id,
           unnest(list_transform(range(1, GREATEST(len(ts), 1)),
                  i -> ts[i] || ' ' || ts[i+1])) AS bigram
           FROM toks WHERE len(ts) >= 2),
    cnt AS (SELECT bigram, COUNT(*) AS c_bg,
            split_part(bigram, ' ', 1) AS w1
            FROM bg GROUP BY bigram),
    pre AS (SELECT w1, SUM(c_bg) AS c_w1 FROM cnt GROUP BY w1),
    prob AS (SELECT cnt.bigram,
             CAST(FLOOR(ln(CAST(c_bg AS DOUBLE) / c_w1) * 1000000 + 0.5)
                  AS BIGINT) AS lp6
             FROM cnt JOIN pre ON cnt.w1 = pre.w1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR((CAST(SUM(lp6) AS DOUBLE) / COUNT(*)) / 100.0 + 0.5)
               / 10000.0 AS avg_logprob
    FROM bg JOIN prob ON bg.bigram = prob.bigram
    GROUP BY bg.doc_id
    """,
    doc="Mean bigram log-probability per document under the corpus's own "
    "bigram model.",
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("ts")).where(
        F.size("ts") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i), F.element_at("ts", i + 1)
                ),
            )
        ).alias("bigram"),
    )
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bg"))
    cnt = cnt.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    pre = cnt.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    prob = cnt.join(pre, "w1").select(
        "bigram",
        F.floor(
            F.log(F.col("c_bg").cast("double") / F.col("c_w1")) * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp6"),
    )
    n = F.count(F.lit(1))
    return (
        bg.join(prob, "bigram")
        .groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_bigrams"),
            (
                F.floor(
                    (F.sum("lp6").cast("double") / n) / F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("avg_logprob"),
        )
    )


# ===========================================================================
# Round-5 batch 4: banded range join, SemDeDup, per-source quota
# curation, Z-order layout keys
# ===========================================================================

from .operators import rangejoin as RJ  # noqa: E402

_INCIDENT_US = 600_000_000  # 10-minute incident window, microseconds


@register(
    "incident_event_counts",
    f"""
    WITH ev AS (SELECT event_id, event_type, epoch_us(ts) AS tus, value
                FROM events),
    inc AS (SELECT event_id AS incident_id, tus AS lo,
                   tus + {_INCIDENT_US} AS hi
            FROM ev WHERE event_type = 'error'),
    j AS (SELECT inc.incident_id, ev.value
          FROM ev JOIN inc ON ev.tus >= inc.lo AND ev.tus < inc.hi)
    SELECT incident_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM j GROUP BY incident_id
    """,
    doc="Events inside each error's 10-minute window via "
    "banded_interval_join.",
)
def q_incident_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "value",
    )
    inc = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("tus").alias("lo"),
        (F.col("tus") + F.lit(_INCIDENT_US)).alias("hi"),
    )
    joined = RJ.banded_interval_join(
        ev.select("tus", "value"), inc, "tus", "lo", "hi", band=_INCIDENT_US
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _ivf_cells_cte(n_cells: int = SS.IVF_CELLS) -> str:
    """CTE chain ending in cells(vec_id, ne, cell) — the SQL mirror of
    :func:`SS.ivf_assign` (same deterministic sampled centroids and
    cosine-desc/cid-asc argmax as the ann_ivf_topk oracle)."""
    return f"""cent AS (SELECT vec_id AS cid, ne AS ce FROM e WHERE vec_id < {n_cells}),
    ac AS (SELECT e.vec_id, e.ne, cent.cid,
           list_dot_product(e.ne, cent.ce) AS cs
           FROM e CROSS JOIN cent),
    cells AS (SELECT vec_id, ne, cid AS cell FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cs DESC, cid ASC) AS rn FROM ac)
              WHERE rn = 1)"""


@register(
    "semdedup_keep",
    f"""
    WITH {_EMB_CTE},
    {_ivf_cells_cte()},
    drops AS (SELECT DISTINCT r.vec_id
              FROM cells l JOIN cells r
                ON l.cell = r.cell AND l.vec_id < r.vec_id
              WHERE ROUND({_COS.format(a="l.ne", b="r.ne")}, 4)
                    >= {SS.SEMDEDUP_THRESHOLD})
    SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
           (d.vec_id IS NULL) AS keep
    FROM cells c LEFT JOIN drops d ON c.vec_id = d.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023): per-vector keep flag within IVF cells "
    "at cosine 0.4.",
)
def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SS.semdedup(load_table(spark, sf_dir, "embeddings"))


_SOURCE_QUOTA = 10


@register(
    "source_quota_sample",
    f"""
    WITH st AS ({REGISTRY["text_stats"].oracle}),
    j AS (SELECT d.source, st.doc_id, st.quality_score
          FROM documents d JOIN st ON d.doc_id = st.doc_id),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY quality_score DESC, doc_id ASC) AS pick_rank
           FROM j)
    SELECT source, doc_id, quality_score, CAST(pick_rank AS BIGINT) AS pick_rank
    FROM rk WHERE pick_rank <= {_SOURCE_QUOTA}
    """,
    doc="Top-N documents per source by quality score.",
)
def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    st = TS.text_stats(docs).select("doc_id", "quality_score")
    j = docs.select("doc_id", "source").join(st, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        j.withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .where(F.col("pick_rank") <= _SOURCE_QUOTA)
        .select("source", "doc_id", "quality_score", "pick_rank")
    )


# Morton (Z-order) bit-spread: 16-bit value -> even bit positions of a
# 32-bit word, via the classic mask ladder. Same constants both engines.
_Z_MASKS = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]


def _z_spread(c):
    for shift, mask in _Z_MASKS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def _z_spread_sql(expr: str) -> str:
    for shift, mask in _Z_MASKS:
        expr = f"(({expr}) | (({expr}) << {shift})) & {mask}"
    return expr


@register(
    "zorder_values",
    f"""
    WITH ev AS (SELECT event_id, user_id,
                epoch_us(ts) // 60000000 AS mins FROM events),
    st AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
                  MIN(mins) AS tlo, MAX(mins) AS thi FROM ev),
    b AS (SELECT event_id,
          ((user_id - ulo) * 256) // (uhi - ulo + 1) AS ux,
          ((mins - tlo) * 256) // (thi - tlo + 1) AS tx
          FROM ev CROSS JOIN st)
    SELECT event_id,
           CAST(({_z_spread_sql("ux")})
                | (({_z_spread_sql("tx")}) << 1) AS BIGINT) AS zval
    FROM b
    """,
    doc="Morton z-order keys over (user_id, event minute), 8 bits per "
    "dimension.",
)
def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts::timestamp) div 60000000").alias("mins"),
    )
    stats = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("mins").alias("tlo"),
        F.max("mins").alias("thi"),
    )
    b = ev.join(F.broadcast(stats)).select(
        "event_id",
        F.expr("((user_id - ulo) * 256) div (uhi - ulo + 1)").alias("ux"),
        F.expr("((mins - tlo) * 256) div (thi - tlo + 1)").alias("tx"),
    )
    return b.select(
        "event_id",
        _z_spread(F.col("ux"))
        .bitwiseOR(F.shiftleft(_z_spread(F.col("tx")), 1))
        .cast("long")
        .alias("zval"),
    )


@register(
    "sentence_split_udtf",
    r"""
    WITH sen AS (SELECT doc_id,
                 list_filter(list_transform(
                     string_split_regex(text, '[.!?]+'), s -> trim(s)),
                     s -> s <> '') AS ss
                 FROM documents)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS sentence_idx,
           ss[i] AS sentence,
           CAST(len(list_filter(string_split_regex(ss[i], '[ \t\n\r]+'),
                                w -> w <> '')) AS BIGINT) AS n_words
    FROM sen CROSS JOIN LATERAL (SELECT unnest(range(1, len(ss) + 1)) AS i)
    """,
    doc="One row per sentence through a Python UDTF (§2.9); sentence_stats "
    "semantics.",
)
def q_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.udtfs import sentence_split_lateral

    return sentence_split_lateral(spark, load_table(spark, sf_dir, "documents"))


@register(
    "doc_provenance",
    # the basename is deterministic for the fixture layout, so the
    # oracle pins the VALUE while the Spark side exercises the real
    # hidden-column API (DuckDB's filename= virtual column is the same
    # feature; the pre-registered view doesn't expose it)
    "SELECT doc_id, 'documents.parquet' AS file_name FROM documents",
    doc="Each document tagged with its source file via _metadata.",
)
def q_doc_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.col("_metadata.file_name").alias("file_name"))


@register(
    "null_safe_join",
    """
    WITH l AS (SELECT nullif(event_type, 'error') AS k,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1),
    r AS (SELECT DISTINCT nullif(event_type, 'error') AS k,
                 COALESCE(nullif(event_type, 'error'), '(redacted)') AS label
          FROM events)
    SELECT r.label, l.cnt
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
    doc="NULL-safe equi-join (eqNullSafe).",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.nullif("event_type", F.lit("error")).alias("k")
    )
    left = ev.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    right = ev.distinct().select(
        "k", F.coalesce("k", F.lit("(redacted)")).alias("label")
    )
    return left.join(
        F.broadcast(right), left["k"].eqNullSafe(right["k"])
    ).select("label", "cnt")


# Incremental maintenance split point: rows at/below the watermark are
# the "already aggregated" base, rows above are the delta batch.
_INCR_SPLIT = 3000


@register(
    "incremental_merge_counts",
    # the oracle is the FROM-SCRATCH aggregate: the differential check
    # itself proves merge-of-partials ≡ full recompute
    """
    SELECT l_suppkey AS dst, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(l_quantity), 4) AS qty
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="Base aggregate merged with a delta's partial aggregate; equals the "
    "from-scratch aggregate.",
)
def q_incremental_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("l_suppkey").alias("dst")).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("qty")
        )

    base = agg(li.where(F.col("l_orderkey") <= _INCR_SPLIT))
    delta = agg(li.where(F.col("l_orderkey") > _INCR_SPLIT))
    return (
        base.unionByName(delta)
        .groupBy("dst")
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.round(F.sum("qty"), 4).alias("qty"),
        )
    )


@register(
    "events_hourly_gapfill",
    """
    WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS b
                FROM events),
    cnt AS (SELECT event_type, b, COUNT(*) AS c FROM ev GROUP BY 1, 2),
    sp AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ev),
    grid AS (SELECT t.event_type, g.b
             FROM (SELECT DISTINCT event_type FROM ev) t
             CROSS JOIN (SELECT unnest(generate_series(
                 (SELECT lo FROM sp), (SELECT hi FROM sp))) AS b) g)
    SELECT grid.event_type, CAST(grid.b * 3600 AS BIGINT) AS hour_start,
           CAST(COALESCE(cnt.c, 0) AS BIGINT) AS cnt
    FROM grid LEFT JOIN cnt
      ON grid.event_type = cnt.event_type AND grid.b = cnt.b
    """,
    doc="Hourly per-type event counts with zero rows for silent hours.",
)
def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts::timestamp) div 3600000000").alias("b"),
    )
    cnt = ev.groupBy("event_type", "b").agg(F.count(F.lit(1)).alias("c"))
    span = ev.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    grid = (
        ev.select("event_type")
        .distinct()
        .join(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("b"),
        )
    )
    return grid.join(cnt, ["event_type", "b"], "left").select(
        "event_type",
        (F.col("b") * 3600).cast("long").alias("hour_start"),
        F.coalesce("c", F.lit(0)).cast("long").alias("cnt"),
    )


@register(
    "funnel_conversion",
    """
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
    v AS (SELECT user_id, MIN(tus) AS t1 FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT ev.user_id, MIN(ev.tus) AS t2
          FROM ev JOIN v ON ev.user_id = v.user_id
          WHERE ev.event_type = 'click' AND ev.tus > v.t1
          GROUP BY ev.user_id),
    p AS (SELECT ev.user_id, MIN(ev.tus) AS t3
          FROM ev JOIN c ON ev.user_id = c.user_id
          WHERE ev.event_type = 'purchase' AND ev.tus > c.t2
          GROUP BY ev.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
    doc="Users reaching view, then click, then purchase, each step after the "
    "previous.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("tus") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("tus") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t3"))
    )
    counts = [
        df.agg(F.count(F.lit(1)).cast("long").alias(name))
        for df, name in ((v, "n_view"), (c, "n_view_click"), (p, "n_view_click_purchase"))
    ]
    return counts[0].join(counts[1]).join(counts[2])


@register(
    "cohort_retention",
    """
    WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
                FROM events),
    first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id)
    SELECT CAST(f.cohort_wk AS BIGINT) AS cohort_wk,
           CAST(ev.wk - f.cohort_wk AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active
    FROM ev JOIN first f ON ev.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="Active users per (first-week cohort, week offset).",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts::timestamp) div 604800000000").alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            F.col("cohort_wk").cast("long").alias("cohort_wk"),
            (F.col("wk") - F.col("cohort_wk")).cast("long").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
    )


@register(
    "dedup_cluster_sizes",
    f"""
    WITH cc AS MATERIALIZED ({_DEDUP_CLUSTERS_ORACLE})
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY cluster_id)
    GROUP BY cluster_size
    """,
    doc="Histogram of dedup_clusters cluster sizes.",
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = DD.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cc = G.connected_components(spark, edges)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


_VOCAB_V = 10


@register(
    "vocab_oov_rate",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok ASC LIMIT {_VOCAB_V}),
    per AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
                   SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
            GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 4) AS oov_rate
    FROM per
    """,
    doc="Per-document out-of-vocabulary rate against the top-V token "
    "vocabulary.",
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_V)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 4
            ).alias("oov_rate"),
        )
    )


@register(
    "source_mixture_weights",
    f"""
    WITH per AS (SELECT source, COUNT(*) AS n_docs,
                        SUM(len({_TOKS})) AS n_tokens
                 FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t FROM per),
    sh AS (SELECT source, n_docs, n_tokens,
                  sqrt(CAST(n_tokens AS DOUBLE) / tot.t) AS sw
           FROM per CROSS JOIN tot),
    den AS (SELECT SUM(sw) AS d FROM sh)
    SELECT sh.source, CAST(sh.n_docs AS BIGINT) AS n_docs,
           CAST(sh.n_tokens AS BIGINT) AS n_tokens,
           ROUND(sh.sw * sh.sw, 6) AS token_share,
           ROUND(sh.sw / den.d, 4) AS mix_weight
    FROM sh CROSS JOIN den
    """,
    doc="Per-source token share re-weighted by share^0.5 and normalized.",
)
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(X.tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("t"))
    sh = per.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.sqrt(F.col("n_tokens").cast("double") / F.col("t")).alias("sw"),
    )
    den = sh.agg(F.sum("sw").alias("d"))
    return sh.join(F.broadcast(den)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("sw") * F.col("sw"), 6).alias("token_share"),
        F.round(F.col("sw") / F.col("d"), 4).alias("mix_weight"),
    )


@register(
    "conditional_agg_flags",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors,
           CAST(COUNT(*) FILTER (value > 9.0) AS BIGINT) AS n_high,
           bool_or(event_type = 'purchase') AS ever_purchased,
           bool_and(value >= 0) AS all_nonneg,
           ROUND(CASE WHEN COUNT(*) FILTER (event_type = 'click') = 0
                      THEN NULL
                      ELSE CAST(COUNT(*) FILTER (event_type = 'purchase')
                                AS DOUBLE)
                           / COUNT(*) FILTER (event_type = 'click') END,
                 4) AS purchase_per_click
    FROM events GROUP BY user_id
    """,
    doc="count_if/bool_or/bool_and and try_divide conversion ratio per user.",
)
def q_conditional_agg_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n_clicks = F.count_if(F.col("event_type") == "click")
    n_purch = F.count_if(F.col("event_type") == "purchase")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "error").cast("long").alias("n_errors"),
        F.count_if(F.col("value") > 9.0).cast("long").alias("n_high"),
        F.bool_or(F.col("event_type") == "purchase").alias("ever_purchased"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.round(
            F.try_divide(n_purch.cast("double"), n_clicks), 4
        ).alias("purchase_per_click"),
    )


# ===========================================================================
# Round-6 additions: the event-log modeling layer (sessionization +
# SCD2 change-log compaction), the canonical MapReduce secondary-sort
# pattern, and deterministic weighted (priority) sampling for corpus
# mixing. All four are single-shuffle plans.
# ===========================================================================

_SESSION_GAP_SEC = 1800


@register(
    "batch_sessionize",
    f"""
    WITH e AS (SELECT user_id, event_id, value,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec
               FROM events),
    m AS (SELECT *,
                 CASE WHEN LAG(ts_sec) OVER w IS NULL
                        OR ts_sec - LAG(ts_sec) OVER w > {_SESSION_GAP_SEC}
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
    s AS (SELECT *,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id
                      ORDER BY ts_sec, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          FROM m)
    SELECT user_id, session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts_sec) - MIN(ts_sec) AS duration_sec,
           FLOOR(CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
    doc="Sessions split at gaps > 30 min, rolled up per session.",
)
def q_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import eventlog as EL

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        "value",
    )
    return EL.sessionize(ev, gap_sec=_SESSION_GAP_SEC)


@register(
    "scd2_event_intervals",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec
               FROM events),
    c AS (SELECT *, LAG(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_t
          FROM e),
    f AS (SELECT * FROM c WHERE prev_t IS NULL OR prev_t <> event_type)
    SELECT user_id, event_type, ts_sec AS valid_from_sec,
           LEAD(ts_sec) OVER
               (PARTITION BY user_id ORDER BY ts_sec, event_id)
               AS valid_to_sec,
           LEAD(ts_sec) OVER
               (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
               AS is_current
    FROM f
    """,
    doc="Per-user event-type change log with [valid_from, valid_to) "
    "intervals.",
)
def q_scd2_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import eventlog as EL

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_sec"),
    )
    return EL.scd2_intervals(ev)


@register(
    "secondary_sort_orders",
    """
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           string_agg(CAST(l_orderkey AS VARCHAR), ','
                      ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS ordered_orders
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="Per-supplier order keys sorted by ship date (MapReduce secondary "
    "sort).",
)
def q_secondary_sort_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return R.ordered_group_concat(
        li,
        "l_suppkey",
        ("l_shipdate", "l_orderkey", "l_linenumber"),
        "l_orderkey",
        out_col="ordered_orders",
    )


# Priority sampling (Duffield/Lund/Thorup): priority q = w / u with
# u ~ Uniform(0,1]; the top-k by q is a weighted sample without
# replacement. u is md5-derived (no RNG), and q is ONE IEEE division of
# exactly-representable integers — bit-identical in Spark and DuckDB,
# so even the ORDER BY boundary is deterministic cross-engine.
_PRIO_MOD = 1 << 20
_PRIO_K = 50


@register(
    "weighted_sample_priority",
    f"""
    WITH w AS (
      SELECT doc_id, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) % {_PRIO_MOD} AS BIGINT) AS u
      FROM documents)
    SELECT doc_id, n_chars,
           FLOOR((CAST(n_chars * {2 * _PRIO_MOD} AS DOUBLE)
                  / CAST(2 * u + 1 AS DOUBLE)) * 10000 + 0.5) / 10000
               AS priority
    FROM w
    ORDER BY CAST(n_chars * {2 * _PRIO_MOD} AS DOUBLE)
             / CAST(2 * u + 1 AS DOUBLE) DESC, doc_id
    LIMIT {_PRIO_K}
    """,
    doc="Top-k priority sample weighted by n_chars (Duffield et al. JACM'07).",
)
def q_weighted_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import sampling as SA2

    docs = load_table(spark, sf_dir, "documents")
    return SA2.priority_sample(docs, k=_PRIO_K, mod=_PRIO_MOD)


_SHUFFLE_EPOCH = 3
_SHUFFLE_K = 200


@register(
    "epoch_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                  || '#{_SHUFFLE_EPOCH}'), 1, 15)) AS UBIGINT) AS BIGINT)
                 AS shuffle_key
      FROM documents)
    SELECT doc_id, shuffle_key FROM keyed
    ORDER BY shuffle_key, doc_id LIMIT {_SHUFFLE_K}
    """,
    doc="First K keys of epoch 3's md5 permutation "
    "(pipeline/sampling.py:epoch_shuffle).",
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = SA.epoch_shuffle(docs, epoch=_SHUFFLE_EPOCH)
    return (
        out.select("doc_id", "shuffle_key")
        .orderBy("shuffle_key", "doc_id")
        .limit(_SHUFFLE_K)
    )


# Same accumulation order as sampling.hash_split (dict iteration order):
# the bracket ints embedded in the oracle are computed by the identical
# float sum, so the two engines share the exact cut points.
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _hash_split_oracle() -> str:
    names = list(_SPLIT_WEIGHTS)
    cases, acc = [], 0.0
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name]
        cases.append(f"WHEN b < {int(acc * SA.SPLIT_MOD)} THEN '{name}'")
    return f"""
    WITH u AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                  || '#split-v1'), 1, 15)) AS UBIGINT) % {SA.SPLIT_MOD} AS b
      FROM documents),
    s AS (SELECT doc_id, CASE {" ".join(cases)} ELSE '{names[-1]}' END
              AS split
          FROM u)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM s GROUP BY split
    """


@register(
    "hash_split",
    _hash_split_oracle(),
    doc="90/5/5 md5 train/val/test split (pipeline/sampling.py:hash_split).",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = SA.hash_split(docs, _SPLIT_WEIGHTS)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@register(
    "degree_distribution",
    f"""
    WITH deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
                 FROM ({FOLLOWER_EDGES_SQL}) GROUP BY src)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY degree
    """,
    doc="Histogram of vertex out-degrees.",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = (
        follower_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )


_HIST_BIN = 20_000.0  # o_totalprice bin width


@register(
    "value_histogram",
    f"""
    SELECT CAST(FLOOR(o_totalprice / {_HIST_BIN}) AS BIGINT) AS bucket,
           CAST(CAST(FLOOR(o_totalprice / {_HIST_BIN}) AS BIGINT)
                * {_HIST_BIN} AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY bucket
    """,
    doc="Fixed-width histogram of order totals.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(_HIST_BIN)).cast("long")
    return (
        o.select(
            bucket.alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(_HIST_BIN)).alias("bucket_lo"),
            "n_orders",
            "min_price",
            "max_price",
        )
    )


@register(
    "time_weighted_avg",
    """
    WITH e AS (SELECT user_id, event_id,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
                      CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v6
               FROM events),
    iv AS (SELECT user_id, v6,
                  LEAD(ts_sec) OVER (PARTITION BY user_id
                       ORDER BY ts_sec, event_id) - ts_sec AS dur
           FROM e)
    SELECT user_id,
           CAST(SUM(dur) AS BIGINT) AS total_sec,
           FLOOR((CAST(SUM(v6 * dur) AS DOUBLE) / SUM(dur)) / 100.0 + 0.5)
               / 10000.0 AS twa_value
    FROM iv WHERE dur IS NOT NULL AND dur > 0
    GROUP BY user_id
    """,
    doc="Per-user duration-weighted average value.",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("v6"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    iv = ev.select(
        "user_id",
        "v6",
        (F.lead("ts_sec").over(w) - F.col("ts_sec")).alias("dur"),
    ).where(F.col("dur").isNotNull() & (F.col("dur") > 0))
    return iv.groupBy("user_id").agg(
        F.sum("dur").cast("long").alias("total_sec"),
        (
            F.floor(
                (F.sum(F.col("v6") * F.col("dur")).cast("double") / F.sum("dur"))
                / F.lit(100.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("twa_value"),
    )


_COOC_W = 3  # co-occurrence window: tokens (i+1 .. i+3] pair with token i
_COOC_MIN = 5  # drop pairs seen fewer than 5 times (PMI noise floor)


@register(
    "cooccurrence_pmi",
    f"""
    WITH toks AS (SELECT {_TOKS} AS ts FROM documents),
    pos AS (SELECT ts, i FROM toks CROSS JOIN LATERAL
            (SELECT unnest(range(1, len(ts) + 1)) AS i)),
    pr AS (SELECT x, y FROM
           (SELECT ts[i] AS x, unnest(list_slice(ts, i + 1, i + {_COOC_W}))
                   AS y FROM pos)
           WHERE x <> y),
    und AS (SELECT least(x, y) AS w1, greatest(x, y) AS w2 FROM pr),
    cxy AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM und GROUP BY w1, w2),
    uni AS (SELECT unnest(ts) AS w FROM toks),
    cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
    tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS nw,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS np)
    SELECT w1, w2, c_xy, a.c AS c_x, b.c AS c_y,
           ((((CAST(c_xy AS DOUBLE) * nw) * nw) / np) / a.c) / b.c AS lift
    FROM cxy JOIN cw a ON w1 = a.w JOIN cw b ON w2 = b.w CROSS JOIN tot
    WHERE c_xy >= {_COOC_MIN}
    ORDER BY c_xy DESC, w1, w2 LIMIT 50
    """,
    doc="Top-50 windowed word co-occurrence pairs with lift "
    "(ReduceByKey/.../FollowersCount.scala:26-28).",
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = TS.cooccurrence_pairs(
        docs, window=_COOC_W, min_count=_COOC_MIN
    )
    return out.orderBy(F.desc("c_xy"), "w1", "w2").limit(50)


@register(
    "dedup_keep_best",
    f"""
    WITH cc AS MATERIALIZED ({_DEDUP_CLUSTERS_ORACLE}),
    st AS (SELECT doc_id, quality_score
           FROM ({REGISTRY["text_stats"].oracle})),
    m AS (SELECT cc.doc_id, cc.cluster_id, st.quality_score
          FROM cc JOIN st ON cc.doc_id = st.doc_id),
    r AS (SELECT cluster_id, doc_id, quality_score,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY quality_score DESC, doc_id ASC) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                     AS n_members
          FROM m)
    SELECT doc_id, cluster_id, n_members, quality_score
    FROM r WHERE rn = 1
    UNION ALL
    SELECT st.doc_id, st.doc_id AS cluster_id,
           CAST(1 AS BIGINT) AS n_members, st.quality_score
    FROM st WHERE st.doc_id NOT IN (SELECT doc_id FROM cc)
    """,
    doc="Highest-quality member per near-dup cluster plus singletons "
    "(pipeline/dedup.py keep_best_survivors).",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(docs)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = G.connected_components(spark, edges).select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    stats = TS.text_stats(docs).select("doc_id", "quality_score")
    return DD.keep_best_survivors(labels, stats, docs)


# ===========================================================================
# Registry ordering: the driver's correctness gate hashes REGISTRY[:50],
# so _CORRECTNESS_WINDOW holds those 50 entries in order and _TAIL holds
# the rest. Every entry, head and tail, stays oracle-checked locally by
# tests/test_oracle_parity (sf0.001) and tools/check_oracles.py (sf0.01).
# ===========================================================================

_CORRECTNESS_WINDOW = [
    "triangle_count_broadcast", "salted_follower_count", "distinct_pairs",
    "right_outer_join", "explode_tokens", "ann_ivf_filtered_topk",
    "distinct_kmv_containment", "bpe_merges", "set_ops", "bpe_encode_tokens",
    "epoch_shuffle", "hash_split", "anti_join", "customer_running_totals",
    "lang_id", "udf_discounted_price", "repetition_stats", "pii_redact",
    "order_priority_semi", "volume_shipping", "returned_items",
    "promo_revenue", "large_orders", "disjunctive_revenue", "idle_customers",
    "min_cost_supplier", "grouping_sets_pricing", "forecast_revenue",
    "order_count_distribution", "small_quantity_revenue", "market_share",
    "late_exclusive_suppliers", "important_parts", "doc_chunks",
    "funnel_conversion", "best_revenue_supplier", "stream_enriched_totals",
    "events_props_variant", "ann_ivf_trained_topk", "sequence_packing",
    "stratified_sample", "hof_gauntlet", "semdedup_keep",
    "source_quota_sample", "zorder_values", "bigram_counts", "nation_profit",
    "parts_supplier_counts", "excess_shippers", "repeated_ngrams",
]

_TAIL = [
    "sentence_split_udtf", "asof_latest_order_cogroup", "cooccurrence_pmi",
    "dedup_keep_best", "shipmode_priority", "bigram_lm_scores",
    "batch_sessionize", "scd2_event_intervals", "secondary_sort_orders",
    "weighted_sample_priority", "doc_provenance", "null_safe_join",
    "incremental_merge_counts", "events_hourly_gapfill", "cohort_retention",
    "dedup_cluster_sizes", "vocab_oov_rate", "source_mixture_weights",
    "conditional_agg_flags", "follower_count", "window_events",
    "udaf_weighted_avg", "pricing_summary", "similarity_topk",
    "events_props_json", "sales_rollup", "asof_latest_order",
    "session_windows", "quantity_percentiles", "pagerank_general",
    "dedup_minhash_lsh", "doc_fingerprints", "text_stats", "grouped_sum",
    "grouped_min_max", "global_agg", "grouped_collect", "case_when",
    "scalar_gauntlet", "inner_join", "semi_join", "broadcast_join",
    "two_hop_paths", "top_k", "union_reagg", "dedup_clusters_incremental",
    "distinct_kmv_sketch", "dedup_clusters", "dedup_clusters_star",
    "corpus_curation", "distinct_kmv_incremental", "ann_index_sla_topk",
    "pagerank_idfilter", "sssp_distances", "sssp_paths", "triangle_count",
    "kmeans_centroids", "dedup_exact", "simhash_fingerprints",
    "distinct_kmv_stream", "ann_index_compact_topk", "dedup_stream_lsh",
    "incident_event_counts", "degree_distribution", "value_histogram",
    "time_weighted_avg", "triangle_count_ordered", "ann_ivf_topk",
    "quality_filter", "explode_variants", "window_function_gauntlet",
    "events_rolling_hour", "similarity_topk_q8", "dedup_ngram_jaccard",
    "token_counts_bpe", "token_doc_frequency", "sql_revenue_by_nation",
    "shipping_priority", "distinct_users_per_type", "sliding_windows",
    "top_events_per_user", "pagerank_df_quirk", "pagerank_topk",
    "kmeans_followers", "pivot_event_counts", "unpivot_event_counts",
    "top_supplier", "salted_join", "decontamination", "multimodal_meta",
    "sentence_stats", "text_normalize", "inverted_index", "bm25_topk",
    "max_filter", "dedup_embedding_nearest", "bpe_merges_batched",
    "ann_ivf_pq64_residual_topk", "distinct_kmv_jaccard",
]


def _reorder_registry() -> None:
    ordered = _CORRECTNESS_WINDOW + _TAIL
    missing = set(REGISTRY) - set(ordered)
    extra = set(ordered) - set(REGISTRY)
    if missing or extra or len(ordered) != len(set(ordered)):
        raise AssertionError(
            f"registry order out of sync: missing={sorted(missing)} "
            f"extra={sorted(extra)}"
        )
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update({name: snapshot[name] for name in ordered})


_reorder_registry()
