"""Relational driver-gate queries (aggregation / join / window / as-of).

These exercise the engine surface SURVEY.md §2.3-2.6 maps onto plain
Catalyst operators: broadcast equi-joins (J1), partial+final aggregation
(A1 — the Schubert-Gertz parallel covariance as exact integer partial
sums), window top-k (W4), the as-of positional join (J6, a union + window
carry-forward with a DuckDB ASOF JOIN oracle), and gap-based
sessionization.

Exactness policy: money/quantity doubles are converted to integer cents
with floor(x * 100.0 + 0.5) — identical arithmetic in both engines — so
every SUM is an exact int64 and aggregation order cannot matter. Derived
ratios divide the identical integers in one fixed op sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

_CENTS = "CAST(floor({col} * 100.0 + 0.5) AS BIGINT)"


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ nation with broadcast dims (J1 pattern)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.withColumn("rev_c", F.expr(_CENTS.format(col="o_totalprice")))
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("rev_c").alias("revenue_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def o_revenue_by_nation() -> str:
    rev = _CENTS.format(col="o_totalprice")
    return f"""
SELECT n_name, CAST(SUM({rev}) AS BIGINT) AS revenue_c, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""


def q_window_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per user by value (W4 window top-k)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("user_id", F.col("rank").cast("int").alias("rank"), "event_id")
    )


def o_window_topk_events() -> str:
    return """
SELECT user_id, CAST(rank AS INT) AS rank, event_id FROM (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3"""


def q_asof_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J6): for each purchase, the latest view at-or-before it
    by the same user, via the pure-JVM union+window carry-forward
    (operators/asof.py)."""
    from orthority_spark.operators.asof import asof_join_window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    return asof_join_window(
        purchases, views, "user_id", "ts", ["event_id"], "view_event_id"
    )


def o_asof_join_window() -> str:
    return """
SELECT p.event_id, v.event_id AS view_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts"""


def q_covar_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel covariance (A1, Schubert-Gertz) as exact integer partial
    sums + the finalized covariance — partition-order independent by
    construction (the reference merges per-tile partials,
    /root/reference/orthority/pan_sharp.py:228-309)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.expr(_CENTS.format(col="l_quantity"))
    price = F.expr(_CENTS.format(col="l_extendedprice"))
    agg = (
        li.select(
            "l_returnflag",
            qty.alias("q"),
            price.alias("p"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sum_q"),
            F.sum("p").alias("sum_p"),
            F.sum(F.col("q") * F.col("p")).alias("sum_qp"),
        )
    )
    return agg.withColumn(
        "covar",
        (
            F.col("sum_qp").cast("double")
            - F.col("sum_q").cast("double") * F.col("sum_p").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
        / F.lit(10000.0),
    )


def o_covar_partials() -> str:
    qty = _CENTS.format(col="l_quantity")
    price = _CENTS.format(col="l_extendedprice")
    return f"""
WITH c AS (SELECT l_returnflag, {qty} AS q, {price} AS p FROM lineitem),
agg AS (
  SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(SUM(p) AS BIGINT) AS sum_p, CAST(SUM(q * p) AS BIGINT) AS sum_qp
  FROM c GROUP BY l_returnflag
)
SELECT *, (CAST(sum_qp AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_p AS DOUBLE) / n)
          / (n - 1) / 10000.0 AS covar
FROM agg"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    boundary = F.when(
        F.col("ts")
        > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES"),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("boundary", boundary)
        .withColumn(
            "session_id",
            F.sum("boundary").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select("event_id", "user_id", "session_id")
    )


def o_sessionize() -> str:
    return """
WITH b AS (
  SELECT event_id, user_id, ts,
         CASE WHEN ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS boundary
  FROM events
)
SELECT event_id, user_id,
       CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM b"""


def q_anti_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J5's unmatched-GCP warning construct): customers
    with no high-value order."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_totalprice") > 400000
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def o_anti_join_unmatched() -> str:
    return (
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 400000)"
    )


QUERIES = {
    "revenue_by_nation": (q_revenue_by_nation, o_revenue_by_nation),
    "window_topk_events": (q_window_topk_events, o_window_topk_events),
    "asof_join_window": (q_asof_join_window, o_asof_join_window),
    "covar_partials": (q_covar_partials, o_covar_partials),
    "sessionize": (q_sessionize, o_sessionize),
    "anti_join_unmatched": (q_anti_join_unmatched, o_anti_join_unmatched),
}
