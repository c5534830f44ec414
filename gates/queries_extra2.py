"""Set-op, gap-fill and RPC-camera gate queries: the EXCEPT set
op over footprint joins, a dense per-day rollup with last-observation
carry-forward, and the RPC-footprint PIP join — all oracle-gated."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries_geo import pages_cells, pages_cte, _pip_oracle


def q_except_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op EXCEPT: pages inside img_0000 but NOT img_0001."""
    from orthority_spark.operators import tile_join
    from orthority_spark.sources import footprints as fp

    recs = fp.footprint_records()
    j = tile_join.pip_join_broadcast(
        pages_cells(spark, sf_dir),
        fp.footprint_catalog_flat_df(spark, recs),
        fp.footprint_edges_df(spark, recs),
    )
    a = j.where(F.col("filename") == "img_0000").select("url")
    b = j.where(F.col("filename") == "img_0001").select("url")
    return a.exceptAll(b).distinct()


def o_except_pages() -> str:
    base = _pip_oracle(select="url, filename")
    with_part, _, _ = base.rpartition(
        "SELECT url, filename FROM votes WHERE n % 2 = 1"
    )
    return f"""{with_part}
SELECT url FROM votes WHERE n % 2 = 1 AND filename = 'img_0000'
EXCEPT
SELECT url FROM votes WHERE n % 2 = 1 AND filename = 'img_0001'"""


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style dense rollup (time_bucket_gapfill + LOCF recast):
    per event type, daily integer-cent sums densified over the type's
    own [min_day, max_day] range; missing days are emitted with the
    last-observed value carried forward and flagged.

    100 TB shape: the sparse rollup is one partial-aggregated groupBy;
    the generated day spine is per-type metadata (explode of a sequence,
    never a data-sized join); LOCF is a single ordered window per type."""
    from pyspark.sql import Window

    from .queries_rel import _CENTS

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        )
        .agg(F.sum(F.expr(_CENTS.format(col="value"))).alias("s"))
    )
    spine = (
        b.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(b, ["event_type", "day"], "left")
        .select(
            "event_type",
            # TIMESTAMP output: DATE maps to pandas object vs datetime64
            # differently across the two engines' toPandas paths
            F.col("day").cast("timestamp").alias("day"),
            F.last("s", ignorenulls=True).over(w).alias("sum_value_c"),
            F.col("s").isNull().alias("gap_filled"),
        )
    )


def o_events_gapfill() -> str:
    from .queries_rel import _CENTS

    cents = _CENTS.format(col="value")
    return f"""
WITH b AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM({cents}) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
), rng AS (
  SELECT event_type,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM b GROUP BY 1)
), j AS (
  SELECT r.event_type, r.day, b.s
  FROM rng r LEFT JOIN b ON r.event_type = b.event_type AND r.day = b.day
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       LAST_VALUE(s IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING
       ) AS sum_value_c,
       s IS NULL AS gap_filled
FROM j"""


QUERIES = {
    "events_gapfill": (q_events_gapfill, o_events_gapfill),
    "except_pages": (q_except_pages, o_except_pages),
}


def q_rpc_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against the RPC camera's footprint (P7 in the distributed
    path): the satellite-style polygon comes from RpcModel.pixel_to_world_z
    at the ground plane, runs through the identical broadcast PIP plan."""
    from orthority_spark.operators import tile_join
    from orthority_spark.sources import footprints as fp

    recs = fp.rpc_footprint_records()
    return tile_join.pip_join_broadcast(
        pages_cells(spark, sf_dir),
        fp.footprint_catalog_flat_df(spark, recs),
        fp.footprint_edges_df(spark, recs),
    )


def o_rpc_pip_join() -> str:
    from orthority_spark.oracle import dlit
    from orthority_spark.operators.tile_join import pip_crossing_sql
    from orthority_spark.sources import footprints as fp

    recs = fp.rpc_footprint_records()
    rows = ", ".join(
        f"('{n}', {dlit(x1)}, {dlit(y1)}, {dlit(x2)}, {dlit(y2)})"
        for n, x1, y1, x2, y2 in recs["edges"]
    )
    cross = pip_crossing_sql("c.px", "c.py", e="e.")
    return f"""{pages_cte()},
edges(filename, x1, y1, x2, y2) AS (VALUES {rows}),
votes AS (
  SELECT c.url, e.filename, SUM({cross}) AS n
  FROM cells c, edges e GROUP BY ALL
)
SELECT url, filename FROM votes WHERE n % 2 = 1"""


QUERIES["rpc_pip_join"] = (q_rpc_pip_join, o_rpc_pip_join)
