"""Common-Crawl-style pages: synthetic generator + derived-pages spec.

Input shape per BASELINE.json input_hint: (url string, warc_ts timestamp,
html binary, text string, lang string). Two constructions:

1. :func:`synthetic_pages` — the engine's seeded generator (FIXTURES.md §1)
   built entirely from JVM-side Column expressions over ``spark.range`` (no
   Python in the loop — generates millions of rows/sec for the bench). Its
   numpy/pandas twin ``synthetic_pages_pandas`` lives in ``tests/builders.py``
   as the single-process oracle; per-url ``text`` byte-identity between the
   two is a test invariant (BASELINE.json:15).

2. :func:`derived_pages_sql` — a dialect-parameterised SQL fragment deriving
   the same page shape from an integer key column of the driver's testdata
   tables (orders.o_orderkey). The SAME text runs as Spark SQL and DuckDB
   SQL, so driver correctness checks (CORRECTNESS_r{N}.json) compare
   bit-identical arithmetic.

Geotag distribution (frozen in config): 60% of keys land spread across the
footprint-block bbox, keys with key%5==4 are shifted 0.5 deg east (outside,
negative join cases), and keys with key%5==1 collapse onto ONE mega-cell —
a ~40x hotter key than the median cell, the coastal/urban-skew fixture that
explicit salting must handle (SURVEY.md §4 O9; AQE cannot split one key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import config

LANGS = ["en", "de", "fr", "es", "pt", "zh"]
_MUL1 = 2654435761
_MUL2 = 1046527
_ADD2 = 12345


# ---------------------------------------------------------------------------
# shared integer geotag derivation (the canonical spec)
# ---------------------------------------------------------------------------

def _udeg_spec(key: str, div: str) -> tuple[str, str]:
    """(lat_udeg_sql, lon_udeg_sql) for an integer key expression."""
    u1 = f"(({key}) * {_MUL1}) % 1000000"
    u2 = f"(({key}) * {_MUL2} + {_ADD2}) % 1000000"
    base_lat = f"({config.LAT_MIN_UDEG} + ({u1}) * {config.LAT_SPAN_UDEG} {div} 1000000)"
    base_lon = f"({config.LON_MIN_UDEG} + ({u2}) * {config.LON_SPAN_UDEG} {div} 1000000)"
    lat = (
        f"(CASE WHEN ({key}) % 5 = 1 THEN {config.MEGA_LAT_UDEG} "
        f"ELSE {base_lat} END)"
    )
    lon = (
        f"(CASE WHEN ({key}) % 5 = 1 THEN {config.MEGA_LON_UDEG} "
        f"WHEN ({key}) % 5 = 4 THEN {base_lon} + {config.OUTSIDE_SHIFT_UDEG} "
        f"ELSE {base_lon} END)"
    )
    return lat, lon


def derived_pages_sql(key: str, dialect: str) -> dict[str, str]:
    """Column-expression SQL fragments deriving a page row from ``key``.

    dialect: 'spark' or 'duckdb' (integer division + string cast syntax).
    Returns {url, lat_udeg, lon_udeg, lat, lon, lang, text}.
    """
    div = "DIV" if dialect == "spark" else "//"
    s = "STRING" if dialect == "spark" else "VARCHAR"
    lat_udeg, lon_udeg = _udeg_spec(key, div)
    lang = (
        f"(CASE ({key}) % 6 "
        + " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(LANGS))
        + " END)"
    )
    url = (
        f"('https://site' || CAST(({key}) % 1000 AS {s}) || '.example/p/' "
        f"|| CAST({key} AS {s}))"
    )
    text = (
        f"('page ' || CAST({key} AS {s}) || ' geo:' || CAST({lat_udeg} AS {s}) "
        f"|| ',' || CAST({lon_udeg} AS {s}) || ' lang ' || {lang})"
    )
    return {
        "url": url,
        "lat_udeg": lat_udeg,
        "lon_udeg": lon_udeg,
        "lat": f"(CAST({lat_udeg} AS DOUBLE) / 1000000.0)",
        "lon": f"(CAST({lon_udeg} AS DOUBLE) / 1000000.0)",
        "lang": lang,
        "text": text,
    }

# ---------------------------------------------------------------------------
# synthetic pages (engine generator, JVM-side expressions)
# ---------------------------------------------------------------------------

def _udeg_cols(key_name: str = "id") -> tuple[Column, Column]:
    """Spark Columns from the canonical spec (single source of truth)."""
    lat_sql, lon_sql = _udeg_spec(key_name, "DIV")
    return F.expr(lat_sql), F.expr(lon_sql)


def synthetic_pages(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic pages table of ``n`` rows, built from spark.range
    over ``defaultParallelism`` partitions.

    All columns are Column expressions (whole-stage codegen; zero Python) —
    at 100 TB this generator stands in for the Iceberg scan of the real
    pages table, and everything downstream treats it as an opaque source.
    """
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    key = F.col("id")
    lat_udeg, lon_udeg = _udeg_cols("id")
    lat = (lat_udeg.cast("double") / F.lit(1000000.0)).alias("lat")
    lon = (lon_udeg.cast("double") / F.lit(1000000.0)).alias("lon")
    lang = F.element_at(F.array(*[F.lit(v) for v in LANGS]), (key % 6 + 1).cast("int"))
    text = F.concat(
        F.lit("Deterministic page "),
        key.cast("string"),
        F.lit(" mentions location geo:"),
        F.format_string("%.6f", lat),
        F.lit(","),
        F.format_string("%.6f", lon),
        F.lit(" in "),
        lang,
        F.lit(" words w"),
        ((key * 31) % 997).cast("string"),
        F.lit(" w"),
        ((key * 17) % 991).cast("string"),
        F.lit("."),
    )
    return df.select(
        F.concat(
            F.lit("https://site"),
            (key % 1000).cast("string"),
            F.lit(".example/p/"),
            key.cast("string"),
        ).alias("url"),
        (
            F.timestamp_seconds(F.lit(1735689600) + key * 137)  # 2025-01-01T00Z
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "utf-8"
        ).alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


