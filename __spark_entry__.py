"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The gates live in the top-level ``gates`` package and compose the
``orthority_spark`` engine's operators; this module only exposes them as
``entry``/``queries``/``oracle_sql``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gates import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: geotag -> cell assign ->
    broadcast PIP join -> per-tile checksums."""
    from pyspark.sql import functions as F

    from gates.queries_geo import pages_cells, q_pip_join
    from orthority_spark.functions import checksum
    from orthority_spark.pyfiles import ensure_on_executors

    ensure_on_executors(spark)

    sf_dir = "/root/testdata/sf0.001"
    joined = q_pip_join(spark, sf_dir)
    pc = pages_cells(spark, sf_dir).select("url", "cell")
    return checksum.tile_checksum(
        joined.join(pc, "url"),
        ["cell", "filename"],
        checksum.row_hash(F.col("url"), F.col("filename")),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted => rows-only)."""
    return registry.oracle_sql()
