"""Arrow-backed local tables for small driver-side dimensions.

``spark.createDataFrame(list_of_tuples, ddl)`` ships the rows through a
Python RDD (pickle -> Python worker -> ``applySchemaToPythonRDD``), so
every session pays a Python-worker round-trip just to build a
few-hundred-row broadcast side, and the plan carries a
``Scan ExistingRDD`` node. Building the same rows as an Arrow table
yields a plain ``LocalRelation`` (``LocalTableScan`` in the physical
plan): no Python worker at broadcast-build time, measured ~2.4x faster
session-cold build (0.14 s vs 0.33 s for the 554-row flat footprint
catalog at local[8]), and the local rows are visible to the optimizer.

At cluster scale this is the difference between the driver serialising
a dimension table once into the broadcast and scheduling a Python task
first — the former is the shape a 1000-executor job wants.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_table(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """Build a small local DataFrame as an Arrow-backed LocalRelation.

    ``schema`` is a DDL string or StructType; column names come from it.
    Values must already match the declared types: this is a drop-in
    replacement for ``createDataFrame(rows, ddl)``, minus the Python-RDD
    scan. As there, a float NaN stays NaN and None is SQL NULL: the
    Arrow table is built from the Python values, not through pandas,
    which would read NaN as missing.
    """
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows], schema=to_arrow_schema(st))
    return spark.createDataFrame(table, schema=st)
