"""local_table: Arrow-backed LocalRelation builder for broadcast dims.

The contract is drop-in equivalence with ``createDataFrame(rows, ddl)``
minus the Python-RDD scan: identical rows and schema, but the physical
plan is a ``LocalTableScan`` (no ``Scan ExistingRDD``, no Python worker
at broadcast-build time).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from orthority_spark.sources.local import local_table


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_local_table_matches_rdd_path_rows_and_schema(spark):
    rows = [("a.tif", 1, 0.5), ("b.tif", 2, -1.25)]
    ddl = "filename string, cell long, gsd double"
    got = local_table(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_local_table_is_a_local_relation(spark):
    plan = _physical_plan(
        local_table(spark, [("t", 1)], "tile_id string, band int")
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_local_table_nested_array_struct_ddl(spark):
    # nested commas in the DDL must survive the fromDDL parse
    ddl = (
        "filename string, edges array<struct<x1: double, y1: double, "
        "x2: double, y2: double>>"
    )
    rows = [("a.tif", [{"x1": 1.0, "y1": 2.0, "x2": 3.0, "y2": 4.0}])]
    out = local_table(spark, rows, ddl).collect()
    assert out[0].filename == "a.tif"
    e = out[0].edges[0]
    assert (e.x1, e.y1, e.x2, e.y2) == (1.0, 2.0, 3.0, 4.0)


def test_local_table_int_columns_stay_int(spark):
    # pandas would widen python ints to int64; the declared schema must win
    df = local_table(
        spark, [("t", 1, 64)], "tile_id string, band int, width int"
    )
    assert df.schema.simpleString() == "struct<tile_id:string,band:int,width:int>"
    assert df.collect() == [("t", 1, 64)]


def test_local_table_keeps_nan_apart_from_null(spark):
    # as with createDataFrame(rows, ddl), a float NaN stays NaN and None
    # stays NULL (NaN-vs-NULL exactness matters to the oracle gates)
    rows = [("a", float("nan")), ("b", None), ("c", 2.0)]
    ddl = "name string, v double"
    for df in (local_table(spark, rows, ddl), spark.createDataFrame(rows, ddl)):
        got = {r.name: r for r in df.select(
            "name", "v", F.isnan("v").alias("nan"), F.isnull("v").alias("null"),
        ).collect()}
        assert (got["a"].nan, got["a"].null) == (True, False)
        assert (got["b"].nan, got["b"].null) == (False, True)
        assert got["c"].v == 2.0


def test_local_table_none_stays_null(spark):
    # real NULLs (Python None) are fine and round-trip as NULL on both
    # paths — only NaN is ambiguous under Arrow
    got = local_table(spark, [("a", None), ("b", 2.0)], "name string, v double")
    ref = spark.createDataFrame([("a", None), ("b", 2.0)], "name string, v double")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
