"""Mimics the driver's correctness gate: run every registered query on
Spark AND its DuckDB oracle at sf0.01, compare row count, column names and
(order-insensitively) every value. This is the pre-flight for
CORRECTNESS_r{N}.json — a failure here is a failure there.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from gates import registry
from gates.registry import all_queries

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


CASES = sorted(all_queries().items())


@pytest.mark.parametrize("name,pair", CASES, ids=[n for n, _ in CASES])
def test_query_matches_oracle(spark, duck, name, pair):
    fn, oracle = pair
    got = fn(spark, SF_DIR).toPandas()
    assert len(got) > 0, f"{name}: empty result"
    if oracle is None:
        return  # rows-only check (driver does the same)
    exp = duck.sql(oracle()).df()
    assert sorted(got.columns) == sorted(exp.columns), f"{name}: schema"
    assert got.shape == exp.shape, f"{name}: shape {got.shape} vs {exp.shape}"
    g, x = _canon(got), _canon(exp)
    for c in g.columns:
        gv, xv = g[c].to_numpy(), x[c].to_numpy()
        if gv.dtype.kind == "f" or xv.dtype.kind == "f":
            ok = (
                (pd.isna(gv) & pd.isna(xv))
                | (gv == xv)
            )
            assert ok.all(), (
                f"{name}.{c}: {int((~ok).sum())} mismatches, first: "
                f"{gv[~ok][:3]} vs {xv[~ok][:3]}"
            )
        else:
            np.testing.assert_array_equal(gv, xv, err_msg=f"{name}.{c}")


def test_driver_surface_is_pinned():
    """The recorded gate names and their oracle SQL are byte-identical
    to the pinned driver surface: an engine-side refactor must not move
    either hash."""
    import hashlib
    import json

    names = hashlib.sha256("\n".join(registry.queries()).encode())
    oracles = hashlib.sha256(json.dumps(registry.oracle_sql()).encode())
    assert (names.hexdigest()[:16], oracles.hexdigest()[:16]) == (
        "4f5f5ea53cb52d02", "7bef118794206245"
    )
