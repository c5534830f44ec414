"""Sink guards and write profiles (S1/S16 semantics)."""

from __future__ import annotations

import pytest

from orthority_spark.sources.writers import create_profile, write_table


def test_overwrite_guard(spark, tmp_path):
    df = spark.range(10)
    p = str(tmp_path / "t")
    write_table(df, p)
    with pytest.raises(FileExistsError):
        write_table(df, p)
    write_table(df, p, overwrite=True)
    assert spark.read.parquet(p).count() == 10


def test_profile_by_payload():
    assert create_profile()["compression"] == "snappy"
