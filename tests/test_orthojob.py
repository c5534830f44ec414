"""OrthoJob user-facing builder: process/resume/metrics."""

from __future__ import annotations

import pytest

from orthority_spark.functions.geotag import with_geotag
from orthority_spark.plans.job import OrthoJob
from orthority_spark.sources.pages import synthetic_pages

from builders import job_tiles


def test_orthojob_process_and_resume(spark, tmp_path):
    pages = synthetic_pages(spark, 5000)
    job = OrthoJob(spark)
    out = str(tmp_path / "job")
    m1 = job.process(pages, out, max_partitions=50)
    assert m1["partitions_processed"] == 50
    m2 = job.process(pages, out)
    assert m2["partitions_processed"] > 0
    m3 = job.process(pages, out)
    assert m3["partitions_processed"] == 0  # fully resumed

    led = job.metrics().toPandas()
    assert led.part_key.is_unique and (led.n_rows > 0).all()

    # ledger totals == ad-hoc per-tile totals (same deterministic plan)
    tiles = {r.cell: (r.n_rows, r.checksum) for r in job_tiles(job, pages).collect()}
    from_ledger = {r.part_key: (r.n_rows, r.checksum) for r in job.metrics().collect()}
    assert tiles == from_ledger


def test_orthojob_salted_strategy_same_tiles(spark):
    pages = synthetic_pages(spark, 5000)
    t_b = {r.cell: (r.n_rows, r.checksum)
           for r in job_tiles(OrthoJob(spark), pages).collect()}
    t_s = {r.cell: (r.n_rows, r.checksum)
           for r in job_tiles(OrthoJob(spark, strategy="salted"), pages).collect()}
    assert t_b == t_s and len(t_b) > 50


def test_unknown_option_values_raise(spark):
    """A misspelt geotag token or join strategy raises instead of running
    another plan (the integer-token parse, which gives every float-token
    page a NULL lat/lon, or the broadcast join)."""
    pages = synthetic_pages(spark, 10)
    with pytest.raises(ValueError, match="token"):
        with_geotag(pages, token="flaot")
    with pytest.raises(ValueError, match="strategy"):
        OrthoJob(spark, strategy="salt")
