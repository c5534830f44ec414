"""OrthoJob user-facing builder: process/resume/tiles/metrics; bucketed
embedding near-dup recall contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orthority_spark.functions.geotag import with_geotag
from orthority_spark.operators.ann import (
    embedding_neardups_lsh,
    quantize,
    train_centroids,
)
from orthority_spark.plans.job import OrthoJob
from orthority_spark.sources.pages import synthetic_pages

SF = "/root/testdata/sf0.01"


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

    # ledger totals == ad-hoc tiles() totals (same deterministic plan)
    tiles = {r.cell: (r.n_rows, r.checksum) for r in job.tiles(pages).collect()}
    from_ledger = {r.part_key: (r.n_rows, r.checksum) for r in job.metrics().collect()}
    assert tiles == from_ledger


def test_orthojob_salted_strategy_same_tiles(spark):
    pages = synthetic_pages(spark, 5000)
    t_b = {r.cell: (r.n_rows, r.checksum)
           for r in OrthoJob(spark).tiles(pages).collect()}
    t_s = {r.cell: (r.n_rows, r.checksum)
           for r in OrthoJob(spark, strategy="salted").tiles(pages).collect()}
    assert t_b == t_s and len(t_b) > 50


def test_embedding_neardups_lsh_recall(spark):
    qz = quantize(spark.read.parquet(f"{SF}/embeddings.parquet"))
    cents = train_centroids(qz, n_centroids=8)
    tau = 0.3
    bucketed = {(r.vec_a, r.vec_b)
                for r in embedding_neardups_lsh(qz, cents, tau).collect()}
    # all-pairs oracle
    a, b = qz.alias("a"), qz.alias("b")
    allpairs = (
        a.join(b, F.expr("a.vec_id < b.vec_id"))
        .withColumn("dot", F.expr(
            "aggregate(zip_with(a.qe, b.qe, (x, y) -> x * y), CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v)"))
        .withColumn("cosine", F.col("dot") / (
            F.sqrt(F.col("a.nn").cast("double")) * F.sqrt(F.col("b.nn").cast("double"))))
        .where(F.col("cosine") >= tau)
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    )
    exact = {(r.va, r.vb) for r in allpairs.collect()}
    assert bucketed <= exact  # no false positives (exact verify inside)
    if exact:
        recall = len(bucketed) / len(exact)
        assert recall >= 0.3, (recall, len(exact))
