"""parallel_read's partition-count memo must follow a path that is
rewritten within a session."""

from __future__ import annotations

from orthority_spark.sources import scan


def test_parallel_read_sees_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df = spark.range(300)
    df.coalesce(1).write.parquet(path)
    # 1 file < 2: the guard repartitions to 2
    assert scan.parallel_read(spark, path, 2).rdd.getNumPartitions() == 2
    df.repartition(3).write.mode("overwrite").parquet(path)
    # 3 files >= 2: read as-is; a stale memo (1 file) would still give 2
    assert scan.parallel_read(spark, path, 2).rdd.getNumPartitions() == 3
    keys = [k for k in scan._SCAN_PARTITIONS_MEMO if k[1] == path]
    assert len(keys) == 1
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in scan._SCAN_PARTITIONS_MEMO)
    # a URI os.stat cannot see is probed, not memoized
    n = len(scan._SCAN_PARTITIONS_MEMO)
    assert scan.parallel_read(spark, "file://" + path, 2).count() == 300
    assert len(scan._SCAN_PARTITIONS_MEMO) == n
