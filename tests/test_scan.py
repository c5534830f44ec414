"""parallel_read's partition-count probe must follow a path that is
rewritten within a session."""

from __future__ import annotations

import os

from orthority_spark import session
from orthority_spark.sources import scan


def _probed() -> list[tuple]:
    """Keys of the prepared partition counts: (app, name, frames, (path,
    mtime))."""
    return [k for k in session._PREPARED if k[1] == "scan.partitions"]


def test_parallel_read_sees_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df = spark.range(300)
    df.coalesce(1).write.parquet(path)
    # 1 file < 2: the guard repartitions to 2
    assert scan.parallel_read(spark, path, 2).rdd.getNumPartitions() == 2
    df.repartition(3).write.mode("overwrite").parquet(path)
    # 3 files >= 2: read as-is; a stale probe (1 file) would still give 2
    assert scan.parallel_read(spark, path, 2).rdd.getNumPartitions() == 3
    # the probe is keyed by the path's current modification time
    assert (path, os.stat(path).st_mtime_ns) in {k[3] for k in _probed()}
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in session._PREPARED)
    # a URI os.stat cannot see is probed, not stored
    n = len(_probed())
    assert scan.parallel_read(spark, "file://" + path, 2).count() == 300
    assert len(_probed()) == n
