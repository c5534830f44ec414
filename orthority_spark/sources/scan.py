"""Scan-parallelism guard (guide §2.5 "input skew" / §6.1).

The sandbox test tables are single files with 1-7 parquet row groups, so
a bare ``spark.read.parquet`` gives the whole map stage 1-7 tasks on a
32-core session — the expensive per-row work (shingling, md5, regexp
derivation, Arrow kernels) ran effectively single-threaded in r5. A
cheap round-robin repartition of the pruned base columns unlocks full
scan-stage parallelism for a few MB of shuffle.

Scale-adaptive by construction: the guard fires only when the scan's
NATURAL partition count is below the session's default parallelism, so a
real cluster-scale table (thousands of row groups / files) is read
as-is with zero extra shuffle — this is a small-input fix, not a
constant tuned for local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import prepared


def parallel_read(
    spark: SparkSession, path: str, min_partitions: int | None = None
) -> DataFrame:
    """Parquet read whose map stage has at least ``min_partitions``
    tasks (default: the session's defaultParallelism): the scan is
    repartitioned round-robin ONLY when its natural partition count is
    lower. The partition-count probe (a JVM analysis and RDD conversion,
    ~0.15 s) runs once per application, path and modification time
    (:func:`orthority_spark.session.prepared`), so a path rewritten
    within a session is probed again; a path ``os.stat`` cannot see (a
    remote URI) is probed on every call. Values are row-identical — only
    placement changes. Use it for HEAVY map stages only: the exchange
    costs a few hundred ms, so a scan feeding one cheap projection +
    partial agg is faster unguarded (measured: stratified_sample /
    lang_profile regressed ~2x under a blanket guard, while the
    shingle+md5 pipeline gained 3.2x)."""
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(path)
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        n = df.rdd.getNumPartitions()
    else:
        n = prepared(spark, "scan.partitions", (), (path, mtime),
                     lambda: df.rdd.getNumPartitions())
    return df.repartition(min_partitions) if n < min_partitions else df
