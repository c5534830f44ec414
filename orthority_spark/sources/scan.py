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


#: (applicationId, path, st_mtime_ns) -> natural scan partition count.
#: The probe (`.rdd.getNumPartitions()`) costs a full JVM analysis + RDD
#: conversion (~0.15 s) per call, and the text/vector gate families
#: re-probe the same fixture path many times per bench sweep. The local
#: path's modification time is part of the key, so a path rewritten
#: within a session (a different file count) is probed again; paths
#: ``os.stat`` cannot see (remote URIs) are never memoized. Only the
#: current application's entries are kept. This memoizes PLAN METADATA
#: (how many splits a scan yields), never data or results — the guard
#: decision is a performance choice and both branches are row-identical
#: by construction.
_SCAN_PARTITIONS_MEMO: dict[tuple[str, str, int], int] = {}


def parallel_read(
    spark: SparkSession, path: str, min_partitions: int | None = None
) -> DataFrame:
    """Parquet read whose map stage has at least ``min_partitions``
    tasks (default: the session's defaultParallelism): the scan is
    repartitioned round-robin ONLY when its natural partition count is
    lower, with the partition-count probe memoized per (session, path,
    mtime). Values are row-identical — only placement changes. Use it
    for HEAVY map stages only: the exchange costs a few hundred ms, so a
    scan feeding one cheap projection + partial agg is faster unguarded
    (measured: stratified_sample / lang_profile regressed ~2x under a
    blanket guard, while the shingle+md5 pipeline gained 3.2x)."""
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(path)
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        n = df.rdd.getNumPartitions()
    else:
        app = spark.sparkContext.applicationId
        key = (app, path, mtime)
        n = _SCAN_PARTITIONS_MEMO.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            for k in [k for k in _SCAN_PARTITIONS_MEMO if k[0] != app or k[1] == path]:
                del _SCAN_PARTITIONS_MEMO[k]
            _SCAN_PARTITIONS_MEMO[key] = n
    return df.repartition(min_partitions) if n < min_partitions else df
