"""Resumable ledger-driven execution (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

The reference has no resume story — its unit of work is a tile window
written under a lock (SURVEY §2.8). The distributed design:

- Work is keyed by an explicit partition column (the tile/cell id).
- Each run appends, per completed partition: output rows (under
  ``out/part_key=...``) and ONE ledger row
  ``(part_key, run_id, input_fingerprint, n_rows, checksum, wall_ms,
  finished_at)`` — the lineage + metrics record.
- Resume = LEFT ANTI JOIN of the work-list against the ledger: completed
  partitions are skipped entirely (their input is not even scanned when
  the source is partition-pruned on the same key).
- Writes are idempotent: output goes to a per-partition directory named
  by the partition key; a re-run of an unfinished partition overwrites
  (dynamic partition overwrite), so a crash between output write and
  ledger append re-does exactly that partition and converges.

On Iceberg the ledger role is played by snapshot metadata + an append-only
metrics table; parquet directories stand in here (no Iceberg jar in the
sandbox) with identical semantics.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.checksum import tile_checksum
from ..sources.local import local_table

LEDGER_SCHEMA = (
    "part_key long, run_id string, input_fingerprint long, n_rows long, "
    "checksum long, wall_ms long, finished_at double"
)


class LedgerJob:
    """Resumable batch job over an explicitly partitioned work-list."""

    def __init__(self, spark: SparkSession, root: str, part_col: str = "cell"):
        self.spark = spark
        self.root = root
        self.part_col = part_col
        self.out_dir = os.path.join(root, "out")
        self.ledger_dir = os.path.join(root, "ledger")

    # -- filesystem (Hadoop FS API: works on file://, s3a://, gs://,
    # hdfs:// alike — a plain os.listdir would pin resume to local disk) --
    def _fs(self, path: str):
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, hpath

    def _exists(self, path: str) -> bool:
        fs, hp = self._fs(path)
        return bool(fs.exists(hp))

    # -- job metadata --------------------------------------------------------
    def read_meta(self) -> dict | None:
        """Job-level metadata recorded at first run (e.g. the tile-key
        packing multiplier): resume must reuse the ORIGINAL key scheme —
        recomputing it from current args silently orphans all prior
        progress if the derivation changed between runs (ADVICE r4)."""
        meta_dir = os.path.join(self.root, "meta")
        if not self._exists(meta_dir):
            return None
        rows = self.spark.read.parquet(meta_dir).collect()
        return {r.key: r.value for r in rows}

    def write_meta(self, meta: dict) -> None:
        """Persist job metadata once (string key/value rows — parquet so
        it rides the same Hadoop FS as the ledger on any store)."""
        local_table(
            self.spark,
            [(str(k), str(v)) for k, v in meta.items()],
            "key string, value string",
        ).coalesce(1).write.mode("errorifexists").parquet(
            os.path.join(self.root, "meta")
        )

    # -- ledger ------------------------------------------------------------
    def ledger(self) -> DataFrame:
        if not self._exists(self.ledger_dir):
            return local_table(self.spark, [], LEDGER_SCHEMA)
        return self.spark.read.parquet(self.ledger_dir)

    def completed_keys(self) -> DataFrame:
        return self.ledger().select(
            F.col("part_key").alias(self.part_col)
        ).distinct()

    def _disk_keys(self) -> list[int]:
        """Partition keys present in the output directory — a pure
        directory listing through the Hadoop FS API (the metadata the
        parquet reader's planner lists anyway; no data is read; on an
        object store this is the catalog/prefix listing)."""
        prefix = f"{self.part_col}="
        fs, hp = self._fs(self.out_dir)
        if not fs.exists(hp):
            return []
        return [
            int(name[len(prefix):])
            for st in fs.listStatus(hp)
            if (name := st.getPath().getName()).startswith(prefix)
        ]

    # -- run ---------------------------------------------------------------
    def run(self, data: DataFrame, hash_col, max_partitions: int | None = None) -> dict:
        """Process all partitions not yet in the ledger.

        ``data`` must contain ``part_col``; ``hash_col`` is the per-row
        hash Column for the order-independent partition checksum.
        ``max_partitions`` simulates a crash after N partitions (tests).
        Returns run metrics.

        Scale shape (holds at 10^6+ partitions): the pipeline is computed
        ONCE (the partitioned output write); the ledger is derived by
        re-aggregating the WRITTEN files, never by recomputing the input
        pipeline. Completed keys are excluded with anti-joins against the
        ledger table — no driver-side key list ever enters a plan — and
        ledger rows are appended distributed (no collect of per-partition
        aggregates). Run metrics come from one scalar aggregate over the
        just-appended ledger slice.
        """
        run_id = uuid.uuid4().hex[:12]
        done = self.completed_keys()
        pending = data.join(done, self.part_col, "left_anti")
        if max_partitions is not None:
            # crash simulation (tests): keep the N smallest pending keys —
            # a distinct + limit over keys only, never a key list literal
            keys = (
                pending.select(self.part_col)
                .distinct()
                .orderBy(self.part_col)
                .limit(max_partitions)
            )
            pending = pending.join(F.broadcast(keys), self.part_col)
        t0 = time.perf_counter()
        if pending.isEmpty():
            return {
                "run_id": run_id,
                "partitions_processed": 0,
                "rows_processed": 0,
            }
        # single pass over the pipeline: idempotent per-partition output
        # (dynamic overwrite by key; a re-run of a partition that crashed
        # before its ledger append overwrites and converges)
        (
            pending.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.part_col)
            .parquet(self.out_dir)
        )
        wall_ms = int((time.perf_counter() - t0) * 1000)
        # ledger rows from the WRITTEN output: every partition ON DISK but
        # not yet in the ledger belongs to this run (including orphans of
        # a previous crashed run, whose data this run just rewrote). The
        # candidate keys come from the partition DIRECTORY LISTING (pure
        # metadata — the same listing the reader's planner performs), so
        # the re-read is partition-PRUNED to this run's keys instead of
        # scanning every row ever written; without pruning, incremental
        # runs would be O(total output), not O(this run).
        on_disk = local_table(
            self.spark, [(k,) for k in self._disk_keys()], f"{self.part_col} long"
        )
        new_keys = on_disk.join(done, self.part_col, "left_anti")
        written = self.spark.read.parquet(self.out_dir).join(
            F.broadcast(new_keys), self.part_col, "left_semi"
        )
        ledger_new = (
            tile_checksum(
                written.withColumn("part_key", F.col(self.part_col).cast("long")),
                ["part_key"],
                hash_col,
            )
            .select(
                "part_key",
                F.lit(run_id).alias("run_id"),
                F.col("n_rows").alias("input_fingerprint"),
                "n_rows",
                "checksum",
                F.lit(wall_ms).cast("long").alias("wall_ms"),
                F.lit(time.time()).cast("double").alias("finished_at"),
            )
        )
        ledger_new.write.mode("append").parquet(self.ledger_dir)
        m = (
            self.ledger()
            .where(F.col("run_id") == run_id)
            .agg(
                F.count(F.lit(1)).alias("p"),
                F.sum("n_rows").alias("r"),
            )
            .first()
        )
        return {
            "run_id": run_id,
            "partitions_processed": int(m.p),
            "rows_processed": int(m.r or 0),
        }

    def metrics(self) -> DataFrame:
        """Per-partition lineage + metrics view."""
        return self.ledger().orderBy("part_key")
