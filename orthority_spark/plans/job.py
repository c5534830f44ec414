"""OrthoJob — the user-facing pipeline builder (SURVEY §3.2).

The reference's quickstart is ``FrameCameras(int, ext)`` ->
``cameras.get(src)`` -> ``Ortho(src, dem, camera, crs).process(out)``
(/root/reference/README.rst:127-144). The engine's equivalent over
DataFrames:

    job = OrthoJob(spark, footprint_records=...)   # catalog build (§3.1 stage 2)
    result = job.process(pages_df, out_dir)        # geotag -> cell ->
                                                   # PIP join -> ledger'd
                                                   # per-tile checksums

``process`` is resumable (ledger anti-join) and returns run metrics;
``metrics()`` is the per-partition lineage. ``strategy`` names the PIP
join plan: the caller picks ``"broadcast"`` (the default) or
``"salted"`` (skewed mega-cells, over ``config.N_SALT`` salts,
:func:`orthority_spark.operators.tile_join.pip_join_salted`); any other
value raises ``ValueError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import config
from ..functions import checksum
from ..functions.geotag import with_geotag
from ..operators import tile_join
from ..sources import footprints as fp
from .ledger import LedgerJob


class OrthoJob:
    def __init__(
        self,
        spark: SparkSession,
        footprint_records: dict | None = None,
        res: int = config.GRID_RES,
        strategy: str = "broadcast",
    ):
        if strategy not in ("broadcast", "salted"):
            raise ValueError(
                f"strategy must be 'broadcast' or 'salted', got {strategy!r}"
            )
        self.spark = spark
        self.recs = footprint_records or fp.footprint_records(res)
        self.res = res
        self.strategy = strategy
        self.n_salt = config.N_SALT
        self._catalog = fp.footprint_catalog_flat_df(spark, self.recs)
        # the PIP joins' footprint_edges argument, which they no longer read
        self._edges = fp.footprint_edges_df(spark, self.recs)

    # -- plan ----------------------------------------------------------------
    def joined(self, pages: DataFrame) -> DataFrame:
        """pages(url, text, ...) -> (url, filename, cell) PIP join rows."""
        pc = tile_join.assign_cells(with_geotag(pages), res=self.res)
        if self.strategy == "salted":
            return tile_join.pip_join_salted(
                pc, self._catalog, self._edges, keep=["cell"], n_salt=self.n_salt
            )
        return tile_join.pip_join_broadcast(
            pc, self._catalog, self._edges, keep=["cell"]
        )

    # -- execute -------------------------------------------------------------
    def process(self, pages: DataFrame, out_dir: str,
                max_partitions: int | None = None) -> dict:
        """Run (or resume) the pipeline into ``out_dir``; returns metrics."""
        self._ledger = LedgerJob(self.spark, out_dir, part_col="cell")
        return self._ledger.run(
            self.joined(pages),
            checksum.row_hash_fast(F.col("url"), F.col("filename")),
            max_partitions=max_partitions,
        )

    def metrics(self) -> DataFrame:
        """Per-partition lineage + metrics of the last process() target."""
        return self._ledger.metrics()
