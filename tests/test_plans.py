"""Physical-plan regression tests: the scale properties the engine is
designed around must survive refactors — broadcast joins on the footprint
side, column pruning into the scan, partial aggregation before exchanges,
and zero shuffle of the pages side in the flagship join."""

from __future__ import annotations

import re

import pytest

from gates.queries_geo import (
    pages_cells,
    q_pip_join,
    q_tile_checksums,
)
from gates.queries_rel import q_revenue_by_nation

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_is_broadcast_only(spark):
    plan = _plan(q_pip_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the ONLY exchanges allowed are broadcast exchanges — the pages side
    # must never shuffle in the flagship join
    shuffle_exchanges = re.findall(r"Exchange (?!SinglePartition)hash", plan)
    assert not shuffle_exchanges, plan


def test_scan_prunes_to_key_column(spark):
    """Derived pages read ONLY o_orderkey from the orders scan."""
    plan = _plan(pages_cells(spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(s == "o_orderkey:bigint" for s in schemas), schemas


def test_checksum_agg_has_mapside_partial(spark):
    plan = _plan(q_tile_checksums(spark, SF))
    # plan prints top-down: final agg, then the exchange, then the
    # partial agg computed before (below) it
    assert "partial_count" in plan and "partial_sum" in plan
    assert plan.index("Exchange hashpartitioning") < plan.index("partial_")


def test_dims_broadcast_in_revenue_join(spark):
    plan = _plan(q_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # fact-side scan pruned to the join/agg columns only
    fact = re.search(r"ReadSchema: struct<(o_[^>]*)>", plan)
    assert fact and set(fact.group(1).split(",")) == {
        "o_custkey:bigint", "o_totalprice:double"
    }


def test_salted_join_partitions_by_cell_and_salt(spark):
    from orthority_spark.operators import tile_join
    from orthority_spark.sources import footprints as fp

    recs = fp.footprint_records()
    plan = _plan(
        tile_join.pip_join_salted(
            pages_cells(spark, SF),
            fp.footprint_catalog_flat_df(spark, recs),
            fp.footprint_edges_df(spark, recs),
        )
    )
    # the salted path deliberately shuffles on (cell, salt)
    assert re.search(r"hashpartitioning\(cell#\d+L?, salt#\d+L?", plan), plan


def test_tf_idf_aggs_are_partial_and_join_not_cartesian(spark):
    """tf/df are partial-aggregated (map-side combine before exchange);
    the df join is a key equi-join, never a cartesian."""
    from gates.queries_text import q_tf_idf

    plan = _plan(q_tf_idf(spark, SF))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan, plan
    # one broadcast nested loop is expected ONLY for the 1-row n_docs
    # scalar; anything more means the token join degenerated
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_stratified_sample_filter_precedes_exchange(spark):
    """The hash keep-rate filter runs scan-side: the only exchange in the
    plan is the final per-lang aggregation's."""
    from gates.queries_text import q_stratified_sample

    plan = _plan(q_stratified_sample(spark, SF))
    n_exch = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exch == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_ray_march_rays_shuffle_is_metadata_only(spark):
    """The ray-march plan shuffles only the 128-row ray-parameter table
    (metadata), never anything data-sized, and runs one mapInArrow."""
    from gates.queries_extra import q_ray_dem_footprints

    plan = _plan(q_ray_dem_footprints(spark, SF))
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def _vector_inputs(spark):
    from orthority_spark.functions.geotag import with_geotag
    from orthority_spark.sources import footprints as fp
    from orthority_spark.sources.pages import synthetic_pages

    recs = fp.footprint_records()
    return (
        with_geotag(synthetic_pages(spark, 2000)),
        fp.footprint_catalog_flat_df(spark, recs),
        fp.footprint_edges_df(spark, recs),
        fp.footprint_cells_df(spark, recs),
        fp.footprint_summary_df(spark, recs),
    )


def test_cell_joins_parse_the_geotag_once(spark):
    """The cell equi-joins key on a non-null cell, so no isnotnull(cell)
    filter is pushed below the geotag projection to re-run its regexp:
    each join plan holds exactly the regexp_extract calls of the geotag
    projection alone."""
    from orthority_spark.operators import knn, tile_join

    pages, cat, edges, cells, summ = _vector_inputs(spark)
    pc = tile_join.assign_cells(pages)
    base = _plan(pages).count("regexp_extract")
    assert base > 0
    plans = {
        "broadcast": tile_join.pip_join_broadcast(pc, cat, edges, keep=["cell"]),
        "salted": tile_join.pip_join_salted(pc, cat, edges, keep=["cell"]),
        "kring": knn.knn_kring(pc, cells, summ, k=3, ring=8),
    }
    counts = {k: _plan(df).count("regexp_extract") for k, df in plans.items()}
    assert counts == {k: base for k in plans}, counts


def test_repeated_plans_launch_no_jobs_and_no_broadcasts(spark, monkeypatch):
    """A second sample_dem_z and knn_kring plan over the same DEM and
    catalog objects reuses the prepared state: no Spark job, no new
    broadcast."""
    from pyspark import SparkContext

    from orthority_spark.operators import knn, raster_join, tile_join
    from orthority_spark.sources.dem_tiles import fixture_dem

    pages, _cat, _edges, cells, summ = _vector_inputs(spark)
    pc = tile_join.assign_cells(pages)
    pts = pc.select("url", "px", "py")
    raster_join.sample_dem_z(pts, fixture_dem(spark), band=1)
    knn.knn_kring(pc, cells, summ, k=3, ring=8)

    made = []
    real = SparkContext.broadcast
    monkeypatch.setattr(
        SparkContext, "broadcast", lambda sc, v: made.append(v) or real(sc, v)
    )
    sc = spark.sparkContext
    sc.setJobGroup("repeated-plans", "second plans over prepared inputs")
    try:
        raster_join.sample_dem_z(pts, fixture_dem(spark), band=1)
        knn.knn_kring(pc, cells, summ, k=3, ring=8)
        jobs = list(sc.statusTracker().getJobIdsForGroup("repeated-plans"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [] and made == []


def _jobs_in_group(spark, group, fn):
    """Spark job ids launched while ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_first_plans_over_local_tables_launch_no_jobs(spark, monkeypatch):
    """The FIRST sample_dem_z and knn_kring plans over local tables (the
    fixture DEM, the footprint cells and summary) prepare their state
    with driver-side collects, which run no Spark job; the DEM blocks
    are the one broadcast."""
    from pyspark import SparkContext

    from orthority_spark.operators import knn, raster_join, tile_join
    from orthority_spark.sources.dem_tiles import fixture_dem

    # fresh DataFrame objects, so no state is prepared for them yet
    pages, _cat, _edges, cells, summ = _vector_inputs(spark)
    dem = fixture_dem(spark).select("*")
    pc = tile_join.assign_cells(pages)

    made = []
    real = SparkContext.broadcast
    monkeypatch.setattr(
        SparkContext, "broadcast", lambda sc, v: made.append(v) or real(sc, v)
    )
    jobs = _jobs_in_group(spark, "first-plans", lambda: (
        raster_join.sample_dem_z(pc.select("url", "px", "py"), dem, band=1),
        knn.knn_kring(pc, cells, summ, k=3, ring=8),
    ))
    assert jobs == [] and len(made) == 1


def test_dem_prepare_over_files_shuffles_nothing(spark, tmp_path):
    """Over a file-backed DEM, sample_dem_z's prepare step scans the tile
    table without a shuffle: every job it launches has a single stage."""
    from orthority_spark.operators import raster_join
    from orthority_spark.sources.dem_tiles import fixture_dem

    path = str(tmp_path / "dem")
    fixture_dem(spark).write.parquet(path)
    dem = spark.read.parquet(path)
    pts = spark.createDataFrame(
        [("p", 19000.0, 30000.0)], "url string, px double, py double"
    )
    jobs = _jobs_in_group(
        spark, "dem-files",
        lambda: raster_join.sample_dem_z(pts, dem, band=1),
    )
    tracker = spark.sparkContext.statusTracker()
    stages = [list(tracker.getJobInfo(j).stageIds) for j in jobs]
    assert jobs and all(len(s) == 1 for s in stages), stages


def test_sample_dem_z_follows_the_dem_object(spark):
    """Prepared DEM state is keyed by the DataFrame object: after the
    full fixture DEM, the partial one (NaN upper-left triangle, sampled
    as a NULL z) yields its own z values, and the full one its own
    again."""
    from orthority_spark.operators.raster_join import sample_dem_z
    from orthority_spark.sources.dem_tiles import fixture_dem

    # (5.5, 5.5) cells from the UL corner lies in the partial DEM's NaN
    # triangle; (150.5, 120.5) lies far outside it
    pts = spark.createDataFrame(
        [("nan_corner", 18165.0, 31335.0), ("valid", 22515.0, 27885.0)],
        "url string, px double, py double",
    )

    def z(dem):
        return {r.url: r.z for r in sample_dem_z(pts, dem, band=1).collect()}

    full, partial = fixture_dem(spark), fixture_dem(spark, partial=True)
    z_full = z(full)
    z_partial = z(partial)
    assert z_full["nan_corner"] is not None
    assert z_partial["nan_corner"] is None
    assert z_partial["valid"] == z_full["valid"]
    assert z(full) == z_full


def test_sample_dem_z_cogroup_nodata_is_null(spark, monkeypatch):
    """The cogroup plan (forced by a 0-byte broadcast guard) gives a
    point in the partial DEM's NaN triangle a NULL z, as the broadcast
    plan does, and a valid point the broadcast plan's z."""
    from orthority_spark.operators import raster_join
    from orthority_spark.sources.dem_tiles import fixture_dem

    pts = spark.createDataFrame(
        [("nan_corner", 18165.0, 31335.0), ("valid", 22515.0, 27885.0)],
        "url string, px double, py double",
    )
    partial = fixture_dem(spark, partial=True)

    def z():
        return {r.url: r.z for r in
                raster_join.sample_dem_z(pts, partial, band=1).collect()}

    broadcast = z()
    monkeypatch.setattr(raster_join, "DEM_BROADCAST_MAX_BYTES", 0)
    cogroup = z()
    assert cogroup == {"nan_corner": None, "valid": broadcast["valid"]}
    assert broadcast["nan_corner"] is None and broadcast["valid"] is not None
