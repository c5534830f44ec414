"""Central query registry: merges all driver-gate query modules.

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame,
oracle_builder() -> SQL str | None). ``None`` oracle => driver records a
rows-only check (genuinely non-SQL-expressible ops).

The driver records at most ``DRIVER_CAP`` queries in registration order,
so the exposed surface is the explicit ``PRIORITY`` list: every operator
family's representative gate sits inside the cap, and every query a
module registers must be named in it. tests/test_oracle_parity.py holds
each one to its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DRIVER_CAP = 50

#: Driver-recorded gates, in record order. Keep len <= DRIVER_CAP.
PRIORITY = [
    # -- geometry / camera core (SURVEY §2.2, §2.3, §2.4) --
    "geotag_extract",
    "cell_assign",
    "tile_checksums",
    "pip_join",
    "pip_join_salted",
    "rpc_pip_join",
    "knn",
    "knn_kring",
    "rollup_pyramid",
    "world_to_pixel_jvm",
    "footprint_bounds",
    "dem_tile_assign",
    "dem_z_sample",
    "remap_pixels",
    "remap_pixels_cubic",
    "undistort_pixels",
    "ray_dem_footprints",
    "fit_exterior",
    "pan_sharpen_stats",
    "pan_sharpen_rows",
    # -- text / dedup pipeline --
    "dedup_exact",
    "minhash_signatures",
    "lsh_candidates",
    "jaccard_neardups_lsh",
    "corpus_clean",
    "simhash",
    "text_stats",
    "quality_score",
    "token_count_bpe",
    "lang_profile",
    "doc_fingerprint",
    # -- embeddings / ANN --
    "ann_topk",
    "ann_ivf",
    "embedding_neardups_bucketed",
    # -- multimodal --
    "image_features",
    # -- LLM-training-data pipeline (r3 additions, recorded since r4:
    #    relevance ranking, corpus mixing, decontamination, gap-fill) --
    "tf_idf",
    "stratified_sample",
    "contamination_check",
    "events_gapfill",
    "repetition_ratio",
    "host_stats",
    # -- relational / windows / set ops --
    "revenue_by_nation",
    "window_topk_events",
    "asof_join_window",
    "covar_partials",
    "sessionize",
    "anti_join_unmatched",
    "rollup_pricing",
    "stream_dedup",
    "except_pages",
]


def _merged() -> dict:
    from . import (
        queries_extra, queries_extra2, queries_geo, queries_rel, queries_text,
        queries_vec,
    )

    merged: dict = {}
    for mod in (
        queries_geo, queries_text, queries_vec, queries_rel, queries_extra,
        queries_extra2,
    ):
        merged.update(mod.QUERIES)
    return merged


def all_queries() -> dict:
    merged = _merged()
    unplaced = set(merged) - set(PRIORITY)
    if unplaced:
        raise ValueError(f"queries not placed in registry PRIORITY: {sorted(unplaced)}")
    missing = [n for n in PRIORITY if n not in merged]
    if missing:
        raise ValueError(f"PRIORITY names with no implementation: {missing}")
    if len(PRIORITY) > DRIVER_CAP:
        raise ValueError(f"PRIORITY exceeds driver cap: {len(PRIORITY)}")
    return {n: merged[n] for n in PRIORITY}


def _wrap(fn: Callable) -> Callable:
    """Ship the package zip to executors before running (the --py-files
    mechanism; UDF closures import orthority_spark on workers)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from orthority_spark.pyfiles import ensure_on_executors

        ensure_on_executors(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, (fn, _) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name, (_, oracle) in all_queries().items():
        if oracle is not None:
            out[name] = oracle()
    return out
