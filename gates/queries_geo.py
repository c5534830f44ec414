"""Geospatial driver-gate queries (pages derived from testdata `orders`).

Each query ships as a (spark_fn, oracle_sql) pair. The Spark side runs the
real engine operators (grid, tile_join, knn, geom pandas UDFs); the oracle
is DuckDB SQL generated from the SAME canonical arithmetic fragments
(sources/pages.derived_pages_sql, grid.cell_sql, tile_join.world_xy_sql),
so the driver's row-hash comparison checks bit-level agreement.

Pages are derived deterministically from orders.o_orderkey — the sandbox
stand-in for the 10^12-row Iceberg pages scan; geometry still flows
through the extracted-text geotag (regexp parse), exactly like production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from orthority_spark import config, grid
from orthority_spark.functions import checksum
from orthority_spark.functions.geotag import with_geotag
from orthority_spark.operators import tile_join
from orthority_spark.operators.knn import knn_bruteforce
from orthority_spark.oracle import dlit
from orthority_spark.sources import footprints as fp
from orthority_spark.sources.pages import derived_pages_sql

GEO_RE_SQL = r"'geo:(-?\d+),(-?\d+)'"


# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

def derived_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no parallelism guard here: the orders fixture scans at ~7 tasks and
    # the derivation is one concat projection — the guard's exchange
    # measured as a net loss for the light consumers (host_stats,
    # stratified_sample, rollup_pyramid); heavy consumers guard at their
    # own map stage (sources/scan.parallel_read)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    spec = derived_pages_sql("o_orderkey", "spark")
    return orders.select(
        F.expr(spec["url"]).alias("url"),
        F.expr(spec["text"]).alias("text"),
        F.expr(spec["lang"]).alias("lang"),
    )


def pages_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages + parsed lat/lon + world px/py + cell (the engine scan stage)."""
    return tile_join.assign_cells(
        with_geotag(derived_pages(spark, sf_dir), token="udeg")
    )


def pages_cte() -> str:
    """DuckDB CTE chain mirroring :func:`pages_cells` bit-for-bit."""
    spec = derived_pages_sql("o_orderkey", "duckdb")
    px, py = tile_join.world_xy_sql("lat", "lon")
    cell = grid.cell_sql("lat", "lon", config.GRID_RES)
    return f"""
WITH pages AS (
  SELECT {spec['url']} AS url, {spec['text']} AS text, {spec['lang']} AS lang
  FROM orders
), geo AS (
  SELECT url, text, lang,
         CAST(regexp_extract(text, {GEO_RE_SQL}, 1) AS BIGINT) AS lat_udeg,
         CAST(regexp_extract(text, {GEO_RE_SQL}, 2) AS BIGINT) AS lon_udeg
  FROM pages
), pts AS (
  SELECT url, text, lang,
         CAST(lat_udeg AS DOUBLE) / 1000000.0 AS lat,
         CAST(lon_udeg AS DOUBLE) / 1000000.0 AS lon
  FROM geo
), cells AS (
  SELECT *, {px} AS px, {py} AS py, {cell} AS cell FROM pts
)"""


def _edges_values() -> str:
    """Footprint edges as a VALUES CTE (driver-side literals, exact repr)."""
    rows = ", ".join(
        f"('{n}', {dlit(x1)}, {dlit(y1)}, {dlit(x2)}, {dlit(y2)})"
        for n, x1, y1, x2, y2 in fp.footprint_records()["edges"]
    )
    return f"edges(filename, x1, y1, x2, y2) AS (VALUES {rows})"


def _centers_values() -> str:
    rows = ", ".join(
        f"('{s[0]}', {dlit(s[6])}, {dlit(s[7])})" for s in fp.footprint_records()["summary"]
    )
    return f"centers(filename, cx, cy) AS (VALUES {rows})"


def _pip_oracle(select: str = "url, filename", extra: str = "") -> str:
    cross = tile_join.pip_crossing_sql("c.px", "c.py", e="e.")
    return f"""{pages_cte()},
{_edges_values()},
votes AS (
  SELECT c.url, e.filename{extra},
         SUM({cross}) AS n
  FROM cells c, edges e
  GROUP BY ALL
)
SELECT {select} FROM votes WHERE n % 2 = 1"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_geotag_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/EXIF analogue: regexp geotag extraction from page text."""
    return pages_cells(spark, sf_dir).select("url", "lat", "lon")


def o_geotag_extract() -> str:
    return f"{pages_cte()} SELECT url, lat, lon FROM cells"


def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style tile assignment (the north-rule core primitive)."""
    return pages_cells(spark, sf_dir).select("url", "cell")


def o_cell_assign() -> str:
    return f"{pages_cte()} SELECT url, cell FROM cells"


def q_tile_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-tile checksums over (url, lang) — the per-band
    remap-equivalence recast (BASELINE.json:6)."""
    pc = pages_cells(spark, sf_dir)
    return checksum.tile_checksum(
        pc, ["cell"], checksum.row_hash(F.col("url"), F.col("lang"))
    )


def o_tile_checksums() -> str:
    h = checksum.row_hash_sql(["url", "lang"])
    return (
        f"{pages_cte()} SELECT cell, COUNT(*) AS n_rows, CAST(SUM({h}) AS BIGINT) AS checksum "
        f"FROM cells GROUP BY cell"
    )


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: broadcast cell-prefilter + inline exact PIP join (J3)."""
    recs = fp.footprint_records()
    return tile_join.pip_join_broadcast(
        pages_cells(spark, sf_dir),
        fp.footprint_catalog_flat_df(spark, recs),
        fp.footprint_edges_df(spark, recs),
    )


def o_pip_join() -> str:
    return _pip_oracle()


def q_pip_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rows via the explicit-salting shuffle path (skew, SURVEY §4 O9)."""
    recs = fp.footprint_records()
    return tile_join.pip_join_salted(
        pages_cells(spark, sf_dir),
        fp.footprint_catalog_flat_df(spark, recs),
        fp.footprint_edges_df(spark, recs),
    )


def o_pip_join_salted() -> str:
    return _pip_oracle()


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 nearest footprints per page (literal plan: the 4-entry catalog
    unrolled into expressions, ranked map-side)."""
    return knn_bruteforce(
        pages_cells(spark, sf_dir),
        fp.footprint_summary_df(spark),
        k=3,
    ).select("url", "rank", "filename")


def o_knn() -> str:
    return f"""{pages_cte()},
{_centers_values()},
dists AS (
  SELECT c.url, f.filename,
         (c.px - f.cx) * (c.px - f.cx) + (c.py - f.cy) * (c.py - f.cy) AS dist_sq
  FROM cells c, centers f
), ranked AS (
  SELECT url, filename,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist_sq, filename) AS rank
  FROM dists
)
SELECT url, CAST(rank AS INT) AS rank, filename FROM ranked WHERE rank <= 3"""


KNN_RING = 8


def q_knn_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 nearest footprints via the cell k-ring candidate join — the
    10^12-page scale path: the tiny footprint-cell index is dilated by the
    ring (wrapped at the antimeridian, clamped at the poles), pages join
    on their OWN cell with zero blow-up, and only candidates are scored.
    Pages outside every ring get fewer/no neighbors by design — the oracle
    mirrors the same candidate set exactly."""
    from orthority_spark.operators.knn import knn_kring

    return knn_kring(
        pages_cells(spark, sf_dir),
        fp.footprint_cells_df(spark),
        fp.footprint_summary_df(spark),
        k=3,
        ring=KNN_RING,
    ).select("url", "rank", "filename")


def o_knn_kring() -> str:
    # driver-side ring dilation with the SAME grid.k_ring the engine's SQL
    # expansion is parity-tested against (tests/test_knn.py)
    cells_by_name: dict[str, list[int]] = {}
    for n, c in fp.footprint_records()["cells"]:
        cells_by_name.setdefault(n, []).append(int(c))
    rows = []
    for n in sorted(cells_by_name):
        exp = set()
        for c in cells_by_name[n]:
            exp.update(int(x) for x in grid.k_ring(c, KNN_RING))
        rows.extend(f"('{n}', {c})" for c in sorted(exp))
    expanded = ", ".join(rows)
    return f"""{pages_cte()},
{_centers_values()},
expanded(filename, cell) AS (VALUES {expanded}),
cand AS (
  SELECT DISTINCT c.url, c.px, c.py, f.filename, f.cx, f.cy
  FROM cells c JOIN expanded e ON c.cell = e.cell
  JOIN centers f ON f.filename = e.filename
), ranked AS (
  SELECT url, filename,
         ROW_NUMBER() OVER (
           PARTITION BY url
           ORDER BY (px - cx) * (px - cx) + (py - cy) * (py - cy), filename
         ) AS rank
  FROM cand
)
SELECT url, CAST(rank AS INT) AS rank, filename FROM ranked WHERE rank <= 3"""


def q_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview pyramid (S17 -> rollup): page counts at three resolutions.

    r6: ONE scan — the per-resolution (res, cell) pairs explode from a
    struct array computed map-side, then a single partial-aggregated
    groupBy(res, cell). The old UNION ALL of three per-res aggregates
    re-ran the whole orders scan + page derivation + geotag parse once
    PER resolution; groups and counts are identical (each page
    contributes exactly one row per resolution either way), only the
    (irrelevant) output row order changes."""
    pc = pages_cells(spark, sf_dir)
    structs = F.array(
        *[
            F.struct(
                F.lit(res).alias("res"),
                grid.cell_col(F.col("lat"), F.col("lon"), res).alias("cell"),
            )
            for res in config.ROLLUP_RESES
        ]
    )
    return (
        pc.select(F.explode(structs).alias("rc"))
        .select(F.col("rc.res").alias("res"), F.col("rc.cell").alias("cell"))
        .groupBy("res", "cell")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def o_rollup_pyramid() -> str:
    selects = [
        f"SELECT {res} AS res, {grid.cell_sql('lat', 'lon', res)} AS cell, "
        f"COUNT(*) AS n_pages FROM cells GROUP BY ALL"
        for res in config.ROLLUP_RESES
    ]
    return f"{pages_cte()} " + " UNION ALL ".join(selects)


def pinhole_sql(m, x: str, y: str, z: str) -> tuple[str, str]:
    """(j, i) SQL for world point (x, y, z) through camera ``m``'s
    R^T(x - T) + K, unrolled left to right (shared by the world->pixel
    and remap oracles and the Spark world->pixel query)."""
    R, T, K = m.R, m.T, m.K
    xr = f"({x} - {dlit(T[0, 0])})"
    yr = f"({y} - {dlit(T[1, 0])})"
    zr = f"({z} - {dlit(T[2, 0])})"
    cx = f"({dlit(R[0, 0])} * {xr} + {dlit(R[1, 0])} * {yr} + {dlit(R[2, 0])} * {zr})"
    cy = f"({dlit(R[0, 1])} * {xr} + {dlit(R[1, 1])} * {yr} + {dlit(R[2, 1])} * {zr})"
    cz = f"({dlit(R[0, 2])} * {xr} + {dlit(R[1, 2])} * {yr} + {dlit(R[2, 2])} * {zr})"
    j = f"{dlit(K[0, 0])} * ({cx} / {cz}) + {dlit(K[0, 2])}"
    i = f"{dlit(K[1, 1])} * ({cy} / {cz}) + {dlit(K[1, 2])}"
    return j, i


def _wtp_exprs() -> tuple[str, str]:
    """(j, i) projection SQL expressions for img_0000 — shared verbatim by
    the DuckDB oracle and the Spark query."""
    m = fp.fixture_models()["img_0000"]
    return pinhole_sql(m, "px", "py", dlit(config.DEM_Z))


def q_world_to_pixel_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-camera world->pixel projection (P1) as a pure JVM Column
    expression: every page's world point into img_0000's pinhole camera,
    zero Python in the hot path, whole-stage codegen end to end. The
    oracle unrolls the identical R^T(x-T) matmul + K as SQL arithmetic."""
    j, i = _wtp_exprs()
    return pages_cells(spark, sf_dir).select(
        "url", F.expr(j).alias("j"), F.expr(i).alias("i")
    )


def o_world_to_pixel_jvm() -> str:
    j, i = _wtp_exprs()
    return f"{pages_cte()} SELECT url, {j} AS j, {i} AS i FROM cells"


def q_footprint_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ortho-bounds catalog (A2/GSD + bbox) — driver-side geometry surfaced
    as a queryable table."""
    return fp.footprint_summary_df(spark).select(
        "filename", "cam_type", "xmin", "ymin", "xmax", "ymax"
    )


def o_footprint_bounds() -> str:
    rows = ", ".join(
        f"('{s[0]}', '{s[1]}', {dlit(s[2])}, {dlit(s[3])}, {dlit(s[4])}, {dlit(s[5])})"
        for s in fp.footprint_records()["summary"]
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS t(filename, cam_type, xmin, ymin, xmax, ymax)"
    )


QUERIES = {
    "geotag_extract": (q_geotag_extract, o_geotag_extract),
    "cell_assign": (q_cell_assign, o_cell_assign),
    "tile_checksums": (q_tile_checksums, o_tile_checksums),
    "pip_join": (q_pip_join, o_pip_join),
    "pip_join_salted": (q_pip_join_salted, o_pip_join_salted),
    "knn": (q_knn, o_knn),
    "knn_kring": (q_knn_kring, o_knn_kring),
    "rollup_pyramid": (q_rollup_pyramid, o_rollup_pyramid),
    "world_to_pixel_jvm": (q_world_to_pixel_jvm, o_world_to_pixel_jvm),
    "footprint_bounds": (q_footprint_bounds, o_footprint_bounds),
}
