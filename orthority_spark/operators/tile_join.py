"""Point-in-polygon tile joins: broadcast and salted-shuffle.

This is the engine's flagship operator — the recast of the reference's
ortho polygon ∩ DEM mask containment join (SURVEY.md §2.3 J3; the
reference materialises PIP as a cv2.fillPoly raster mask,
/root/reference/orthority/ortho.py:304-317).

Plan shape (designed for 10^12 pages vs a small footprint catalog):

1. geotag -> cell assignment: pure Column expressions in the scan stage.
2. candidate prefilter: equi-join pages.cell == catalog.cell. The
   catalog (one row per covering cell, the footprint's 8 polygon edges
   unrolled into flat columns) is tiny -> BROADCAST hash join, no
   shuffle of pages.
3. exact PIP: ray casting as one codegen'd Column expression over the
   flat edge columns — per-edge crossing flags summed and tested for an
   odd count, map-side in the join stage, with no aggregation.

Skew: one mega-cell can hold ~10^6x the median page count. The salted
variant splits each page's candidate lookup across N_SALT replicas of the
catalog so no single shuffle partition owns a whole mega-cell
(SURVEY.md §4 O9 — AQE alone cannot split a single hot *key*). Salting is
deterministic (pmod(xxhash64(url))) and provably result-identical: tests
assert salted == broadcast row sets and checksums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import config, grid


def world_xy(lat: Column, lon: Column) -> tuple[Column, Column]:
    """Equirectangular world coords (exact linear map, config constants)."""
    x = (lon - F.lit(config.LON0)) * F.lit(config.M_PER_DEG)
    y = (lat - F.lit(config.LAT0)) * F.lit(config.M_PER_DEG)
    return x, y


def world_xy_sql(lat: str, lon: str) -> tuple[str, str]:
    """The identical arithmetic as SQL text (DuckDB oracle)."""
    from ..oracle import dlit

    return (
        f"(({lon}) - {dlit(config.LON0)}) * {dlit(config.M_PER_DEG)}",
        f"(({lat}) - {dlit(config.LAT0)}) * {dlit(config.M_PER_DEG)}",
    )


def assign_cells(pages: DataFrame, res: int = config.GRID_RES) -> DataFrame:
    """pages(lat, lon, ...) + cell + world (px, py) columns. A page with a
    NULL, NaN or infinite lat/lon gets a NULL cell, so it joins no cell
    (``cell_col`` alone would clamp it onto an edge cell)."""
    lat, lon = F.col("lat"), F.col("lon")
    px, py = world_xy(lat, lon)
    # Spark orders NaN above +Inf, so abs(NaN) < Inf fails. Joins never
    # key on this nullable column: they key on cell_join_key (below)
    inf = F.lit(float("inf"))
    finite = (F.abs(lat) < inf) & (F.abs(lon) < inf)
    return pages.withColumn(
        "cell", F.when(finite, grid.cell_col(lat, lon, res))
    ).withColumn("px", px).withColumn("py", py)


def cell_join_key(pages_cells: DataFrame) -> DataFrame:
    """pages_cells whose ``cell`` is a NON-NULL join key: a masked (NULL)
    cell becomes -1. Every cell equi-join keys on this. A join on the
    nullable ``cell`` infers isnotnull(cell), and the optimizer pushes
    that below the geotag projection into a Filter, which gets no
    subexpression elimination and re-runs the geotag regexp for lat and
    again for lon. -1 joins nothing: a cell id is
    res * RES_FACTOR + ix * IX_FACTOR + iy with res, ix and iy all >= 0,
    so no footprint cell (nor any k-ring cell) is negative."""
    return pages_cells.withColumn(
        "cell", F.coalesce(F.col("cell"), F.lit(-1).cast("long"))
    )


def _inside(catalog: DataFrame) -> Column:
    """The odd-crossings vote unrolled over ``catalog``'s flat edge
    columns ``ex1_i, ey1_i, ex2_i, ey2_i``: one whole-stage-codegen
    expression, evaluated map-side inside the join stage (no shuffle, no
    lambda). ValueError for a catalog without those columns."""
    n_edges = sum(1 for c in catalog.columns if c.startswith("ex1_"))
    if not n_edges:
        raise ValueError(
            "PIP joins take the flat footprint catalog (columns filename, "
            "cell, ex1_0..ey2_{n-1}) built by "
            "footprints.footprint_catalog_flat_df; got columns "
            f"{catalog.columns}"
        )
    terms = []
    for i in range(n_edges):
        x1, y1, x2, y2 = (f"e{k}_{i}" for k in ("x1", "y1", "x2", "y2"))
        terms.append(
            f"CAST((({y1} > py) != ({y2} > py)) AND "
            f"(px < {x1} + ({x2} - {x1}) * (py - {y1}) / ({y2} - {y1})) AS INT)"
        )
    return F.expr("((" + " + ".join(terms) + ") % 2) = 1")


def pip_crossing_sql(px: str, py: str, e: str = "") -> str:
    """Oracle SQL for one edge-crossing flag (same arithmetic order);
    ``e`` prefixes the edge columns (e.g. 'e.')."""
    return (
        f"CASE WHEN (({e}y1 > {py}) != ({e}y2 > {py})) "
        f"AND ({px} < {e}x1 + ({e}x2 - {e}x1) * ({py} - {e}y1) / ({e}y2 - {e}y1)) "
        f"THEN 1 ELSE 0 END"
    )


# ---------------------------------------------------------------------------
# join strategies
# ---------------------------------------------------------------------------

def pip_join_broadcast(
    pages_cells: DataFrame,
    catalog: DataFrame,
    footprint_edges: DataFrame,
    keep: list[str] = (),
) -> DataFrame:
    """Broadcast path: cell-prefilter equi-join + inline exact PIP.

    ``catalog`` is the flat catalog of
    :func:`orthority_spark.sources.footprints.footprint_catalog_flat_df`;
    any other table raises ``ValueError``. ``footprint_edges`` is no
    longer read: the catalog carries the edges. It stays a positional
    parameter so existing callers keep working.

    ZERO shuffles: the catalog broadcasts, the crossing vote evaluates
    map-side, output streams straight into the next stage. This is the
    default plan whenever the footprint catalog fits in a broadcast (it
    always should — it is metadata, not data). Tested against the numpy
    oracle in ``tests/test_tile_join.py::test_broadcast_pip_matches_oracle``.
    """
    inside = _inside(catalog)
    cand = cell_join_key(pages_cells).join(F.broadcast(catalog), "cell")
    return cand.where(inside).select("url", "filename", *keep)


def pip_join_salted(
    pages_cells: DataFrame,
    catalog: DataFrame,
    footprint_edges: DataFrame,
    keep: list[str] = (),
    n_salt: int = config.N_SALT,
) -> DataFrame:
    """Salted shuffle path for skewed mega-cells.

    For when the footprint side outgrows a broadcast (continental
    catalogs): a shuffle-hash join on (cell, salt). Pages get
    salt = pmod(xxhash64(url), n_salt); the footprint-cell table is
    replicated n_salt times, so one mega-cell's pages spread over n_salt
    shuffle partitions instead of hot-spotting one task (SURVEY §4 O9 —
    AQE splits skewed *partitions*, not single hot *keys* on the build
    side). ``catalog`` and ``footprint_edges`` are as in
    :func:`pip_join_broadcast`. Result rows are byte-identical to the
    broadcast path: ``tests/test_tile_join.py::test_salted_equals_broadcast``
    and ``test_tile_checksum_parity_across_paths`` force this plan, and
    ``tests/test_plans.py::test_salted_join_partitions_by_cell_and_salt``
    pins its (cell, salt) shuffle.
    """
    inside = _inside(catalog)
    # project to join-relevant columns BEFORE the shuffle: never shuffle
    # page payload (text/html) through a join that only needs geometry
    proj = list(dict.fromkeys(["url", "cell", "px", "py", *keep]))
    salted_pages = cell_join_key(pages_cells.select(*proj)).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_salt))
    )
    replicated = catalog.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("salt", F.col("salt").cast("long"))
    # hint the REPLICATED FOOTPRINT side as the shuffle-hash build side:
    # the hash map is built from the tiny dimension (n_cells x n_salt
    # rows), never from the fact side — a pages-side build map holds a
    # whole shuffle partition in memory and OOMs on a hot key
    cand = salted_pages.join(
        replicated.hint("shuffle_hash"), ["cell", "salt"]
    )
    return cand.where(inside).select("url", "filename", *keep)

