"""Point-in-polygon tile joins: broadcast and salted-shuffle.

This is the engine's flagship operator — the recast of the reference's
ortho polygon ∩ DEM mask containment join (SURVEY.md §2.3 J3; the
reference materialises PIP as a cv2.fillPoly raster mask,
/root/reference/orthority/ortho.py:304-317).

Plan shape (designed for 10^12 pages vs a small footprint catalog):

1. geotag -> cell assignment: pure Column expressions in the scan stage.
2. candidate prefilter: equi-join pages.cell == footprint_cells.cell. The
   footprint side is tiny -> BROADCAST hash join, no shuffle of pages.
3. exact PIP: ray-casting decided entirely with Column arithmetic — the
   8 polygon edges are broadcast-joined, per-edge crossing flags are
   map-side expressions, and the odd-crossings vote is one partial-agg
   groupBy on (url, filename).

Skew: one mega-cell can hold ~10^6x the median page count. The salted
variant splits each page's candidate lookup across N_SALT replicas of the
footprint-cell table so no single shuffle partition owns a whole mega-cell
(SURVEY.md §4 O9 — AQE alone cannot split a single hot *key*). Salting is
deterministic (pmod(xxhash64(url))) and provably result-identical: tests
assert salted == unsalted == broadcast row sets and checksums.
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


# ---------------------------------------------------------------------------
# exact PIP as a single map-side expression (no shuffle)
#
# The polygon's edges ride the broadcast footprint_cells table as an
# array<struct<x1,y1,x2,y2>> column; the odd-crossings vote is an
# F.aggregate lambda over that array — evaluated inside the scan/join
# stage, so the exact PIP adds ZERO shuffles beyond the (broadcast) cell
# equi-join. At 10^12 pages this is the difference between shuffling the
# full candidate set and shuffling nothing.
# ---------------------------------------------------------------------------

_PIP_INSIDE = (
    "aggregate(edges, CAST(0 AS BIGINT), (acc, e) -> acc + "
    "CAST((CASE WHEN ((e.y1 > py) != (e.y2 > py)) "
    "AND (px < e.x1 + (e.x2 - e.x1) * (py - e.y1) / (e.y2 - e.y1)) "
    "THEN 1 ELSE 0 END) AS BIGINT)) % 2 = 1"
)


def _flat_inside_expr(n_edges: int = 8) -> str:
    """Unrolled crossing vote over flat edge columns — stays inside
    whole-stage codegen (the aggregate() lambda is interpreted per element;
    unrolling is ~2.2x faster at 8M pages). Same arithmetic per edge."""
    terms = []
    for i in range(n_edges):
        x1, y1, x2, y2 = (f"e{k}_{i}" for k in ("x1", "y1", "x2", "y2"))
        terms.append(
            f"CAST((({y1} > py) != ({y2} > py)) AND "
            f"(px < {x1} + ({x2} - {x1}) * (py - {y1}) / ({y2} - {y1})) AS INT)"
        )
    return "((" + " + ".join(terms) + ") % 2) = 1"


def _attach_edge_arrays(footprint_cells: DataFrame, footprint_edges: DataFrame) -> DataFrame:
    """footprint_cells + an edges array<struct> column per filename (tiny,
    driver-side-sized; stays broadcastable). Skipped when the catalog
    already carries an edges column (footprints.footprint_catalog_flat_df
    builds it driver-side — preferred: zero footprint-side shuffles)."""
    if "edges" in footprint_cells.columns or "ex1_0" in footprint_cells.columns:
        return footprint_cells
    edge_arrays = footprint_edges.groupBy("filename").agg(
        F.array_sort(
            F.collect_list(F.struct("x1", "y1", "x2", "y2"))
        ).alias("edges")
    )
    return footprint_cells.join(edge_arrays, "filename")


def _pip_filter(candidates: DataFrame, keep: list[str]) -> DataFrame:
    """candidates(url, filename, px, py, edge cols...) -> rows strictly
    inside; picks the codegen'd flat-unrolled vote when the catalog
    carries flat edge columns, else the array-lambda vote."""
    if "ex1_0" in candidates.columns:
        inside = _flat_inside_expr(
            sum(1 for c in candidates.columns if c.startswith("ex1_"))
        )
    else:
        inside = _PIP_INSIDE
    return candidates.where(F.expr(inside)).select("url", "filename", *keep)


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
    footprint_cells: DataFrame,
    footprint_edges: DataFrame,
    keep: list[str] = (),
) -> DataFrame:
    """Broadcast path: cell-prefilter equi-join + inline exact PIP.

    ZERO shuffles: the footprint side (cells x edges arrays) broadcasts,
    the crossing vote evaluates map-side, output streams straight into the
    next stage. This is the default plan whenever the footprint catalog
    fits in a broadcast (it always should — it is metadata, not data).
    """
    fc = _attach_edge_arrays(footprint_cells, footprint_edges)
    cand = cell_join_key(pages_cells).join(F.broadcast(fc), "cell")
    return _pip_filter(cand, list(keep))


def pip_join_salted(
    pages_cells: DataFrame,
    footprint_cells: DataFrame,
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
    side). Result rows are byte-identical to the broadcast path
    (asserted in tests).
    """
    fc = _attach_edge_arrays(footprint_cells, footprint_edges)
    # project to join-relevant columns BEFORE the shuffle: never shuffle
    # page payload (text/html) through a join that only needs geometry
    proj = list(dict.fromkeys(["url", "cell", "px", "py", *keep]))
    salted_pages = cell_join_key(pages_cells.select(*proj)).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_salt))
    )
    replicated = fc.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("salt", F.col("salt").cast("long"))
    # hint the REPLICATED FOOTPRINT side as the shuffle-hash build side:
    # the hash map is built from the tiny dimension (n_cells x n_salt
    # rows), never from the fact side — a pages-side build map holds a
    # whole shuffle partition in memory and OOMs on a hot key
    cand = salted_pages.join(
        replicated.hint("shuffle_hash"), ["cell", "salt"]
    )
    return _pip_filter(cand, list(keep))

