"""kNN: k nearest footprints per page (SURVEY §2.3 kNN / §2.5 W4).

Two operators, each ranking with the literal plan while the footprint
catalog has 1..MAX_LITERAL_CATALOG entries: the catalog's centers are
unrolled into codegen'd expressions and the top-k is taken map-side in
the scan stage, with no shuffle and no window.

- :func:`knn_bruteforce` — score every (page, footprint) pair.
- :func:`knn_kring` — the scale path for large catalogs: candidates come
  from an equi-join of the page's cell against the footprint-cell index
  dilated by ``ring`` cells (``ring`` must be chosen >= catalog spacing
  so that >= k true neighbors are inside the ring — verified against
  brute force in tests), so each page only scores footprints in its
  neighborhood.

Past MAX_LITERAL_CATALOG entries, or for an empty catalog, both take a
window plan (broadcast candidates + ``row_number`` per url), and
:func:`knn_kring` withholds the broadcast hint past
KRING_BROADCAST_MAX_ROWS. Each plan's test is named in its operator's
docstring.

Determinism: rank orders by (dist_sq, filename) so equal distances break
ties stably across engines and parallelism levels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from .. import grid
from ..session import prepared
from ..sources.local import local_table
from .tile_join import cell_join_key


def _dist_sq(cx: str = "cx", cy: str = "cy") -> Column:
    return (F.col("px") - F.col(cx)) * (F.col("px") - F.col(cx)) + (
        F.col("py") - F.col(cy)
    ) * (F.col("py") - F.col(cy))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("url").orderBy(F.col("dist_sq"), F.col("filename"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


#: literal-catalog ceiling for the map-side rank plan: past this the
#: unrolled O(n^2) comparison expressions bloat codegen, so the window
#: plan takes over (a catalog this big should use knn_kring anyway).
MAX_LITERAL_CATALOG = 256
#: knn_kring's broadcast guard on the ring-expanded footprint-cell index
#: (~100 MB of packed longs): past it the broadcast hint is withheld.
KRING_BROADCAST_MAX_ROWS = 4_000_000


def _topk_literal(
    pages: DataFrame, cat: list, k: int, masked: bool = False
) -> DataFrame:
    """Top-k per page with the catalog UNROLLED into codegen'd column
    expressions (r6 plan): per-candidate dist_sq columns, rank computed
    as 1 + count of strictly-smaller (dist_sq, filename) candidates —
    the exact row_number ordering incl. NULLS FIRST and NaN-largest —
    then one Generate + filter emits the <= k rows. Zero shuffles, zero
    interpreted lambdas (transform/array_sort are per-element
    interpreted; at 8M pages the lambda plan measured 2.6x slower).

    ``masked``: pages additionally carry int columns ``_m0.._m{n-1}``
    (1 = candidate j applies to this page); rank counts only masked
    candidates and only masked rows are emitted (the k-ring cell path).
    """
    from ..oracle import dlit

    proj = pages.select(
        "*",
        *[
            F.expr(
                f"((px - {dlit(r.cx)}) * (px - {dlit(r.cx)})"
                f" + (py - {dlit(r.cy)}) * (py - {dlit(r.cy)}))"
            ).alias(f"_d{i}")
            for i, r in enumerate(cat)
        ],
    )
    structs = []
    for i, ri in enumerate(cat):
        terms = []
        for j, rj in enumerate(cat):
            if i == j:
                continue
            lt = (
                f"(_d{j} < _d{i}) OR (_d{j} IS NULL AND _d{i} IS NOT NULL) "
                f"OR ((_d{j} <=> _d{i}) AND '{rj.filename}' < '{ri.filename}')"
            )
            if masked:
                lt = f"(_m{j} = 1) AND ({lt})"
            terms.append(f"CAST(({lt}) AS INT)")
        rank = f"(1 + {' + '.join(terms)})" if terms else "1"
        structs.append(
            f"struct({rank} AS rank, '{ri.filename}' AS filename, "
            f"{dlit(ri.cx)} AS cx, {dlit(ri.cy)} AS cy, _d{i} AS dist_sq"
            + (f", _m{i} AS m" if masked else ", 1 AS m")
            + ")"
        )
    out = (
        proj.select(
            "url", "px", "py",
            F.explode(F.expr(f"array({', '.join(structs)})")).alias("_s"),
        )
        .where((F.col("_s.rank") <= k) & (F.col("_s.m") == 1))
        .select(
            "url", "px", "py",
            F.col("_s.filename").alias("filename"),
            F.col("_s.cx").alias("cx"),
            F.col("_s.cy").alias("cy"),
            F.col("_s.dist_sq").alias("dist_sq"),
            F.col("_s.rank").alias("rank"),
        )
    )
    return out


def _catalog(summary: DataFrame) -> list:
    """The first MAX_LITERAL_CATALOG + 1 (filename, cx, cy) rows of
    ``summary``, taken once per application and ``summary`` object."""
    return prepared(
        summary.sparkSession, "knn_catalog", (summary,), (MAX_LITERAL_CATALOG,),
        lambda: summary.select("filename", "cx", "cy").take(MAX_LITERAL_CATALOG + 1),
    )


def _expand(footprint_cells: DataFrame, ring: int) -> DataFrame:
    """(filename, cell) of every cell in the ``ring``-ring of each
    footprint covering-cell, distinct: the Spark form of
    :func:`_ring_cells`, for the plans that join on the expanded index."""
    # decode (res, ix, iy), wrap ix around the antimeridian (mod 2^res) and
    # drop out-of-range iy — mirrors grid.k_ring exactly, so neighborhoods
    # crossing the +-180 lon seam or the lat poles stay correct
    return (
        footprint_cells.select("filename", "cell")
        .withColumn("res", F.expr("shiftright(cell, 52)"))
        .withColumn(
            "ix", F.expr(f"shiftright(cell, 26) & {grid.IX_FACTOR - 1}")
        )
        .withColumn("iy", F.expr(f"cell & {grid.IX_FACTOR - 1}"))
        .withColumn(
            "n", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(res AS INT))")
        )
        .withColumn(
            "d", F.expr(f"explode(sequence(CAST(-{ring} AS BIGINT), {ring}))")
        )
        .withColumn(
            "d2", F.expr(f"explode(sequence(CAST(-{ring} AS BIGINT), {ring}))")
        )
        .where(
            (F.col("iy") + F.col("d2") >= 0) & (F.col("iy") + F.col("d2") < F.col("n"))
        )
        .select(
            "filename",
            (
                F.col("res") * F.lit(grid.RES_FACTOR).cast("long")
                + F.pmod(F.col("ix") + F.col("d"), F.col("n"))
                * F.lit(grid.IX_FACTOR).cast("long")
                + F.col("iy")
                + F.col("d2")
            ).alias("cell"),
        )
        .distinct()
    )


def _ring_cells(cells: np.ndarray, ring: int) -> tuple[np.ndarray, np.ndarray]:
    """(i, cell) for every cell in the ``ring``-ring of ``cells[i]``, not
    distinct: the driver-side, vectorized form of :func:`_expand` (ix
    wraps around the antimeridian, out-of-range iy rows are dropped)."""
    res, ix, iy = grid.cell_decode(cells)
    n = (np.int64(1) << res)[:, None]
    d = np.arange(-ring, ring + 1, dtype="int64")
    dx, dy = (g.ravel()[None, :] for g in np.meshgrid(d, d, indexing="ij"))
    jx = (ix[:, None] + dx) % n
    jy = iy[:, None] + dy
    keep = (jy >= 0) & (jy < n)
    out = res[:, None] * grid.RES_FACTOR + jx * grid.IX_FACTOR + jy
    return np.nonzero(keep)[0], out[keep]


def _mask_table(spark, index: list, cat: list, ring: int) -> DataFrame:
    """Per-cell MEMBERSHIP MASKS ``(cell, _m0.._m{n-1})`` over the literal
    catalog (mask j = 1 iff candidate j's ring covers the cell), built
    on the driver from the collected ``(filename, cell)`` index rows and
    held as a local relation: a broadcast of it re-aggregates nothing.
    Its rows are at most the expanded index, which the
    KRING_BROADCAST_MAX_ROWS guard already bounds."""
    names = {r.filename: i for i, r in enumerate(cat)}
    rows = [
        (names[r.filename], r.cell)
        for r in index if r.filename in names and r.cell is not None
    ]
    j, cells = np.array(rows, dtype="int64").reshape(-1, 2).T
    src, ring_cells = _ring_cells(cells, ring)
    uniq, inv = np.unique(ring_cells, return_inverse=True)
    m = np.zeros((len(uniq), len(cat)), dtype="int32")
    m[inv, j[src]] = 1
    cols = list(names.values())
    return local_table(
        spark,
        [(c, *r) for c, r in zip(uniq.tolist(), m[:, cols].tolist())],
        "cell long, " + ", ".join(f"_m{i} int" for i in cols),
    )


def knn_bruteforce(pages_cells: DataFrame, summary: DataFrame, k: int = 3) -> DataFrame:
    """Catalog-unrolled map-side top-k (r6 plan): the tiny center catalog
    is collected once and inlined as codegen'd expressions; ranking
    happens inside the scan stage. The r5 plan exchanged + sorted every
    (page x footprint) candidate row on url for the window; this one has
    zero shuffles and the identical output.

    Catalogs past MAX_LITERAL_CATALOG entries, and an empty one, take the
    window plan: ``tests/test_knn.py::test_window_plans_equal_literal_plans``
    and ``test_empty_catalog_returns_no_rows`` force it; the literal plan
    is checked against the DuckDB oracle by the ``knn`` gate."""
    cat = _catalog(summary)
    if 0 < len(cat) <= MAX_LITERAL_CATALOG:
        return _topk_literal(pages_cells.select("url", "px", "py"), cat, k)
    cand = pages_cells.select("url", "px", "py").join(
        F.broadcast(summary.select("filename", "cx", "cy"))
    )
    return _topk(cand.withColumn("dist_sq", _dist_sq()), k)


def knn_kring(
    pages_cells: DataFrame,
    footprint_cells: DataFrame,
    summary: DataFrame,
    k: int = 3,
    ring: int = 8,
) -> DataFrame:
    """Cell k-ring candidate join + top-k (the 10^12-page plan).

    Ring expansion happens on the *footprint* side (tiny): each footprint
    covering-cell is replicated to its k-ring, so the pages side joins on
    its own cell with zero blow-up and no shuffle when the expanded index
    still broadcasts.

    Three plans, one test each:

    - literal (1..MAX_LITERAL_CATALOG catalog entries, index under the
      guard): pages join a per-cell mask table and rank map-side;
      ``tests/test_knn.py::test_kring_equals_bruteforce``.
    - broadcast window (catalog empty or past MAX_LITERAL_CATALOG):
      the broadcast expanded index + ``row_number`` per url;
      ``test_window_plans_equal_literal_plans`` and
      ``test_empty_catalog_returns_no_rows``.
    - unhinted window (size guard): the expansion is (2*ring+1)^2 rows
      per covering cell; when the estimate exceeds
      KRING_BROADCAST_MAX_ROWS, broadcasting it would stress the
      driver, so the explicit broadcast hint is withheld and Spark
      plans the cell equi-join itself (shuffle-hash/SMJ for a genuinely
      large index); ``test_kring_broadcast_guard_withholds_hint``.

    Prepare: one ``collect()`` of at most
    ``KRING_BROADCAST_MAX_ROWS // (2*ring+1)**2 + 1`` rows of
    ``footprint_cells`` decides the guard (a full read means the index
    fits) and, under the literal plan, supplies the rows of the mask
    table, which is expanded and aggregated on the driver in numpy.
    With the catalog ``take()``, these are driver-side reads that run no
    Spark job over local tables. They are prepared once per application
    and input DataFrame objects (:func:`orthority_spark.session.prepared`),
    so later calls with the same ``footprint_cells`` and ``summary``
    objects launch no Spark job.
    """
    spark = footprint_cells.sparkSession
    cap = KRING_BROADCAST_MAX_ROWS // (2 * ring + 1) ** 2 + 1
    index = prepared(
        spark, "knn_index", (footprint_cells,), (cap,),
        lambda: footprint_cells.select("filename", "cell").limit(cap).collect(),
    )
    est_rows = len(index) * (2 * ring + 1) ** 2
    cat = _catalog(summary)
    pages = cell_join_key(pages_cells.select("url", "px", "py", "cell"))
    fits = est_rows <= KRING_BROADCAST_MAX_ROWS
    if fits and 0 < len(cat) <= MAX_LITERAL_CATALOG:
        # r6 plan: join pages on their own cell to the per-cell mask
        # table (broadcast hash join) and rank map-side with the
        # codegen'd unrolled comparisons — zero pages-side shuffles. The
        # candidate set per page is identical to the r5 join+window plan.
        masks = prepared(
            spark, "knn_masks", (footprint_cells, summary), (ring,),
            lambda: _mask_table(spark, index, cat, ring),
        )
        cand = pages.join(F.broadcast(masks), "cell")
        return _topk_literal(cand.drop("cell"), cat, k, masked=True)
    expanded = _expand(footprint_cells, ring)
    if fits:
        # catalog empty or too wide for the literal unroll but the
        # expanded index still broadcasts: the r5 broadcast join + window
        # plan
        expanded = F.broadcast(expanded)
    else:
        import warnings

        warnings.warn(
            f"knn_kring: expanded cell index >= {est_rows} rows exceeds the "
            f"broadcast guard ({KRING_BROADCAST_MAX_ROWS}); withholding the "
            "broadcast hint and letting Spark plan the cell equi-join "
            "(lower ring to get the broadcast plan)",
            stacklevel=2,
        )
    # no distinct needed: the expanded index is distinct on
    # (filename, cell) and each page carries exactly one cell, so a
    # (url, filename) pair can appear at most once — a distinct here
    # would shuffle the full candidate set for nothing
    cand = (
        pages.join(expanded, "cell")
        .join(F.broadcast(summary.select("filename", "cx", "cy")), "filename")
        .select("url", "px", "py", "filename", "cx", "cy")
    )
    return _topk(cand.withColumn("dist_sq", _dist_sq()), k)
