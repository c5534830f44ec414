"""Additional gate queries: grouping sets (SURVEY §2.4) and the
Arrow-kernel operators (DEM tile assignment and sampling, remap gather,
undistortion, ray-DEM intersection, multimodal decode, pan-sharpen,
exterior fit), each paired with a DuckDB oracle that unrolls the same
arithmetic as SQL."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from orthority_spark.oracle import dlit
from orthority_spark.sources import footprints as fp
from orthority_spark.sources.demo_raster import SRC_H, SRC_W, TRANSFORM, src_array
from orthority_spark.sources.local import local_table

from .queries_geo import pages_cells, pages_cte, pinhole_sql
from .queries_rel import _CENTS


# ---------------------------------------------------------------------------
# oracle-gated
# ---------------------------------------------------------------------------

def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (returnflag, linestatus) with exact
    integer-cents sums (grouping-sets coverage, SURVEY §2.4)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.withColumn("qty_c", F.expr(_CENTS.format(col="l_quantity")))
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("qty_c").alias("sum_qty_c"), F.count(F.lit(1)).alias("n"))
    )


def o_rollup_pricing() -> str:
    qty = _CENTS.format(col="l_quantity")
    return f"""
SELECT l_returnflag, l_linestatus, CAST(SUM({qty}) AS BIGINT) AS sum_qty_c,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


def q_dem_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster<->vector key derivation: owning DEM tile per page (the
    equi-key that makes the raster join shuffle-free)."""
    from orthority_spark.sources.dem_tiles import dem_transform, TILE

    a, _, c, _, e, f0 = dem_transform(18000.0, 31500.0)
    pc = pages_cells(spark, sf_dir)
    col = F.floor((F.col("px") - F.lit(c)) / F.lit(a)).cast("long")
    row = F.floor((F.col("py") - F.lit(f0)) / F.lit(e)).cast("long")
    return pc.select(
        "url",
        F.concat_ws(
            ":",
            (row - row % F.lit(TILE)).cast("string"),
            (col - col % F.lit(TILE)).cast("string"),
        ).alias("dem_tile_id"),
    )


def o_dem_tile_assign() -> str:
    from orthority_spark.sources.dem_tiles import dem_transform, TILE

    a, _, c, _, e, f0 = dem_transform(18000.0, 31500.0)
    col = f"CAST(FLOOR((px - {dlit(c)}) / {dlit(a)}) AS BIGINT)"
    row = f"CAST(FLOOR((py - {dlit(f0)}) / {dlit(e)}) AS BIGINT)"
    return f"""{pages_cte()}
SELECT url,
       CAST({row} - {row} % {TILE} AS VARCHAR) || ':' ||
       CAST({col} - {col} % {TILE} AS VARCHAR) AS dem_tile_id
FROM cells"""


# ---------------------------------------------------------------------------
# remap (J6/W2/W3) — oracle-gated per-pixel variants
# ---------------------------------------------------------------------------

# ortho grid rendered from the demo source image (sources/demo_raster.py);
# _rm_src_sql is that image's exact integer-rational formula as SQL
_RM_W, _RM_H = 96, 80


def _rm_remap(spark: SparkSession, interp: str) -> DataFrame:
    """Tiled remap of the demo source through img_0000 over the plane
    DEM, exploded to valid pixels. ``proj`` pins an explicit
    left-to-right float op order the SQL oracle mirrors (np matmul's
    summation order is not a contract)."""
    from orthority_spark.geom.dem import dem_plane
    from orthority_spark.operators.remap import remap_tiles, tile_windows

    model = fp.fixture_models()["img_0000"]
    R, T, K = model.R, model.T, model.K

    def proj(x, y, z):
        xr = x - T[0, 0]
        yr = y - T[1, 0]
        zr = z - T[2, 0]
        cx = R[0, 0] * xr + R[1, 0] * yr + R[2, 0] * zr
        cy = R[0, 1] * xr + R[1, 1] * yr + R[2, 1] * zr
        cz = R[0, 2] * xr + R[1, 2] * yr + R[2, 2] * zr
        jj = K[0, 0] * (cx / cz) + K[0, 2]
        ii = K[1, 1] * (cy / cz) + K[1, 2]
        return jj, ii

    tiles = tile_windows(spark, _RM_W, _RM_H)
    return _rm_pixels_df(remap_tiles(
        tiles, model, src_array(), TRANSFORM, dem_plane,
        interp=interp, project_fn=proj,
    ))


def _rm_src_sql(i: str, j: str) -> str:
    return (
        f"(CAST((({i}) + ({j})) % 2 AS DOUBLE) * 100.0 "
        f"+ CAST((({i}) * 37 + ({j}) * 91) % 1000 AS DOUBLE) / 1000.0)"
    )


# the floor cell of each projected pixel, and the remap oracles' shared
# tail: drop every pixel within 1 px of an invalid one (the remap's
# one-pixel nodata dilation)
_RM_ST = """st AS (
  SELECT r, c, jj, ii,
         CAST(FLOOR(jj) AS BIGINT) AS j0, CAST(FLOOR(ii) AS BIGINT) AS i0
  FROM prj
)"""
_RM_DILATED = """, inv AS (
  SELECT r, c FROM vals WHERE NOT valid
)
SELECT CAST(vals.r AS INTEGER) AS r, CAST(vals.c AS INTEGER) AS c, v
FROM vals
WHERE NOT EXISTS (
  SELECT 1 FROM inv
  WHERE abs(inv.r - vals.r) <= 1 AND abs(inv.c - vals.c) <= 1
)"""


def _rm_bilinear_sql() -> str:
    """``, bl ... vals`` CTEs + the dilated select over ``st``: the
    bilinear gather both bilinear oracles share."""
    sw, sh = SRC_W, SRC_H
    s00 = _rm_src_sql("i0c", "j0c")
    s01 = _rm_src_sql("i0c", "j0c + 1")
    s10 = _rm_src_sql("i0c + 1", "j0c")
    s11 = _rm_src_sql("i0c + 1", "j0c + 1")
    return f""", bl AS (
  SELECT r, c,
         (j0 >= 0 AND i0 >= 0 AND j0 < {sw - 1} AND i0 < {sh - 1}) AS valid,
         LEAST(GREATEST(j0, 0), {sw - 2}) AS j0c,
         LEAST(GREATEST(i0, 0), {sh - 2}) AS i0c,
         jj, ii
  FROM st
), vals AS (
  SELECT r, c, valid,
         {s00} * (1 - (ii - i0c)) * (1 - (jj - j0c))
       + {s01} * (1 - (ii - i0c)) * (jj - j0c)
       + {s10} * (ii - i0c) * (1 - (jj - j0c))
       + {s11} * (ii - i0c) * (jj - j0c) AS v
  FROM bl
){_RM_DILATED}"""


def _rm_prj_cte() -> str:
    """WITH-prefix CTEs projecting every ortho output pixel to source
    (jj, ii) + floor cell (j0, i0) — shared by the bilinear and cubic
    remap oracles; mirrors ``_rm_remap``'s ``proj`` term-for-term."""
    a, b, c0, d, e, f0 = TRANSFORM
    x = f"({dlit(a)} * (c + 0.5) + {dlit(b)} * (r + 0.5) + {dlit(c0)})"
    y = f"({dlit(d)} * (c + 0.5) + {dlit(e)} * (r + 0.5) + {dlit(f0)})"
    jj, ii = (f"({v})" for v in pinhole_sql(
        fp.fixture_models()["img_0000"], x, y, dlit(825.0)))
    return f"""
WITH px AS (
  SELECT rr.range AS r, cc.range AS c FROM range({_RM_H}) rr, range({_RM_W}) cc
), prj AS (
  SELECT r, c, {jj} AS jj, {ii} AS ii FROM px
), {_RM_ST}"""


def _rm_pixels_df(out: DataFrame, width: int = _RM_W) -> DataFrame:
    w0 = F.least(F.lit(64), F.lit(width) - F.col("col_off"))
    return (
        out.select("row_off", "col_off", F.posexplode("block").alias("idx", "v"))
        .select(
            (F.col("row_off") + F.floor(F.col("idx") / w0)).cast("int").alias("r"),
            (F.col("col_off") + F.col("idx") % w0).cast("int").alias("c"),
            "v",
        )
        # masked pixels arrive as NULL (remap_tiles writes the NaN nodata
        # as null) — and isnan(NULL) is false, so test both
        .where(F.col("v").isNotNull() & ~F.isnan("v"))
    )


def q_remap_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core orthorectification gather, fully oracle-gated: every
    output pixel of a tiled remap (affine grid -> plane z -> pinhole
    projection -> bilinear gather -> dilated nodata mask) compared
    per-pixel against a DuckDB twin. The tiled halo rendering is what is
    under test."""
    return _rm_remap(spark, "bilinear")


def o_remap_pixels() -> str:
    return _rm_prj_cte() + _rm_bilinear_sql()


def q_remap_pixels_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remap gather with the reference's DEFAULT interpolation —
    cubic (/root/reference/orthority/camera.py:108,250 ``interp: Interp =
    Interp.cubic``; cv2 INTER_CUBIC, Keys A=-0.75) — oracle-gated per
    output pixel exactly like the bilinear twin. The 4x4 stencil reads
    the broadcast source image, so tiling needs no wider halo; the
    dilated nodata mask still uses the 1-px apron."""
    return _rm_remap(spark, "cubic")


def o_remap_pixels_cubic() -> str:
    sw, sh = SRC_W, SRC_H
    A, A2, A3 = dlit(-0.75), dlit(1.25), dlit(2.25)

    def w_sql(f: str) -> list[str]:
        # mirrors operators.remap._cubic_weights term-for-term
        fp1 = f"(({f}) + 1.0)"
        g = f"(1.0 - ({f}))"
        gp1 = f"(2.0 - ({f}))"
        return [
            f"({A} * ((({fp1} - 5.0) * {fp1} + 8.0) * {fp1} - 4.0))",
            f"(({A2} * ({f}) - {A3}) * ({f}) * ({f}) + 1.0)",
            f"(({A2} * ({g}) - {A3}) * ({g}) * ({g}) + 1.0)",
            f"({A} * ((({gp1} - 5.0) * {gp1} + 8.0) * {gp1} - 4.0))",
        ]

    row_terms = []
    for k in range(4):
        i = f"i0c + {k - 1}" if k != 1 else "i0c"
        taps = " + ".join(
            f"wj{t} * {_rm_src_sql(i, f'j0c + {t - 1}' if t != 1 else 'j0c')}"
            for t in range(4)
        )
        row_terms.append(f"wi{k} * ({taps})")
    v = "\n       + ".join(row_terms)
    wj = w_sql("fj")
    wi = w_sql("fi")
    return f"""{_rm_prj_cte()}, bl AS (
  SELECT r, c,
         (j0 >= 1 AND i0 >= 1 AND j0 < {sw - 2} AND i0 < {sh - 2}) AS valid,
         LEAST(GREATEST(j0, 1), {sw - 3}) AS j0c,
         LEAST(GREATEST(i0, 1), {sh - 3}) AS i0c,
         jj, ii
  FROM st
), fr AS (
  SELECT r, c, valid, j0c, i0c, jj - j0c AS fj, ii - i0c AS fi FROM bl
), wt AS (
  SELECT r, c, valid, j0c, i0c,
         {wj[0]} AS wj0, {wj[1]} AS wj1, {wj[2]} AS wj2, {wj[3]} AS wj3,
         {wi[0]} AS wi0, {wi[1]} AS wi1, {wi[2]} AS wi2, {wi[3]} AS wi3
  FROM fr
), vals AS (
  SELECT r, c, valid,
         {v} AS v
  FROM wt
){_RM_DILATED}"""


def q_undistort_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undistort image path (S4/P12: cv2.initUndistortRectifyMap
    analogue) oracle-gated per pixel: for every output pixel, normalise
    through K, apply the CLOSED-FORM brown forward distortion, re-project
    through K and bilinear-gather the source — the same tiled remap
    machinery, with the mapping in pixel space instead of world space."""
    from orthority_spark.operators.remap import remap_tiles, tile_windows

    m = fp.fixture_models()["img_0001"]  # brown
    K, dist = m.K, m.dist
    w, h = m.im_size

    def proj(x, y, z):
        # x, y ARE output pixel coords (identity 'world' transform below)
        xu = (x - K[0, 2]) / K[0, 0]
        yu = (y - K[1, 2]) / K[1, 1]
        x2 = xu * xu
        y2 = yu * yu
        xyp = xu * yu
        r2 = x2 + y2
        radial = 1.0 + r2 * (dist["k1"] + r2 * (dist["k2"] + r2 * dist["k3"]))
        xd = xu * radial + 2.0 * dist["p1"] * xyp + dist["p2"] * (r2 + 2.0 * x2)
        yd = yu * radial + dist["p1"] * (r2 + 2.0 * y2) + 2.0 * dist["p2"] * xyp
        return K[0, 0] * xd + K[0, 2], K[1, 1] * yd + K[1, 2]

    # identity pixel 'world': x = 1*(c+0.5) + 0*(r+0.5) - 0.5 = c exactly
    transform = (1.0, 0.0, -0.5, 0.0, 1.0, -0.5)
    tiles = tile_windows(spark, w, h)
    out = remap_tiles(
        tiles, m, src_array(), transform, lambda x, y: np.zeros_like(x),
        project_fn=proj,
    )
    return _rm_pixels_df(out, w)


def o_undistort_pixels() -> str:
    m = fp.fixture_models()["img_0001"]
    K, dist = m.K, m.dist
    w, h = m.im_size
    x = f"(1.0 * (c + 0.5) + 0.0 * (r + 0.5) + {dlit(-0.5)})"
    y = f"(0.0 * (c + 0.5) + 1.0 * (r + 0.5) + {dlit(-0.5)})"
    xu = f"(({x} - {dlit(K[0, 2])}) / {dlit(K[0, 0])})"
    yu = f"(({y} - {dlit(K[1, 2])}) / {dlit(K[1, 1])})"
    k1, k2, k3 = dlit(dist["k1"]), dlit(dist["k2"]), dlit(dist["k3"])
    p1, p2 = dlit(dist["p1"]), dlit(dist["p2"])
    return f"""
WITH px AS (
  SELECT rr.range AS r, cc.range AS c FROM range({h}) rr, range({w}) cc
), norm AS (
  SELECT r, c, {xu} AS xu, {yu} AS yu FROM px
), sq AS (
  SELECT r, c, xu, yu, xu * xu AS x2, yu * yu AS y2, xu * yu AS xyp,
         xu * xu + yu * yu AS r2
  FROM norm
), dst AS (
  SELECT r, c,
    xu * (1.0 + r2 * ({k1} + r2 * ({k2} + r2 * {k3})))
      + 2.0 * {p1} * xyp + {p2} * (r2 + 2.0 * x2) AS xd,
    yu * (1.0 + r2 * ({k1} + r2 * ({k2} + r2 * {k3})))
      + {p1} * (r2 + 2.0 * y2) + 2.0 * {p2} * xyp AS yd
  FROM sq
), prj AS (
  SELECT r, c, {dlit(K[0, 0])} * xd + {dlit(K[0, 2])} AS jj,
         {dlit(K[1, 1])} * yd + {dlit(K[1, 2])} AS ii
  FROM dst
), {_RM_ST}{_rm_bilinear_sql()}"""


# ray-march gate constants: min_z / max_z / step -> 11 linspace samples,
# trig quantized to float32 on BOTH engines (playbook: absorbs 1-ulp
# cross-engine sin/cos differences; every other op is exact IEEE double)
_RAY_MINZ, _RAY_MAXZ, _RAY_STEP = 750.0, 900.0, 15.0
_RAY_S = 11
_RAY_NPTS = 32


def _ray_params() -> list[tuple]:
    """(filename, pt, dx, dy, dz, tx, ty, tz) per boundary ray — input
    CONSTANTS shared verbatim by the Spark query and the SQL oracle (the
    march over them is what is under test)."""
    from orthority_spark.geom.boundary import pixel_boundary

    rows = []
    for name in sorted(fp.fixture_models()):
        m = fp.fixture_models()[name]
        ji = pixel_boundary(m.im_size, num_pts=_RAY_NPTS)
        dirs = m.R @ m._pixel_to_camera(ji)
        for k in range(ji.shape[1]):
            rows.append(
                (
                    name, k,
                    float(dirs[0, k]), float(dirs[1, k]), float(dirs[2, k]),
                    float(m.T[0, 0]), float(m.T[1, 0]), float(m.T[2, 0]),
                )
            )
    return rows


def q_ray_dem_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ray–DEM intersection (the orthorectification core,
    /root/reference/orthority/camera.py:103-165) oracle-gated per ray:
    boundary-pixel rays marched against the sinusoid DEM (trig quantized
    to float32) by the ``ray_march`` operator; every marched hit point
    (x, y, z) is compared bit-for-bit against a DuckDB twin that replays
    the same linspace sampling + first-below rule + 20-pass bisection as
    a recursive CTE."""
    from orthority_spark.geom.dem import dem_sinusoid
    from orthority_spark.operators.ray import ray_march

    rays = local_table(
        spark,
        _ray_params(),
        "filename string, pt int, dx double, dy double, dz double, "
        "tx double, ty double, tz double",
    )
    return ray_march(
        rays.repartition(8, "filename"),
        lambda x, y: dem_sinusoid(x, y).astype("float32"),
        _RAY_MINZ, _RAY_MAXZ, _RAY_STEP, keep=["filename", "pt"],
    )


def o_ray_dem_footprints() -> str:
    vals = ", ".join(
        f"('{n}', {k}, {dlit(dx)}, {dlit(dy)}, {dlit(dz)}, "
        f"{dlit(tx)}, {dlit(ty)}, {dlit(tz)})"
        for n, k, dx, dy, dz, tx, ty, tz in _ray_params()
    )
    # np.linspace(max, min, S): z_s = s * ((min-max)/(S-1)) + max, last
    # pinned to min exactly
    zstep = dlit((_RAY_MINZ - _RAY_MAXZ) / (_RAY_S - 1))

    def dem32(x: str, y: str) -> str:
        return (
            f"CAST(825.0 + 25.0 * (SIN(({x}) / 600.0) * COS(({y}) / 600.0)) "
            f"AS REAL)"
        )

    return f"""
WITH RECURSIVE rays(filename, pt, dx, dy, dz, tx, ty, tz) AS (VALUES {vals}),
samp AS (
  SELECT r.*, s.range AS s,
         CASE WHEN s.range = {_RAY_S - 1} THEN {dlit(_RAY_MINZ)}
              ELSE s.range * {zstep} + {dlit(_RAY_MAXZ)} END AS zray
  FROM rays r, range({_RAY_S}) s
), pos AS (
  SELECT *, dx * ((zray - tz) / dz) + tx AS x,
            dy * ((zray - tz) / dz) + ty AS y,
            dz * ((zray - tz) / dz) + tz AS zz
  FROM samp
), bel AS (
  SELECT *, zz <= {dem32('x', 'y')} AS below FROM pos
), fidx AS (
  SELECT filename, pt,
         COALESCE(MIN(CASE WHEN below THEN s END), {_RAY_S - 1}) AS f,
         MIN(CASE WHEN below THEN s END) IS NULL AS none
  FROM bel GROUP BY filename, pt
), lo0 AS (
  SELECT b.filename, b.pt, b.x AS lx, b.y AS ly, b.zz AS lz
  FROM bel b JOIN fidx fi
    ON b.filename = fi.filename AND b.pt = fi.pt AND b.s = fi.f
), hi0 AS (
  SELECT b.filename, b.pt, b.x AS hx, b.y AS hy, b.zz AS hz
  FROM bel b JOIN fidx fi
    ON b.filename = fi.filename AND b.pt = fi.pt AND b.s = fi.f - 1
  WHERE fi.f > 0 AND NOT fi.none
), it AS (
  SELECT l.filename, l.pt, 0 AS i, lx, ly, lz, hx, hy, hz
  FROM lo0 l JOIN hi0 h ON l.filename = h.filename AND l.pt = h.pt
  UNION ALL
  SELECT filename, pt, i + 1,
         CASE WHEN mok THEN mx ELSE lx END,
         CASE WHEN mok THEN my ELSE ly END,
         CASE WHEN mok THEN mz ELSE lz END,
         CASE WHEN mok THEN hx ELSE mx END,
         CASE WHEN mok THEN hy ELSE my END,
         CASE WHEN mok THEN hz ELSE mz END
  FROM (
    SELECT *, mz <= {dem32('mx', 'my')} AS mok
    FROM (
      SELECT filename, pt, i, lx, ly, lz, hx, hy, hz,
             (hx + lx) / 2 AS mx, (hy + ly) / 2 AS my, (hz + lz) / 2 AS mz
      FROM it WHERE i < 20
    ) m1
  ) m2
)
SELECT filename, CAST(pt AS INTEGER) AS pt, lx AS x, ly AS y, lz AS z
FROM it WHERE i = 20
UNION ALL
SELECT l.filename, CAST(l.pt AS INTEGER) AS pt, lx, ly, lz
FROM lo0 l
WHERE NOT EXISTS (
  SELECT 1 FROM hi0 h WHERE h.filename = l.filename AND h.pt = l.pt
)"""


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing over a binary column (stubbed codec).
    The gate deliberately runs the operator's REAL executor-side batch
    decode; the stub's integer metadata (width/height/channels from the
    payload's md5 bytes) is an exact SQL contract, so the distributed
    plumbing is oracle-gated end to end. The float features stay
    pytest-held (tests/test_multimodal.py)."""
    from orthority_spark.multimodal.binary import image_decode

    from .queries_geo import derived_pages

    pages = derived_pages(spark, sf_dir).withColumn(
        "html", F.encode(F.col("text"), "utf-8")
    )
    return image_decode(pages).select(
        "url", "width", "height", "n_channels"
    )


def o_image_features() -> str:
    # md5 digest bytes k as int: ('0x' || hex chars 2k+1..2k+2)::BIGINT;
    # DuckDB md5() hashes the UTF-8 bytes — identical to the stub's
    # hashlib.md5(text.encode()) (_fake_decode: 64+d[0], 64+d[1], 1+d[2]%4)
    from orthority_spark.sources.pages import derived_pages_sql

    spec = derived_pages_sql("o_orderkey", "duckdb")
    return f"""
WITH pages AS (
  SELECT {spec['url']} AS url, {spec['text']} AS text FROM orders
)
SELECT url,
       CAST(64 + ('0x' || substr(md5(text), 1, 2))::BIGINT AS INTEGER) AS width,
       CAST(64 + ('0x' || substr(md5(text), 3, 2))::BIGINT AS INTEGER) AS height,
       CAST(1 + ('0x' || substr(md5(text), 5, 2))::BIGINT % 4 AS INTEGER) AS n_channels
FROM pages"""


def q_dem_z_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point bilinear DEM z sample (J6 gather / A3 recast): pages
    equi-joined to their owning DEM tile, Arrow kernel interpolates. The
    oracle recomputes the float32 sinusoid block values analytically and
    blends with identical arithmetic."""
    from orthority_spark.operators.raster_join import sample_dem_z
    from orthority_spark.sources.dem_tiles import fixture_dem

    pc = pages_cells(spark, sf_dir).select("url", "px", "py")
    return sample_dem_z(pc, fixture_dem(spark), band=1)


def o_dem_z_sample() -> str:
    from orthority_spark.geom.dem import DEM_GAIN, DEM_OFFSET, DEM_RES
    from orthority_spark.sources.dem_tiles import TILE

    a, c0, e, f0 = DEM_RES, 18000.0, -DEM_RES, 31500.0
    ncols, nrows = 160, 128
    den = 20.0 * DEM_RES

    def zval(r: str, cc: str) -> str:
        # float32 block value at global cell (r, cc), pixel-center sampled
        x = f"({dlit(a)} * (({cc}) + 0.5) + {dlit(c0)})"
        y = f"({dlit(e)} * (({r}) + 0.5) + {dlit(f0)})"
        return (
            f"CAST({dlit(DEM_OFFSET)} + {dlit(DEM_GAIN)} * "
            f"(SIN({x} / {dlit(den)}) * COS({y} / {dlit(den)})) AS REAL)"
        )

    z00 = zval("row_off + r0", "col_off + cc0")
    z01 = zval("row_off + r0", "col_off + cc0 + 1")
    z10 = zval("row_off + r0 + 1", "col_off + cc0")
    z11 = zval("row_off + r0 + 1", "col_off + cc0 + 1")
    znn = zval(
        "row_off + LEAST(GREATEST(CAST(FLOOR(fr + 0.5) AS BIGINT), 0), h - 1)",
        "col_off + LEAST(GREATEST(CAST(FLOOR(fc + 0.5) AS BIGINT), 0), w - 1)",
    )
    return f"""{pages_cte()}, dem_pts AS (
  SELECT url, px, py,
         CAST(FLOOR((px - {dlit(c0)}) / {dlit(a)}) AS BIGINT) AS gcol,
         CAST(FLOOR((py - {dlit(f0)}) / {dlit(e)}) AS BIGINT) AS grow
  FROM cells
), own AS (
  SELECT url, px, py, gcol - gcol % {TILE} AS col_off,
         grow - grow % {TILE} AS row_off
  FROM dem_pts
  WHERE gcol >= 0 AND gcol < {ncols} AND grow >= 0 AND grow < {nrows}
), geom AS (
  SELECT url, px, py, col_off, row_off,
         LEAST({TILE}, {ncols} - col_off) AS w,
         LEAST({TILE}, {nrows} - row_off) AS h,
         (px - {dlit(c0)}) / {dlit(a)} - 0.5 - col_off AS fc,
         (py - {dlit(f0)}) / {dlit(e)} - 0.5 - row_off AS fr
  FROM own
), st AS (
  SELECT *, CAST(FLOOR(fc) AS BIGINT) AS r_c0, CAST(FLOOR(fr) AS BIGINT) AS r_r0
  FROM geom
), cl AS (
  SELECT *, LEAST(GREATEST(r_c0, 0), w - 2) AS cc0,
         LEAST(GREATEST(r_r0, 0), h - 2) AS r0,
         fc - r_c0 AS wc, fr - r_r0 AS wr
  FROM st
)
SELECT url,
  CASE WHEN r_c0 >= 0 AND r_c0 < w - 1 AND r_r0 >= 0 AND r_r0 < h - 1 THEN
    {z00} * (1 - wr) * (1 - wc) + {z01} * (1 - wr) * wc
    + {z10} * wr * (1 - wc) + {z11} * wr * wc
  ELSE {znn} END AS z
FROM cl"""


# ---------------------------------------------------------------------------
# pan-sharpen (A1/A5-A7): ONE SQL template evaluated by BOTH engines.
# Bands = integer cents of (l_quantity, l_discount, l_tax); pan = their sum
# plus an l_partkey-derived detail term (the "higher-resolution" signal).
# All stats are exact BIGINT sums; every float op downstream is an
# identically ordered chain of IEEE +-*-/ /SQRT, so Spark and DuckDB agree
# bit-for-bit. The per-row transform is the algebraic collapse of the
# reference's forward-GS / substitute / reverse-GS (pan_sharp.py:418-479):
# sharp_k = b_k + g_k * (gain*pan + bias - w.b), g_k = (cov w)_k / w'cov w
# (pytest test_faithful_equals_reduced_form holds the equivalence to the
# faithful operators/stats.py pipeline).
# ---------------------------------------------------------------------------

_PS_BASE = """ps_base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS b1,
         CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS b2,
         CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT) AS b3,
         CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)
           + CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
           + CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT)
           + l_partkey % 97 AS pan
  FROM {table}
), ps_sums AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(b1) AS BIGINT) AS s1, CAST(SUM(b2) AS BIGINT) AS s2,
         CAST(SUM(b3) AS BIGINT) AS s3, CAST(SUM(pan) AS BIGINT) AS sp,
         CAST(SUM(b1 * b1) AS BIGINT) AS s11, CAST(SUM(b1 * b2) AS BIGINT) AS s12,
         CAST(SUM(b1 * b3) AS BIGINT) AS s13, CAST(SUM(b2 * b2) AS BIGINT) AS s22,
         CAST(SUM(b2 * b3) AS BIGINT) AS s23, CAST(SUM(b3 * b3) AS BIGINT) AS s33,
         CAST(SUM(pan * b1) AS BIGINT) AS sp1, CAST(SUM(pan * b2) AS BIGINT) AS sp2,
         CAST(SUM(pan * b3) AS BIGINT) AS sp3, CAST(SUM(pan * pan) AS BIGINT) AS spp
  FROM ps_base
)"""

_PS_COV = """ps_cov AS (
  SELECT n, s1, s2, s3, sp,
    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
    CAST(s3 AS DOUBLE) / n AS m3, CAST(sp AS DOUBLE) / n AS mp,
    (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) AS c11,
    (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / n) / (n - 1) AS c12,
    (CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE) / n) / (n - 1) AS c13,
    (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n) / (n - 1) AS c22,
    (CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE) / n) / (n - 1) AS c23,
    (CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / n) / (n - 1) AS c33,
    (CAST(sp1 AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) AS cp1,
    (CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(s2 AS DOUBLE) / n) / (n - 1) AS cp2,
    (CAST(sp3 AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(s3 AS DOUBLE) / n) / (n - 1) AS cp3,
    (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n) / (n - 1) AS cpp
  FROM ps_sums
)"""

# Cramer solve of cov_MS . w = cov(pan, MS), then normalise (LS weights,
# pan_sharp.py:325-344; positive by construction for this pan model)
_PS_PARAMS = """ps_det AS (
  SELECT *,
    c11 * (c22 * c33 - c23 * c23) - c12 * (c12 * c33 - c23 * c13)
      + c13 * (c12 * c23 - c22 * c13) AS det
  FROM ps_cov
), ps_raw_w AS (
  SELECT *,
    (cp1 * (c22 * c33 - c23 * c23) - c12 * (cp2 * c33 - c23 * cp3)
      + c13 * (cp2 * c23 - c22 * cp3)) / det AS w1r,
    (c11 * (cp2 * c33 - c23 * cp3) - cp1 * (c12 * c33 - c23 * c13)
      + c13 * (c12 * cp3 - cp2 * c13)) / det AS w2r,
    (c11 * (c22 * cp3 - cp2 * c23) - c12 * (c12 * cp3 - cp2 * c13)
      + cp1 * (c12 * c23 - c22 * c13)) / det AS w3r
  FROM ps_det
), ps_w AS (
  SELECT *, w1r / (w1r + w2r + w3r) AS w1, w2r / (w1r + w2r + w3r) AS w2,
         w3r / (w1r + w2r + w3r) AS w3
  FROM ps_raw_w
), ps_sim AS (
  SELECT *,
    w1 * (c11 * w1 + c12 * w2 + c13 * w3) + w2 * (c12 * w1 + c22 * w2 + c23 * w3)
      + w3 * (c13 * w1 + c23 * w2 + c33 * w3) AS var_sim,
    w1 * m1 + w2 * m2 + w3 * m3 AS m_sim
  FROM ps_w
), ps_params AS (
  SELECT *,
    (c11 * w1 + c12 * w2 + c13 * w3) / var_sim AS g1,
    (c12 * w1 + c22 * w2 + c23 * w3) / var_sim AS g2,
    (c13 * w1 + c23 * w2 + c33 * w3) / var_sim AS g3,
    SQRT(var_sim) / SQRT(cpp) AS gain
  FROM ps_sim
), ps_final AS (
  SELECT *, m_sim - (SQRT(var_sim) / SQRT(cpp)) * mp AS bias FROM ps_params
)"""

_PS_STATS_SQL = (
    "WITH " + _PS_BASE + ", " + _PS_COV + """
SELECT n, s1, s2, s3, sp, c11, c12, c13, c22, c23, c33, cp1, cp2, cp3, cpp
FROM ps_cov"""
)

_PS_ROWS_SQL = (
    "WITH " + _PS_BASE + ", " + _PS_COV + ", " + _PS_PARAMS + """
SELECT l_orderkey, l_linenumber,
  CAST(b1 AS DOUBLE) + g1 * (gain * CAST(pan AS DOUBLE) + bias
    - (w1 * CAST(b1 AS DOUBLE) + w2 * CAST(b2 AS DOUBLE) + w3 * CAST(b3 AS DOUBLE))) AS sharp_b1,
  CAST(b2 AS DOUBLE) + g2 * (gain * CAST(pan AS DOUBLE) + bias
    - (w1 * CAST(b1 AS DOUBLE) + w2 * CAST(b2 AS DOUBLE) + w3 * CAST(b3 AS DOUBLE))) AS sharp_b2,
  CAST(b3 AS DOUBLE) + g3 * (gain * CAST(pan AS DOUBLE) + bias
    - (w1 * CAST(b1 AS DOUBLE) + w2 * CAST(b2 AS DOUBLE) + w3 * CAST(b3 AS DOUBLE))) AS sharp_b3
FROM ps_base CROSS JOIN ps_final"""
)


def q_pan_sharpen_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pan-sharpen pass-1 stats (A1): exact integer partial sums + the
    finalized (co)variances, identical SQL on both engines."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "ps_lineitem"
    )
    return spark.sql(_PS_STATS_SQL.format(table="ps_lineitem"))


def o_pan_sharpen_stats() -> str:
    return _PS_STATS_SQL.format(table="lineitem")


def q_pan_sharpen_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Gram-Schmidt pan-sharpen (A5-A7 + pass 2) as one
    declarative plan: exact-integer stats -> closed-form weights/coeffs/
    gain/bias -> per-row transform. Catalyst plans the 1-row stats side as
    a broadcast, so pass 2 is map-side over the scan — the 100 TB shape."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "ps_lineitem"
    )
    return spark.sql(_PS_ROWS_SQL.format(table="ps_lineitem"))


def o_pan_sharpen_rows() -> str:
    return _PS_ROWS_SQL.format(table="lineitem")


def q_fit_exterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exterior pose solve (cv2.solvePnP recast, reference
    fit.py:299-360): a deterministic GCP grid per fixture image, one
    Levenberg-Marquardt PnP per image group (``fit_exterior_per_image``),
    output = milli-pixel reprojection residuals per GCP through the
    solved poses — exact zeros when the solver converges (the
    SQL-checkable residual contract)."""
    from orthority_spark.geom.camera import FrameModel
    from orthority_spark.operators.fit import fit_exterior_per_image

    models = fp.fixture_models()
    int_by_name = {
        n: dict(cam_type=m.cam_type, im_size=m.im_size, focal_len=m.focal_len,
                sensor_size=m.sensor_size, cx=m.cx, cy=m.cy, dist=m.dist)
        for n, m in models.items()
    }
    gcps = {}
    for n, m in sorted(models.items()):
        # deterministic 4x3 interior pixel grid per fixture camera
        jg, ig = np.meshgrid(np.linspace(15.0, m.im_size[0] - 15.0, 4),
                             np.linspace(12.0, m.im_size[1] - 12.0, 3))
        ji = np.vstack([jg.ravel(), ig.ravel()])
        gcps[n] = (ji, m.pixel_to_world_z(ji, 805.0))
    rows = [
        (n, k, float(ji[0, k]), float(ji[1, k]),
         float(xyz[0, k]), float(xyz[1, k]), float(xyz[2, k]))
        for n, (ji, xyz) in gcps.items() for k in range(ji.shape[1])
    ]
    poses = fit_exterior_per_image(
        local_table(spark, rows, "filename string, gcp_id int, j double, "
                    "i double, x double, y double, z double"),
        int_by_name,
    ).collect()
    res = []
    for p in poses:
        ji, xyz = gcps[p.filename]
        m = FrameModel(**int_by_name[p.filename], xyz=(p.x, p.y, p.z),
                       opk=(p.omega, p.phi, p.kappa))
        r = np.floor(np.abs(m.world_to_pixel(xyz) - ji) * 1000.0 + 0.5)
        res += [(p.filename, k, int(r[0, k]), int(r[1, k]))
                for k in range(ji.shape[1])]
    return local_table(
        spark, res, "filename string, gcp_id int, rj_mpx long, ri_mpx long"
    )


def o_fit_exterior() -> str:
    names = sorted(fp.fixture_models())
    rows = ", ".join(
        f"('{n}', {k}, 0, 0)" for n in names for k in range(12)
    )
    return (
        "SELECT filename, CAST(gcp_id AS INTEGER) AS gcp_id, "
        "CAST(rj_mpx AS BIGINT) AS rj_mpx, CAST(ri_mpx AS BIGINT) AS ri_mpx "
        f"FROM (VALUES {rows}) AS t(filename, gcp_id, rj_mpx, ri_mpx)"
    )


QUERIES = {
    "rollup_pricing": (q_rollup_pricing, o_rollup_pricing),
    "dem_tile_assign": (q_dem_tile_assign, o_dem_tile_assign),
    "dem_z_sample": (q_dem_z_sample, o_dem_z_sample),
    "remap_pixels": (q_remap_pixels, o_remap_pixels),
    "remap_pixels_cubic": (q_remap_pixels_cubic, o_remap_pixels_cubic),
    "undistort_pixels": (q_undistort_pixels, o_undistort_pixels),
    "ray_dem_footprints": (q_ray_dem_footprints, o_ray_dem_footprints),
    "image_features": (q_image_features, o_image_features),
    "pan_sharpen_stats": (q_pan_sharpen_stats, o_pan_sharpen_stats),
    "pan_sharpen_rows": (q_pan_sharpen_rows, o_pan_sharpen_rows),
    "fit_exterior": (q_fit_exterior, o_fit_exterior),
}
