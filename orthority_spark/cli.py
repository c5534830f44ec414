"""CLI — the `oty` command-group analogue (reference cli.py:589-1142).

Subcommands map to the reference's entry points, recast for the engine:

- ``pipeline``   <- ``oty frame``: geotag -> cell -> PIP join -> ledger'd
                  per-tile checksums (``OrthoJob``; resumable)
- ``ortho``      <- ``oty frame``: tiled remap of one camera over the
                  analytic DEM (``--resume`` = ledger'd per-tile rendering)
- ``odm``        <- ``oty odm``: render every camera of a processed
                  OpenDroneMap dataset, optionally exporting its parameters
- ``sharpen``    <- ``oty sharpen``: two-pass Gram-Schmidt pan-sharpen of
                  numeric band columns in a parquet table
- ``fit``        per-image exterior poses from GCPs (distributed solvePnP)
- ``rpc-refine`` RPC shift / shift-drift refinement from GCPs
- ``dem-sample`` per-point bilinear DEM z of a points table
- ``knn``        k nearest footprints per page (broadcast or k-ring)
- ``exif-scan``  parse EXIF tags from binary image blobs
- ``dedup``      MinHash-LSH near-dup pairs over a documents-shaped table
- ``package``    emit the --py-files zip for spark-submit

Usage: ``python -m orthority_spark <subcommand> ...``
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)


def _pages(spark, args):
    """(url, text) pages: ``--pages-parquet`` or ``--n-pages`` synthetic."""
    from .sources.pages import synthetic_pages

    if args.pages_parquet:
        return spark.read.parquet(args.pages_parquet).select("url", "text")
    return synthetic_pages(spark, args.n_pages).select("url", "text")


def _valid_pixels(tiles) -> int:
    """Non-nodata pixels of written remap tiles: masked pixels arrive as
    NULL and isnan(NULL) is FALSE, so test both."""
    return int(tiles.selectExpr(
        "sum(size(filter(block, v -> v IS NOT NULL AND NOT isnan(v)))) AS v"
    ).first().v or 0)


def cmd_pipeline(args) -> int:
    from .plans.job import OrthoJob

    spark = _spark(args)
    job = OrthoJob(spark, strategy="salted" if args.salted else "broadcast")
    print(json.dumps(job.process(_pages(spark, args), args.out)))
    spark.stop()
    return 0


def cmd_sharpen(args) -> int:
    from .operators.stats import pan_sharpen
    from .sources.writers import write_table

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    out = pan_sharpen(df, args.bands.split(","), args.pan)
    write_table(out, args.out, overwrite=args.overwrite)
    n = spark.read.parquet(args.out).count()  # metadata count, no recompute
    print(json.dumps({"rows": n, "out": args.out}))
    spark.stop()
    return 0


def cmd_dedup(args) -> int:
    from .operators.dedup import minhash_lsh_neardups

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    pairs = minhash_lsh_neardups(
        df, args.id_col, args.text_col, tau=args.tau
    ).collect()
    for r in pairs:
        print(json.dumps({"id_a": r.id_a, "id_b": r.id_b,
                          "jaccard": round(r.jaccard, 6)}))
    print(json.dumps({"n_pairs": len(pairs)}), file=sys.stderr)
    spark.stop()
    return 0


def cmd_package(args) -> int:
    from .pyfiles import package_zip

    print(package_zip(args.out))
    return 0


def cmd_dem_sample(args) -> int:
    from .operators.raster_join import sample_dem_z
    from .sources.dem_tiles import fixture_dem
    from .sources.writers import write_table

    spark = _spark(args)
    pts = spark.read.parquet(args.points).select("url", "px", "py")
    dem = (
        spark.read.parquet(args.dem_parquet)
        if args.dem_parquet
        else fixture_dem(spark)
    )
    out = sample_dem_z(pts, dem, band=args.band)
    write_table(out, args.out, overwrite=args.overwrite)
    n = spark.read.parquet(args.out).count()  # metadata count, no recompute
    print(json.dumps({"rows": n, "out": args.out}))
    spark.stop()
    return 0


def cmd_rpc_refine(args) -> int:
    """Refine the RPC model against GCPs (shift / shift-drift, A9)."""
    import numpy as np

    from .operators.fit import refine_per_image
    from .sources.footprints import fixture_rpc_model
    from .sources.local import local_table
    from .sources.param_io import read_gcps_geojson

    spark = _spark(args)
    m = fixture_rpc_model()
    gcps = read_gcps_geojson(args.gcps)
    rows = []
    for g in gcps:
        pred = m.world_to_pixel(np.array([[g["x"]], [g["y"]], [g["z"]]]))
        rows.append(
            (g["filename"], g["j"], g["i"], float(pred[0, 0]), float(pred[1, 0]))
        )
    df = local_table(
        spark,
        rows,
        "filename string, j_obs double, i_obs double, j_pred double, i_pred double",
    )
    for r in refine_per_image(df, args.method).collect():
        print(json.dumps(r.asDict()))
    spark.stop()
    return 0


def cmd_knn(args) -> int:
    from .functions.geotag import with_geotag
    from .operators import tile_join
    from .operators.knn import knn_bruteforce, knn_kring
    from .sources import footprints as fp
    from .sources.writers import write_table

    spark = _spark(args)
    pc = tile_join.assign_cells(with_geotag(_pages(spark, args), token="float"))
    if args.ring:
        out = knn_kring(
            pc, fp.footprint_cells_df(spark), fp.footprint_summary_df(spark),
            k=args.k, ring=args.ring,
        )
    else:
        out = knn_bruteforce(pc, fp.footprint_summary_df(spark), k=args.k)
    out = out.select("url", "rank", "filename")
    write_table(out, args.out, overwrite=args.overwrite)
    n = spark.read.parquet(args.out).count()  # metadata count, no recompute
    print(json.dumps({"rows": n, "out": args.out}))
    spark.stop()
    return 0


def cmd_fit(args) -> int:
    """Fit per-image exterior poses from GCPs (distributed solvePnP)."""
    from .operators.fit import fit_exterior_per_image
    from .sources.local import local_table
    from .sources.param_io import (
        OPT_FRAME_KEYS,
        read_gcps_geojson,
        read_int_param,
    )

    spark = _spark(args)
    int_params_all = read_int_param(args.int_params)
    if len(int_params_all) > 1:
        print(
            f"warning: fitting with the first of {len(int_params_all)} "
            "cameras in the interior parameter file",
            file=sys.stderr,
        )
    cam_id, ip = next(iter(int_params_all.items()))
    dist_keys = OPT_FRAME_KEYS.get(ip["type"], set()) - {"sensor_size", "cx", "cy"}
    int_params = dict(
        cam_type=ip["type"], im_size=tuple(ip["im_size"]),
        focal_len=ip["focal_len"],
        sensor_size=tuple(ip["sensor_size"]) if "sensor_size" in ip else None,
        cx=ip.get("cx", 0.0), cy=ip.get("cy", 0.0),
        dist={k: v for k, v in ip.items() if k in dist_keys},
    )
    gcps = read_gcps_geojson(args.gcps)
    int_by_name = {g["filename"]: int_params for g in gcps}
    df = local_table(
        spark,
        [(g["filename"], g["j"], g["i"], g["x"], g["y"], g["z"]) for g in gcps],
        "filename string, j double, i double, x double, y double, z double",
    )
    for r in fit_exterior_per_image(df, int_by_name).collect():
        d = r.asDict()
        d["camera"] = cam_id
        print(json.dumps(d))
    spark.stop()
    return 0


def cmd_exif_scan(args) -> int:
    from .sources.exif import exif_scan
    from .sources.writers import write_table

    spark = _spark(args)
    files = spark.read.parquet(args.input).select("filename", "data")
    out = exif_scan(files)
    if args.out:
        write_table(out, args.out, overwrite=args.overwrite)
        n = spark.read.parquet(args.out).count()  # metadata count, no recompute
        print(json.dumps({"rows": n, "out": args.out}))
    else:
        for r in out.collect():
            print(json.dumps(r.asDict()))
    spark.stop()
    return 0


def cmd_ortho(args) -> int:
    """`oty frame/odm` orthorectification analogue: tiled distributed
    remap of a fixture camera over the analytic DEM, any of the four
    interpolations (cubic = the reference default), tile blocks written
    as parquet."""
    from pyspark.sql import functions as F

    from .geom import dem as demmod
    from .operators.remap import remap_tiles, tile_windows
    from .pyfiles import ensure_on_executors
    from .sources import footprints as fp
    from .sources.demo_raster import TRANSFORM, src_array
    from .sources.writers import write_table

    spark = _spark(args)
    ensure_on_executors(spark)
    if args.int_params and args.ext_params:
        from .sources.factory import models_from_files

        model = models_from_files(args.int_params, args.ext_params)[args.image]
    else:
        model = fp.fixture_models()[args.image]
    src = src_array()
    dem_fn = demmod.dem_plane if args.dem == "plane" else demmod.dem_sinusoid
    dem_fn = _dem_with_ztrans(dem_fn, args)
    transform = (
        args.resolution, 0.0, TRANSFORM[2],
        0.0, -args.resolution, TRANSFORM[5],
    )
    tiles = tile_windows(spark, args.width, args.height)
    out = remap_tiles(tiles, model, src, transform, dem_fn, interp=args.interp)
    if args.resume:
        # ledger'd per-tile rendering: a crashed/killed run re-renders
        # ONLY the missing tiles on restart (anti-join against the
        # ledger — the reference's single-writer loop has no analogue)
        from .plans.ledger import LedgerJob

        job = LedgerJob(spark, args.out, part_col="tile_key")
        # the packing multiplier must exceed every possible col_off, or
        # distinct tiles collide to one ledger key and resume skips
        # unrendered tiles; next power of two >= width (floor 65536).
        # The multiplier is PERSISTED in the job metadata on first run
        # and REUSED on resume: recomputing from args would re-key every
        # tile if the derivation (or width) changed between runs, so the
        # anti-join would match nothing and prior progress would be
        # silently re-rendered (ADVICE r4).
        meta = job.read_meta()
        if meta is None:
            mult = max(65536, 1 << (args.width - 1).bit_length())
            job.write_meta({
                "tile_key_mult": mult,
                "width": args.width, "height": args.height,
            })
        else:
            mult = int(meta["tile_key_mult"])
            if (int(meta["width"]), int(meta["height"])) != (
                args.width, args.height
            ):
                raise ValueError(
                    f"cannot resume {args.out}: it was started at "
                    f"{meta['width']}x{meta['height']}, not "
                    f"{args.width}x{args.height} — the tile grid (and so "
                    "the ledger keys) would differ; use a fresh --out"
                )
        keyed = out.withColumn(
            "tile_key",
            F.col("row_off").cast("long") * mult + F.col("col_off"),
        )
        metrics = job.run(
            keyed, F.xxhash64("tile_id", "block"),
            max_partitions=args.max_tiles,
        )
        print(json.dumps({**metrics, "interp": args.interp}))
        spark.stop()
        return 0
    write_table(out, args.out, overwrite=args.overwrite)
    w = spark.read.parquet(args.out)
    print(json.dumps({
        "tiles": w.count(), "valid_pixels": _valid_pixels(w),
        "interp": args.interp, "out": args.out,
    }))
    spark.stop()
    return 0


def _dem_with_ztrans(dem_fn, args):
    """Vertical-datum plumbing for the render commands (SURVEY P18,
    geom/vdatum.py): a DEM whose heights live in another datum declares
    ``--dem-z-scale/--dem-z-offset`` and the per-job linear transform is
    folded into the sampled surface — executors still see plain world z
    (the reference's z_scale from ortho.py:144-151 applied to the read
    DEM block)."""
    scale = getattr(args, "dem_z_scale", 1.0)
    offset = getattr(args, "dem_z_offset", 0.0)
    if scale == 1.0 and offset == 0.0:
        return dem_fn
    from .geom.vdatum import ZTransform

    zt = ZTransform(scale=scale, offset=offset)

    def world_dem(x, y, _base=dem_fn, _t=zt):
        return _t.to_world(_base(x, y))

    return world_dem


def cmd_odm(args) -> int:
    """`oty odm` analogue (reference cli.py:814-886): orthorectify a
    processed OpenDroneMap dataset — cameras parsed from
    ``<dataset>/opensfm/reconstruction.json`` (read_osfm: aa->opk,
    xyz = -R^T t, reference_lla offsets), every image rendered over its
    OWN footprint bbox, outputs under ``<dataset>/orthority`` by default,
    ``--export-params`` writing oty-format interior YAML + exterior CSV.
    Recast vs the reference: the DSM GeoTIFF and source-image decodes are
    the analytic-DEM / deterministic-source stand-ins (no raster codecs
    in this environment — the same stub contract as multimodal); tiles
    land as parquet blocks per image."""
    import math as _math

    from .geom import dem as demmod
    from .operators.remap import remap_tiles, tile_windows
    from .pyfiles import ensure_on_executors
    from .sources import footprints as fp
    from .sources.demo_raster import src_array
    from .sources.factory import models_from_params
    from .sources.param_io import (
        osfm_world_poses, read_osfm, write_ext_param_csv, write_int_param,
    )
    from .sources.writers import write_table

    recon = os.path.join(args.dataset, "opensfm", "reconstruction.json")
    if not os.path.exists(recon):
        print(json.dumps({
            "error": f"no reconstruction at {recon} — not a processed "
            "ODM dataset"
        }), file=sys.stderr)
        return 2
    int_p, ext_p = read_osfm(recon)
    # reference_lla offsets applied: shot xyz is topocentric about the
    # dataset reference (reference param_io.py:1240-1259)
    poses = osfm_world_poses(ext_p)
    models = models_from_params(int_p, poses)
    out_dir = args.out or os.path.join(args.dataset, "orthority")
    os.makedirs(out_dir, exist_ok=True)
    if args.export_params:
        write_int_param(
            os.path.join(out_dir, "int_param.yaml"), int_p,
            overwrite=args.overwrite,
        )
        write_ext_param_csv(
            os.path.join(out_dir, "ext_param.csv"),
            [
                {
                    "filename": p["filename"],
                    "x": p["xyz"][0], "y": p["xyz"][1], "z": p["xyz"][2],
                    "omega": _math.degrees(p["opk"][0]),
                    "phi": _math.degrees(p["opk"][1]),
                    "kappa": _math.degrees(p["opk"][2]),
                    "camera": p["camera"],
                }
                for p in poses
            ],
            overwrite=args.overwrite,
        )
    spark = _spark(args)
    ensure_on_executors(spark)
    src = src_array()
    dem_fn = demmod.dem_plane if args.dem == "plane" else demmod.dem_sinusoid
    dem_fn = _dem_with_ztrans(dem_fn, args)
    renders = {}
    for fn, model in models.items():
        # render window = the image's own ground footprint bbox (the
        # reference derives it from the DSM + camera the same way); the
        # footprint plane shifts with any declared vertical transform so
        # the window tracks where the (transformed) DEM actually is
        from .geom.vdatum import ZTransform as _ZT

        zt = _ZT(scale=args.dem_z_scale, offset=args.dem_z_offset)
        bbox = fp.records_for_models({fn: model}, ztrans=zt)["summary"][0][2:6]
        x_min, y_min, x_max, y_max = (float(v) for v in bbox)
        transform = (
            (x_max - x_min) / args.width, 0.0, x_min,
            0.0, -(y_max - y_min) / args.height, y_max,
        )
        tiles = tile_windows(spark, args.width, args.height)
        out = remap_tiles(tiles, model, src, transform, dem_fn,
                          interp=args.interp)
        path = os.path.join(out_dir, os.path.splitext(fn)[0])
        write_table(out, path, overwrite=args.overwrite)
        w = spark.read.parquet(path)
        renders[fn] = {"tiles": w.count(), "valid_pixels": _valid_pixels(w)}
    print(json.dumps({
        "images": len(models), "out": out_dir, "interp": args.interp,
        "exported_params": bool(args.export_params), "renders": renders,
    }))
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="orthority_spark")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pipeline", help="geotag->cell->PIP->checksums (resumable)")
    p.add_argument("--pages-parquet")
    p.add_argument("--n-pages", type=int, default=100_000)
    p.add_argument("--out", required=True)
    p.add_argument("--salted", action="store_true")
    p.set_defaults(fn=cmd_pipeline)

    p = sub.add_parser("sharpen", help="Gram-Schmidt pan-sharpen")
    p.add_argument("--input", required=True)
    p.add_argument("--bands", required=True, help="comma-separated band columns")
    p.add_argument("--pan", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(fn=cmd_sharpen)

    p = sub.add_parser("dedup", help="MinHash-LSH near-dup pairs")
    p.add_argument("--input", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--tau", type=float, default=0.8)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser("package", help="emit the --py-files zip")
    p.add_argument("--out", default=None)
    p.set_defaults(fn=cmd_package)

    p = sub.add_parser("dem-sample", help="per-point bilinear DEM z sample")
    p.add_argument("--points", required=True, help="parquet with url/px/py")
    p.add_argument("--dem-parquet", default=None,
                   help="DEM tile table (default: synthetic fixture DEM)")
    p.add_argument("--band", type=int, default=1)
    p.add_argument("--out", required=True)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(fn=cmd_dem_sample)

    p = sub.add_parser("rpc-refine", help="RPC shift/shift-drift refinement from GCPs")
    p.add_argument("--gcps", required=True, help="GCP GeoJSON")
    p.add_argument("--method", choices=["shift", "shift-drift"], default="shift")
    p.set_defaults(fn=cmd_rpc_refine)

    p = sub.add_parser("knn", help="k nearest footprints per page")
    p.add_argument("--pages-parquet")
    p.add_argument("--n-pages", type=int, default=100_000)
    p.add_argument("--k", type=int, default=3)
    p.add_argument("--ring", type=int, default=0,
                   help="k-ring radius (0 = broadcast brute force)")
    p.add_argument("--out", required=True)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(fn=cmd_knn)

    p = sub.add_parser("fit", help="fit per-image exterior poses from GCPs")
    p.add_argument("--gcps", required=True, help="GCP GeoJSON")
    p.add_argument("--int-params", required=True, help="interior params YAML")
    p.set_defaults(fn=cmd_fit)

    p = sub.add_parser("ortho", help="tiled distributed orthorectification remap")
    p.add_argument("--image", default="img_0000")
    p.add_argument("--int-params", help="oty interior-parameter YAML")
    p.add_argument("--ext-params", help="oty exterior CSV/GeoJSON")
    p.add_argument("--width", type=int, default=96)
    p.add_argument("--height", type=int, default=80)
    p.add_argument(
        "--interp", default="cubic",
        choices=["nearest", "bilinear", "cubic", "lanczos"],
    )
    p.add_argument("--dem", default="plane", choices=["plane", "sinusoid"])
    p.add_argument("--dem-z-scale", type=float, default=1.0,
                   help="vertical-datum scale applied to DEM heights")
    p.add_argument("--dem-z-offset", type=float, default=0.0,
                   help="vertical-datum offset (EGM-style geoid shift)")
    p.add_argument("--resolution", type=float, default=2.0)
    p.add_argument("--out", required=True)
    p.add_argument("--overwrite", action="store_true")
    p.add_argument("--resume", action="store_true",
                   help="ledger'd per-tile rendering with crash-resume")
    p.add_argument("--max-tiles", type=int, default=None,
                   help="with --resume: stop after N tiles (crash sim)")
    p.set_defaults(fn=cmd_ortho)

    p = sub.add_parser(
        "odm", help="orthorectify a processed OpenDroneMap dataset"
    )
    p.add_argument("--dataset", required=True,
                   help="dataset dir with opensfm/reconstruction.json")
    p.add_argument("--out", default=None,
                   help="output dir (default <dataset>/orthority)")
    p.add_argument("--width", type=int, default=96)
    p.add_argument("--height", type=int, default=80)
    p.add_argument(
        "--interp", default="cubic",
        choices=["nearest", "bilinear", "cubic", "lanczos"],
    )
    p.add_argument("--dem", default="plane", choices=["plane", "sinusoid"])
    p.add_argument("--dem-z-scale", type=float, default=1.0,
                   help="vertical-datum scale applied to DEM heights")
    p.add_argument("--dem-z-offset", type=float, default=0.0,
                   help="vertical-datum offset (EGM-style geoid shift)")
    p.add_argument("--export-params", action="store_true",
                   help="write oty int YAML + ext CSV to the output dir")
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(fn=cmd_odm)

    p = sub.add_parser("exif-scan", help="parse EXIF tags from binary blobs")
    p.add_argument("--input", required=True, help="parquet with filename/data")
    p.add_argument("--out", default=None)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(fn=cmd_exif_scan)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
