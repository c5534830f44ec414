"""CLI subcommands drive the engine end-to-end (reference cli.py
analogue): pipeline, dem-sample, rpc-refine, knn, fit, exif-scan, dedup,
ortho, odm."""

from __future__ import annotations

import json

import numpy as np
import pytest

from orthority_spark import cli


class _NoStop:
    """Session proxy: the CLI stops its session; tests share one."""

    def __init__(self, spark):
        self._s = spark

    def __getattr__(self, name):
        if name == "stop":
            return lambda: None
        return getattr(self._s, name)


@pytest.fixture()
def cli_spark(spark, monkeypatch):
    monkeypatch.setattr(cli, "_spark", lambda args: _NoStop(spark))
    return spark


def test_cli_pipeline(cli_spark, tmp_path, capsys):
    """`pipeline` runs OrthoJob: its per-cell ledger (n_rows, checksum)
    equals the job's per-tile checksums, and a rerun finds nothing left
    to process."""
    from orthority_spark.plans.job import OrthoJob
    from orthority_spark.sources.pages import synthetic_pages

    from builders import job_tiles

    out = str(tmp_path / "job")
    argv = ["pipeline", "--n-pages", "2000", "--out", out]
    assert cli.main(argv) == 0
    first = json.loads(capsys.readouterr().out)
    ledger = {r.part_key: (r.n_rows, r.checksum)
              for r in cli_spark.read.parquet(f"{out}/ledger").collect()}
    pages = synthetic_pages(cli_spark, 2000).select("url", "text")
    tiles = {r.cell: (r.n_rows, r.checksum)
             for r in job_tiles(OrthoJob(cli_spark), pages).collect()}
    assert ledger == tiles and first["partitions_processed"] == len(tiles) > 0
    assert cli.main(argv) == 0
    assert json.loads(capsys.readouterr().out)["partitions_processed"] == 0


def test_cli_dem_sample(cli_spark, tmp_path, capsys):
    pts = tmp_path / "pts"
    cli_spark.createDataFrame(
        [("u1", 20000.0, 30000.0), ("u2", 20100.0, 30100.0)],
        "url string, px double, py double",
    ).write.parquet(str(pts))
    out = tmp_path / "z"
    rc = cli.main(["dem-sample", "--points", str(pts), "--out", str(out)])
    assert rc == 0
    got = {r.url: r.z for r in cli_spark.read.parquet(str(out)).collect()}
    assert len(got) == 2 and 750 < got["u1"] < 900
    assert json.loads(capsys.readouterr().out)["rows"] == 2


def test_cli_dedup(cli_spark, capsys):
    """`dedup` prints one JSON line per verified pair: the same pair set
    as the jaccard_neardups_lsh DuckDB oracle at sf0.01."""
    import duckdb

    from gates.queries_text import o_jaccard_neardups_lsh

    docs = "/root/testdata/sf0.01/documents.parquet"
    assert cli.main(["dedup", "--input", docs]) == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert all(set(r) == {"id_a", "id_b", "jaccard"} for r in rows)
    got = {(r["id_a"], r["id_b"]) for r in rows}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    exp = set(con.sql(o_jaccard_neardups_lsh()).df()[["doc_a", "doc_b"]]
              .itertuples(index=False, name=None))
    assert got == exp and len(got) == 25


def _write_gcps(tmp_path, model, n=8, plane=825.0, shift=(0.0, 0.0)):
    from builders import write_gcps_geojson

    rng = np.random.RandomState(13)
    ji = np.vstack([rng.uniform(10, model.im_size[0] - 10, n),
                    rng.uniform(10, model.im_size[1] - 10, n)])
    xyz = model.pixel_to_world_z(ji, plane)
    recs = [
        {"filename": "img_x", "j": float(ji[0, k] + shift[0]),
         "i": float(ji[1, k] + shift[1]), "x": float(xyz[0, k]),
         "y": float(xyz[1, k]), "z": float(xyz[2, k]), "id": f"g{k}",
         "info": None}
        for k in range(n)
    ]
    f = tmp_path / "gcps.geojson"
    write_gcps_geojson(f, recs)
    return f


def test_cli_rpc_refine(cli_spark, tmp_path, capsys):
    from orthority_spark.sources.footprints import fixture_rpc_model

    f = _write_gcps(tmp_path, fixture_rpc_model(), plane=825.0,
                    shift=(1.5, -0.5))
    rc = cli.main(["rpc-refine", "--gcps", str(f), "--method", "shift"])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.splitlines()[0])
    assert row["dj"] == pytest.approx(1.5, abs=1e-6)
    assert row["di"] == pytest.approx(-0.5, abs=1e-6)


def test_cli_knn_kring(cli_spark, tmp_path, capsys):
    out = tmp_path / "knn"
    rc = cli.main(["knn", "--n-pages", "2000", "--k", "2", "--ring", "12",
                   "--out", str(out)])
    assert rc == 0
    got = cli_spark.read.parquet(str(out))
    assert json.loads(capsys.readouterr().out)["rows"] == got.count() > 0
    assert got.groupBy("url").count().agg({"count": "max"}).first()[0] <= 2


def test_cli_fit(cli_spark, tmp_path, capsys):
    from orthority_spark.sources.footprints import fixture_models
    from orthority_spark.sources.param_io import write_int_param

    m = fixture_models()["img_0000"]
    yml = tmp_path / "int.yaml"
    write_int_param(yml, {"cam-1": {
        "type": "pinhole", "im_size": list(m.im_size),
        "focal_len": m.focal_len, "sensor_size": list(m.sensor_size),
        "cx": m.cx, "cy": m.cy,
    }})
    f = _write_gcps(tmp_path, m)
    rc = cli.main(["fit", "--gcps", str(f), "--int-params", str(yml)])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.splitlines()[0])
    np.testing.assert_allclose((row["x"], row["y"], row["z"]), m.xyz, atol=1e-3)
    assert row["rms_px"] < 1e-4 and row["camera"] == "cam-1"


def test_cli_exif_scan(cli_spark, tmp_path, capsys):
    from builders import build_exif_bytes

    src = tmp_path / "blobs"
    cli_spark.createDataFrame(
        [("a.tif", bytearray(build_exif_bytes(
            (200, 150), focal_len_mm=5.0, sensor_size_mm=(6.0, 4.5),
            lla=(-33.7, 24.2, 825.0), rpy_deg=(0.0, 0.0, 0.0))))],
        "filename string, data binary",
    ).write.parquet(str(src))
    rc = cli.main(["exif-scan", "--input", str(src)])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.splitlines()[0])
    assert row["focal_len"] == pytest.approx(5.0, rel=1e-6)
    assert row["lat"] == pytest.approx(-33.7, abs=1e-8)


def test_cli_ortho_cubic(cli_spark, tmp_path, capsys):
    """`ortho` runs the tiled remap with the reference-default cubic
    interpolation and reports tile/valid-pixel counts from the written
    parquet; the per-pixel values match the whole-image oracle."""
    out_dir = str(tmp_path / "ortho_out")
    rc = cli.main([
        "ortho", "--image", "img_0000", "--width", "96", "--height", "80",
        "--interp", "cubic", "--dem", "plane", "--out", out_dir,
        "--overwrite",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tiles"] == 4  # 96x80 at 64-tiles -> 2x2 windows
    assert rep["interp"] == "cubic"
    assert rep["valid_pixels"] > 0

    from orthority_spark.geom.dem import dem_plane
    from orthority_spark.operators.remap import remap_oracle
    from orthority_spark.sources.demo_raster import TRANSFORM, src_array
    from orthority_spark.sources.footprints import fixture_models

    oracle = remap_oracle(
        fixture_models()["img_0000"], src_array(), TRANSFORM,
        96, 80, dem_plane, interp="cubic",
    )
    assert rep["valid_pixels"] == int(np.isfinite(oracle).sum())


def test_cli_ortho_resume(cli_spark, tmp_path, capsys):
    """--resume renders tiles through the ledger: a run capped at 2 tiles
    plus a restart together render all 4, and the restart skips the
    completed ones."""
    out_dir = str(tmp_path / "ortho_resume")
    base = [
        "ortho", "--width", "96", "--height", "80", "--interp", "bilinear",
        "--out", out_dir, "--resume",
    ]
    assert cli.main(base + ["--max-tiles", "2"]) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli.main(base) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["partitions_processed"] == 2
    assert rep2["partitions_processed"] == 2
    from orthority_spark.plans.ledger import LedgerJob

    job = LedgerJob(cli_spark, out_dir, part_col="tile_key")
    assert job.completed_keys().count() == 4
    # the key multiplier is persisted at first run and reused on resume
    # (ADVICE r4: recomputing from args re-keys every tile after an
    # upgrade that changes the derivation, orphaning prior progress)
    meta = job.read_meta()
    assert int(meta["tile_key_mult"]) == 65536
    assert (int(meta["width"]), int(meta["height"])) == (96, 80)


def test_cli_ortho_resume_rejects_changed_grid(cli_spark, tmp_path, capsys):
    """Resuming an out dir that was started at a different width/height
    must fail loudly: the tile grid (and so the ledger keys) would
    differ and completed work would be silently re-rendered or, worse,
    wrong tiles skipped."""
    out_dir = str(tmp_path / "ortho_resume_grid")
    base = ["ortho", "--interp", "bilinear", "--out", out_dir, "--resume"]
    assert cli.main(
        base + ["--width", "96", "--height", "80", "--max-tiles", "2"]
    ) == 0
    capsys.readouterr()
    with pytest.raises(ValueError, match="use a fresh --out"):
        cli.main(base + ["--width", "128", "--height", "80"])


def _odm_dataset(tmp_path):
    """A minimal processed-ODM layout: opensfm/reconstruction.json with
    one camera and two nadir-ish shots. Shot xyz is TOPOCENTRIC about
    reference_lla (the real OpenSfM convention); world(ref) lands at
    (19900, 29950, 900) on the engine frame, so the cameras hover above
    the 825 m DEM plane like the fixture block (t = -R @ local_xyz). The
    rotations are about pi around x: OpenSfM's camera z axis is its view
    direction, so an identity rotation would look straight up."""
    from orthority_spark.geom.rotation import aa_to_rotation

    ds = tmp_path / "dataset"
    (ds / "opensfm").mkdir(parents=True)
    shots = {}
    for i, (aa, local) in enumerate([
        ([3.16, -0.01, 0.05], [0.0, 0.0, 100.0]),
        ([3.11, 0.02, -0.1], [150.0, 100.0, 150.0]),
    ]):
        R = aa_to_rotation(np.array(aa))
        t = (-R @ np.array(local)).tolist()
        shots[f"img_{i}.jpg"] = {
            "camera": "cam1", "rotation": aa, "translation": t,
        }
    recon = [{
        "cameras": {
            "cam1": {"projection_type": "perspective", "width": 640,
                     "height": 480, "focal": 0.9, "k1": -0.05, "k2": 0.01},
        },
        "shots": shots,
        "reference_lla": {"latitude": -33.7005, "longitude": 24.199,
                          "altitude": 900.0},
    }]
    (ds / "opensfm" / "reconstruction.json").write_text(json.dumps(recon))
    return ds


def test_cli_odm(cli_spark, tmp_path, capsys):
    """`odm` (the oty odm analogue): dataset discovery -> read_osfm ->
    per-image footprint-bbox render -> <dataset>/orthority outputs +
    exported oty param files that round-trip through the factory."""
    ds = _odm_dataset(tmp_path)
    rc = cli.main([
        "odm", "--dataset", str(ds), "--width", "64", "--height", "64",
        "--interp", "bilinear", "--export-params", "--overwrite",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["images"] == 2
    assert rep["out"] == str(ds / "orthority")
    for img, r in rep["renders"].items():
        assert r["tiles"] == 1  # 64x64 fits one tile window
        assert r["valid_pixels"] > 0, img
    # exported params round-trip: factory rebuilds the SAME models, with
    # the reference_lla offset applied (world(ref) = (19900, 29950, 900))
    from orthority_spark.sources.factory import models_from_files
    from orthority_spark.sources.param_io import osfm_world_poses, read_osfm

    models = models_from_files(
        ds / "orthority" / "int_param.yaml",
        ds / "orthority" / "ext_param.csv",
    )
    int_p, ext_p = read_osfm(ds / "opensfm" / "reconstruction.json")
    world = {p["filename"]: p for p in osfm_world_poses(ext_p)}
    assert set(models) == set(ext_p)
    np.testing.assert_allclose(
        world["img_0.jpg"]["xyz"], (19900.0, 29950.0, 1000.0), atol=1e-6
    )
    for fn, m in models.items():
        np.testing.assert_allclose(m.xyz, world[fn]["xyz"], rtol=1e-9)
        np.testing.assert_allclose(m.opk, world[fn]["opk"], atol=1e-12)


def test_cli_odm_missing_reconstruction(cli_spark, tmp_path, capsys):
    rc = cli.main(["odm", "--dataset", str(tmp_path)])
    assert rc == 2
    assert "reconstruction" in capsys.readouterr().err


def test_cli_ortho_vertical_datum(cli_spark, tmp_path, capsys):
    """--dem-z-scale/--dem-z-offset fold the per-job vertical transform
    into the sampled DEM (SURVEY P18 on the user surface): the rendered
    valid-pixel count matches the whole-image oracle run against the
    identically shifted surface; identity flags are a no-op."""
    out_plain = str(tmp_path / "plain")
    out_ident = str(tmp_path / "ident")
    out_shift = str(tmp_path / "shift")
    base = ["ortho", "--image", "img_0000", "--width", "96", "--height",
            "80", "--interp", "bilinear", "--dem", "sinusoid", "--overwrite"]
    assert cli.main(base + ["--out", out_plain]) == 0
    rep_plain = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli.main(base + [
        "--dem-z-scale", "1.0", "--dem-z-offset", "0.0", "--out", out_ident,
    ]) == 0
    rep_ident = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep_ident["valid_pixels"] == rep_plain["valid_pixels"]
    assert cli.main(base + [
        "--dem-z-offset", "-120.0", "--out", out_shift,
    ]) == 0
    rep_shift = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    from orthority_spark.geom.dem import dem_sinusoid
    from orthority_spark.operators.remap import remap_oracle
    from orthority_spark.sources.demo_raster import TRANSFORM, src_array
    from orthority_spark.sources.footprints import fixture_models

    oracle = remap_oracle(
        fixture_models()["img_0000"], src_array(), TRANSFORM,
        96, 80, lambda x, y: dem_sinusoid(x, y) - 120.0, interp="bilinear",
    )
    assert rep_shift["valid_pixels"] == int(np.isfinite(oracle).sum())
