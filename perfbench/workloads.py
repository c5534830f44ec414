"""The benchmark's workloads.

Each workload is a set of queries. A query is a chain of plan-building
calls into the package's public functions, each tagged with the layer
(module) it belongs to, and a ``finish`` call that forces execution. The
untraced job folds every chain and runs its finish. The traced job does
the same under spans, and then re-runs each chain's cumulative prefixes
(each ending in a ``noop`` write) so that execution time, which Spark
spends lazily inside the finish, can be split between the layers by the
differences between successive prefixes.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from orthority_spark import config
from orthority_spark.functions import checksum
from orthority_spark.functions.geotag import with_geotag
from orthority_spark.geom.dem import dem_sinusoid
from orthority_spark.operators import knn, raster_join, remap, tile_join
from orthority_spark.plans.job import OrthoJob
from orthority_spark.sources import footprints as fp
from orthority_spark.sources.dem_tiles import TILE as DEM_TILE
from orthority_spark.sources.dem_tiles import fixture_dem

import inputs
import spans


def _digest(df, keys, *hash_cols):
    """Order-independent (keys..., n_rows, checksum) rows, sorted."""
    t = checksum.tile_checksum(df, keys, checksum.row_hash_fast(*hash_cols))
    return t, lambda: sorted(tuple(r) for r in t.collect())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scan_bytes(spark, path: str) -> int:
    """Size of the files the pages scan reads, from the scan node's own
    SQL metric (Spark's stage input metrics miss pyarrow-written files)."""
    t = spark.read.parquet(path).groupBy().count()
    t.collect()
    return spans.metric_sum(spans.plan_metrics(t), "FileSourceScanExec", "filesSize")


class Query:
    def __init__(self, name, chain, finish):
        self.name = name
        self.chain = chain    # [(layer, fn(df_or_None) -> DataFrame)]
        self.finish = finish  # (layer, fn(df) -> (result, DataFrame executed))

    def build(self):
        df = None
        for _layer, fn in self.chain:
            df = fn(df)
        return df


class Workload:
    name = ""
    unit_items = ""

    def queries(self, spark) -> list[Query]:
        raise NotImplementedError

    def job(self, spark) -> dict:
        out = {}
        for q in self.queries(spark):
            out[q.name] = q.finish[1](q.build())[0]
        return out

    def collect(self, spark, result) -> dict:
        """Turn one job's result into comparable output (untimed)."""
        return result

    # -- traced job ---------------------------------------------------------
    def traced(self, spark, tr: spans.Tracer) -> dict:
        """Run one job under spans, then attribute each finish span's
        execution time to the chain's layers. Returns per-layer metrics."""
        layer_s: dict[str, float] = {}
        plan_s: dict[str, float] = {}
        counts: dict[str, float] = {}
        execs = {}
        with tr.span(f"job.{self.name}") as root:
            for q in self.queries(spark):
                with tr.span(f"query.{q.name}"):
                    df = None
                    for layer, fn in q.chain:
                        with tr.span(layer, group=True) as s:
                            df = fn(df)
                        d = s["end"] - s["start"]
                        layer_s[layer] = layer_s.get(layer, 0.0) + d
                        plan_s[layer] = plan_s.get(layer, 0.0) + d
                    layer, fn = q.finish
                    with tr.span(f"{layer}.exec", group=True) as s:
                        result, executed = fn(df)
                    execs[q.name] = (s, result, executed)
        job_idx = tr.spans.index(root)
        job_s = tr.duration(job_idx)
        # prefix runs: the chain cut after each layer, forced with noop;
        # the traced finish itself is the run of the whole chain
        for q in self.queries(spark):
            s, result, executed = execs[q.name]
            exec_s = s["end"] - s["start"]
            layers, times = [], []
            for cut in range(1, len(q.chain) + 1):
                df = Query(q.name, q.chain[:cut], None).build()
                t0 = time.perf_counter()
                _noop(df)
                times.append(time.perf_counter() - t0)
                layers.append(q.chain[cut - 1][0])
            layers.append(q.finish[0])
            times.append(exec_s)
            marg = [max(t - p, 0.0) for t, p in zip(times, [0.0] + times[:-1])]
            for layer, m in zip(layers, marg):
                share = exec_s * m / sum(marg) if sum(marg) > 0 else 0.0
                layer_s[layer] = layer_s.get(layer, 0.0) + share
            stats = spans.group_stats(spark.sparkContext, [s["group"]])
            counts.update(self.query_counts(spark, q.name, result, executed, stats))
        groups = [sp["group"] for sp in tr.spans[job_idx:] if sp["group"]]
        # "sources.scan" -> "sources.scan_s"; a bare module "knn" -> "knn.s"
        metrics = {layer + ("_s" if "." in layer else ".s"): v for layer, v in layer_s.items()}
        for layer, v in plan_s.items():
            metrics[f"{layer}.plan_s"] = v
        metrics.update(counts)
        st = spans.group_stats(spark.sparkContext, groups)
        metrics.update({
            "spark.stages": st["stages"], "spark.tasks": st["tasks"],
            "spark.shuffle_bytes": st["shuffle_bytes"],
            "spark.spill_bytes": st["spill_bytes"],
            "trace.job_s": job_s,
            "trace.attributed_s": sum(layer_s.values()),
        })
        return metrics

    def query_counts(self, spark, qname, result, executed, stats) -> dict:
        return {}


# ---------------------------------------------------------------------------
# vector_join
# ---------------------------------------------------------------------------

class VectorJoin(Workload):
    """Three per-page spatial queries over one pages table."""

    name = "vector_join"
    unit_items = "pages"
    K, RING = 3, 8

    def __init__(self, size: str):
        self.size = size
        self.n = {"full": 200_000, "toy": 3_000}[size]
        self.trace_errors: list[str] = []

    def prepare(self, work: str, seed: int) -> None:
        self.inp = inputs.pages_inputs(
            work, seed, self.n, config.GRID_RES, knn=(self.K, self.RING))
        self.items = self.n
        self.work, self.seed = work, seed

    def build(self, spark) -> None:
        recs = fp.footprint_records()
        self.cat = fp.footprint_catalog_flat_df(spark, recs)
        self.edges = fp.footprint_edges_df(spark, recs)
        self.cells = fp.footprint_cells_df(spark, recs)
        self.summ = fp.footprint_summary_df(spark, recs)

    def _prefix(self, spark):
        return [
            ("sources.scan", lambda _: spark.read.parquet(self.inp["pages"])),
            ("functions.geotag", with_geotag),
            ("grid.assign_cells", tile_join.assign_cells),
        ]

    def queries(self, spark):
        def pip(df):
            return tile_join.pip_join_broadcast(df, self.cat, self.edges, keep=["cell"])

        def kring(df):
            return knn.knn_kring(df, self.cells, self.summ, k=self.K, ring=self.RING)

        def dem_z(df):
            return raster_join.sample_dem_z(
                df.select("url", "px", "py"), fixture_dem(spark), band=1
            )

        def fin(keys, *cols):
            def run(df):
                if keys == ["g"]:
                    df = df.withColumn("g", F.lit(0))
                t, go = _digest(df, keys, *[F.col(c) for c in cols])
                return go(), t
            return run

        return [
            Query("pip", self._prefix(spark) + [("tile_join", pip)],
                  ("functions.checksum", fin(["cell"], "url", "filename"))),
            Query("knn", self._prefix(spark) + [("knn", kring)],
                  ("functions.checksum", fin(["rank"], "url", "filename"))),
            Query("dem", self._prefix(spark) + [("raster_join", dem_z)],
                  ("functions.checksum", fin(["g"], "url", "z"))),
        ]

    def reference(self, spark) -> dict:
        pip = spark.read.parquet(self.inp["pip_expected"])
        kn = spark.read.parquet(self.inp["knn_expected"])
        dem = fixture_dem(spark).where("band = 1").collect()
        nrows = max(r.row_off + r.height for r in dem)
        ncols = max(r.col_off + r.width for r in dem)
        g = np.full((nrows, ncols), np.nan)
        for r in dem:
            g[r.row_off:r.row_off + r.height, r.col_off:r.col_off + r.width] = (
                np.asarray(r.block, dtype="float64").reshape(r.height, r.width)
            )
        z = inputs.dem_rows(self.inp["keys"], g, tuple(dem[0].transform), DEM_TILE)
        zdf = spark.createDataFrame(z).withColumn("g", F.lit(0))
        return {
            "pip": _digest(pip, ["cell"], F.col("url"), F.col("filename"))[1](),
            "knn": _digest(kn, ["rank"], F.col("url"), F.col("filename"))[1](),
            "dem": _digest(zdf, ["g"], F.col("url"), F.col("z"))[1](),
        }

    def check(self, out: dict, ref: dict) -> list[str]:
        errs = []
        for q in ("pip", "knn", "dem"):
            if out[q] != ref[q]:
                errs.append(f"{q}: digest differs from the single-process reference")
        return errs

    def traced(self, spark, tr: spans.Tracer) -> dict:
        """The vector queries' layers, then the ledger layer from one traced
        and checked crash + resume (ledger_resume is not a benchmark
        workload of its own; see BENCHMARK.json)."""
        metrics = super().traced(spark, tr)
        ledger = LedgerResume(self.size)
        ledger.prepare(self.work, self.seed)
        ledger.build(spark)
        lm = ledger.traced(spark, tr)
        self.trace_errors = ledger.trace_errors
        metrics.update({k: v for k, v in lm.items() if k.startswith("ledger.")})
        return metrics

    def query_counts(self, spark, qname, result, executed, stats) -> dict:
        nodes = spans.plan_metrics(executed)
        rows_out = sum(r[-2] for r in result)
        if qname == "pip":
            # the PIP vote is folded into the join's condition, so the join
            # node counts hits only; count the cell equi-join on its own
            pages = tile_join.assign_cells(with_geotag(spark.read.parquet(self.inp["pages"])))
            cand = pages.join(F.broadcast(self.cat), "cell").count()
            return {
                "tile_join.candidates": cand,
                "tile_join.hits": rows_out,
                "tile_join.hit_ratio": rows_out / cand if cand else 0.0,
                "tile_join.shuffle_bytes": stats["shuffle_bytes"],
                "sources.scan_bytes": _scan_bytes(spark, self.inp["pages"]),
            }
        if qname == "knn":
            return {
                "knn.candidates": spans.metric_sum(
                    nodes, "BroadcastHashJoinExec", "numOutputRows"),
                "knn.rows_out": rows_out,
            }
        t0 = time.perf_counter()
        _noop(fixture_dem(spark))
        return {"raster_join.points_out": rows_out,
                "raster_join.arrow_bytes": spans.python_bytes(nodes),
                "sources.fixture_dem_s": time.perf_counter() - t0}


# ---------------------------------------------------------------------------
# raster_ortho
# ---------------------------------------------------------------------------

class RasterOrtho(Workload):
    """Cubic remap of a seeded source image over the sinusoid DEM."""

    name = "raster_ortho"
    unit_items = "pixels"
    N_SAMPLE_TILES = 8

    def __init__(self, size: str):
        self.width = {"full": 2048, "toy": 256}[size]

    def prepare(self, work: str, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.src = ((np.indices((150, 200)).sum(axis=0) % 2) * 100.0) + rng.random((150, 200))
        res = 0.1 * 2048 / self.width
        x0 = 19960.0 + float(rng.uniform(-10.0, 10.0))
        y0 = 30110.0 + float(rng.uniform(-10.0, 10.0))
        self.transform = (res, 0.0, x0, 0.0, -res, y0)
        n_side = -(-self.width // remap.TILE)
        pick = rng.choice(n_side * n_side, self.N_SAMPLE_TILES, replace=False)
        self.sample = sorted(
            f"{(i // n_side) * remap.TILE}:{(i % n_side) * remap.TILE}" for i in pick
        )
        self.items = self.width * self.width

    def build(self, spark) -> None:
        self.model = fp.fixture_models()["img_0000"]

    def render(self, spark):
        return remap.remap_tiles(
            remap.tile_windows(spark, self.width, self.width), self.model,
            self.src, self.transform, dem_sinusoid, interp="cubic",
        )

    def queries(self, spark):
        def fin(df):
            t = df.withColumn("g", F.lit(0))
            t, go = _digest(t, ["g"], F.col("tile_id"), F.col("block"))
            return go(), t

        return [Query("remap", [("remap", lambda _: self.render(spark))],
                      ("functions.checksum", fin))]

    def reference(self, spark) -> dict:
        t0 = time.perf_counter()
        full = remap.remap_oracle(
            self.model, self.src, self.transform, self.width, self.width,
            dem_sinusoid, interp="cubic",
        )
        self.oracle_s = time.perf_counter() - t0
        crops = {}
        for tid in self.sample:
            r, c = (int(v) for v in tid.split(":"))
            crops[tid] = full[r:r + remap.TILE, c:c + remap.TILE].ravel()
        got = {
            r.tile_id: np.asarray(r.block, dtype="float64")
            for r in self.render(spark).where(F.col("tile_id").isin(self.sample)).collect()
        }
        n_side = -(-self.width // remap.TILE)
        return {"crops": crops, "got": got, "n_tiles": n_side * n_side}

    def check(self, out: dict, ref: dict) -> list[str]:
        errs = []
        (_g, n_tiles, _cs), = out["remap"]
        if n_tiles != ref["n_tiles"]:
            errs.append(f"remap: {n_tiles} tiles, expected {ref['n_tiles']}")
        for tid, want in ref["crops"].items():
            got = ref["got"].get(tid)
            if got is None or not np.array_equal(got, want, equal_nan=True):
                errs.append(f"remap: tile {tid} differs from remap_oracle")
        return errs

    def query_counts(self, spark, qname, result, executed, stats) -> dict:
        nodes = spans.plan_metrics(executed)
        tiles = self.render(spark)
        # nodata leaves the pandas UDF as NaN and arrives in Spark as null
        valid = tiles.select(
            F.sum(F.size(F.filter("block", lambda v: v.isNotNull() & ~F.isnan(v)))).alias("v"),
            F.sum(F.size("block")).alias("n"),
        ).first()
        return {
            "remap.tiles": result[0][1],
            "remap.valid_px_ratio": valid.v / valid.n,
            "remap.arrow_bytes": spans.python_bytes(nodes),
        }

    def geom_kernels(self) -> dict:
        """Single-process cost of the camera and DEM kernels remap calls."""
        rng = np.random.default_rng(0)
        n = 1_000_000 if self.width >= 1024 else 20_000
        x = 19960.0 + rng.random(n) * 200.0
        y = 29910.0 + rng.random(n) * 200.0
        out = {}
        for key, fn in (
            ("geom.dem_ns_per_px", lambda: dem_sinusoid(x, y)),
            ("geom.world_to_pixel_ns_per_px",
             lambda: self.model.world_to_pixel(np.vstack([x, y, np.full(n, 825.0)]))),
        ):
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                runs.append(time.perf_counter() - t0)
            out[key] = float(np.median(runs)) / n * 1e9
        return out


# ---------------------------------------------------------------------------
# ledger_resume
# ---------------------------------------------------------------------------

class LedgerResume(Workload):
    """OrthoJob (salted) into a fresh directory: crash, then resume."""

    name = "ledger_resume"
    unit_items = "pages"
    CRASH_SHARE = 0.7  # share of the cells the first run completes
    # coarser tiles than the join default: ledger cost is per partition
    # (one output directory and ledger row per cell); ~20 cells at res 18
    # instead of ~200 at res 20 keep a crash + resume near 5 s
    RES = config.GRID_RES - 2

    def __init__(self, size: str):
        self.n = {"full": 50_000, "toy": 3_000}[size]
        self._runs = 0
        self.trace_errors: list[str] = []

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.inp = inputs.pages_inputs(work, seed, self.n, self.RES)
        cells = pq.read_table(self.inp["pip_expected"], columns=["cell"]).column(0)
        self.n_cells = len(set(cells.to_pylist()))
        self.crash_at = max(1, int(self.n_cells * self.CRASH_SHARE))
        self.items = self.n

    def build(self, spark) -> None:
        self.ortho = OrthoJob(
            spark, fp.footprint_records(self.RES), res=self.RES, strategy="salted")

    def _out_dir(self) -> str:
        self._runs += 1
        d = os.path.join(self.work, "ledger", f"run{os.getpid()}_{self._runs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def queries(self, spark):
        o = self.ortho

        def salted(df):
            return tile_join.pip_join_salted(
                df, o._catalog, o._edges, keep=["cell"], n_salt=o.n_salt)

        def crash_and_resume(_df):
            out = self._out_dir()
            pages = spark.read.parquet(self.inp["pages"])
            t0 = time.perf_counter()
            m1 = o.process(pages, out, max_partitions=self.crash_at)
            t1 = time.perf_counter()
            m2 = o.process(pages, out)
            t2 = time.perf_counter()
            return {"dir": out, "m1": m1, "m2": m2, "first_s": t1 - t0,
                    "resume_s": t2 - t1}, None

        # the chain is what OrthoJob.process plans internally; the traced
        # run uses it only for its prefix runs
        return [Query("ledger", [
            ("sources.scan", lambda _: spark.read.parquet(self.inp["pages"])),
            ("functions.geotag", with_geotag),
            ("grid.assign_cells", lambda df: tile_join.assign_cells(df, res=self.RES)),
            ("tile_join", salted),
        ], ("ledger", crash_and_resume))]

    def job(self, spark) -> dict:
        # the untraced job is exactly the finish: OrthoJob builds its own plan
        return {"ledger": self.queries(spark)[0].finish[1](None)[0]}

    def collect(self, spark, result) -> dict:
        r = result["ledger"]
        rows = [
            (int(x.part_key), int(x.n_rows), int(x.checksum))
            for x in spark.read.parquet(os.path.join(r["dir"], "ledger")).collect()
        ]
        shutil.rmtree(r["dir"], ignore_errors=True)
        counts = {k: (r[k]["partitions_processed"], r[k]["rows_processed"]) for k in ("m1", "m2")}
        return {"ledger": sorted(rows), **counts}

    def reference(self, spark) -> dict:
        pip = spark.read.parquet(self.inp["pip_expected"])
        return {"pip": _digest(pip, ["cell"], F.col("url"), F.col("filename"))[1]()}

    def check(self, out: dict, ref: dict) -> list[str]:
        errs = []
        if out["ledger"] != ref["pip"]:
            errs.append("ledger: per-cell (n_rows, checksum) differ from the PIP reference")
        rows = out["m1"][1] + out["m2"][1]
        want = sum(r[1] for r in ref["pip"])
        if rows != want:
            errs.append(f"ledger: run1+run2 rows {rows} != one-shot total {want}")
        if out["m1"][0] != self.crash_at:
            errs.append("ledger: crash run did not stop at max_partitions")
        return errs

    def query_counts(self, spark, qname, result, executed, stats) -> dict:
        d = result["dir"]
        files, size = 0, 0
        for root, _dirs, names in os.walk(os.path.join(d, "out")):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, f))
        rows = result["m1"]["rows_processed"] + result["m2"]["rows_processed"]
        self.trace_errors = self.check(self.collect(spark, {"ledger": result}),
                                       self.reference(spark))
        out = {
            "ledger.first_run_s": result["first_s"],
            "ledger.resume_run_s": result["resume_s"],
            "ledger.partitions_skipped": result["m1"]["partitions_processed"],
            "ledger.files_written": files,
            "ledger.bytes_per_row": size / rows if rows else 0.0,
            "tile_join.shuffle_bytes": stats["shuffle_bytes"],
            "sources.scan_bytes": _scan_bytes(spark, self.inp["pages"]),
        }
        return out


WORKLOADS = {"vector_join": VectorJoin, "raster_ortho": RasterOrtho,
             "ledger_resume": LedgerResume}
