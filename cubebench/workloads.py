"""The benchmark's workloads, driven through the program's public
entry points.

``cube_build``: a forced full rebuild from UTM GeoTIFF scenes onto an
Albers tile grid through ``tools.build_local.build_from_directory``
(warp, mosaic, LCF blend, NDVI, items, COG export).

``cube_refresh``: a micro-batch of on-grid scenes folded into a
published cube with ``streaming.incremental.update_cube_batch``
(scan, per-pixel decode, state merge, partition rewrite), each fold
followed by a catalog read of the refreshed cube through
``api.CubeService`` (``list_items`` and ``cube_meta``).

Each workload runs one operation at a time (a closed loop with one
client). An operation's wall time is measured around the public call
only; input copies, output checks and byte counts run outside it.

In a traced run each layer is called on its own, in pipeline order,
with its output materialised (``localCheckpoint``) inside a span, so a
layer's span holds its own work only. Traced and untraced operations
alternate, and the difference of their medians is the tracing
overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import functions as F

from . import oracle, scenes
from .trace import SparkCounters, snapshot, tree_stats, written_since

CUBE = "BENCH"


def observations(px):
    """Decoded or warped pixel rows (tile_id, pixel_id, value, band,
    date_s) -> the cube job's observation columns, derived as
    ``build_from_directory`` derives them."""
    return (px.withColumn("date", F.col("date_s").cast("date"))
            .withColumn("doy", F.dayofyear("date").cast("long"))
            .withColumn("source_idx", F.lit(0))
            .withColumn("scene_order", F.lit(0))
            .select("tile_id", "pixel_id", "band", "date", "doy", "value",
                    "source_idx", "scene_order"))


class Workload:
    root_span = "op"

    def __init__(self, spark, workdir: str, seed: int, tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.counters = SparkCounters(spark)
        self.samples: list[dict] = []       # one per timed operation
        self.reads: list[dict] = []         # catalog reads, where a workload has them
        self.untraced: list[float] = []     # traced runs: untraced op times
        self.traced: list[float] = []       # traced runs: traced op times
        self.setup_errors: list[str] = []
        self.setup_phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Wall time of one set-up step, for the run's detail line."""
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    # -- traced-layer helpers ------------------------------------------------
    @contextmanager
    def jobs(self, jobs_name: str, tasks_name: str | None = None):
        """Record the Spark jobs (and tasks) launched in the block as
        counts; a no-op when untraced."""
        if not self.tracer.enabled:
            yield
            return
        with self.counters.group() as got:
            yield
        self.tracer.count(jobs_name, got["jobs"])
        if tasks_name:
            self.tracer.count(tasks_name, got["tasks"])

    @contextmanager
    def layer(self, name: str):
        """Span ``name`` around a layer call. Yields ``keep``: wrap the
        layer's output DataFrame in it to compute it inside the span
        and continue from the materialised result. Rows out and the
        shuffle and spill bytes of the executed plan are recorded after
        the span closes."""
        from cube_builder_spark import metrics
        held = []

        def keep(df):
            cp = df.localCheckpoint(eager=True)
            held.append((df, cp))
            return cp

        with self.jobs("spark.jobs", "spark.tasks"), self.tracer.span(name):
            yield keep
        for df, cp in held:
            shuffle, spill = metrics.shuffle_bytes(df), metrics.spill_bytes(df)
            self.tracer.count(f"{name}.rows_out", cp.count())
            self.tracer.count(f"{name}.shuffle_bytes", shuffle)
            self.tracer.count(f"{name}.spill_bytes", spill)
            self.tracer.count("spark.shuffle_bytes", shuffle)
            self.tracer.count("spark.spill_bytes", spill)

    def run(self, seconds: float) -> None:
        """Closed loop: operations back to back until ``seconds`` of
        wall time have passed (the last one is allowed to finish). A
        traced run alternates untraced and traced operations, starting
        with an untraced one that only warms up, and makes at least one
        of each after it."""
        t0 = time.perf_counter()
        least = 3 if self.tracer.enabled else 1
        i = 0
        while i < least or time.perf_counter() - t0 < seconds:
            self.op(i, self.tracer.enabled and i % 2 == 1)
            i += 1


# -- cube_build --------------------------------------------------------------

class CubeBuild(Workload):
    root_span = "build"
    # two 12-day periods of three dates each
    N_TILES, N_DATES, STEP = 2, 6, 12

    def setup(self) -> None:
        from cube_builder_spark.plans.build_cube import CubeJobConfig
        with self.phase("generate"):
            self.inputs = scenes.warp_inputs(os.path.join(self.workdir, "scenes"),
                                             self.seed, self.N_TILES, self.N_DATES)
        self.start = scenes.START
        self.end = self.start + timedelta(days=self.STEP * 2 - 1)
        self.cfg = CubeJobConfig(cube=CUBE, composite="LCF", start=self.start,
                                 end=self.end, step=self.STEP, export_tiffs=True,
                                 force=True)
        self.tiles = self.inputs.meta["tiles"]
        n_periods = len(oracle.periods(self.start, self.end, self.STEP))
        self.n_tiffs = self.N_TILES * n_periods * 3     # B04, B8A, NDVI
        # The oracle's warp pass also warms the scan, the warp and the
        # Python workers. There is no warm-up build: a cold build costs
        # about 1.5 warm ones, and with one more build per run a full
        # comparison (48 runs) no longer fits in an hour on a loaded
        # 4-core box. The timed build is the one a fresh build-local
        # process runs.
        with self.phase("oracle"):
            self._oracle_from_warp(self._warp(self._scan()).drop("path").toPandas())

    def manifest(self) -> dict:
        return self.inputs.manifest()

    def _scan(self):
        from cube_builder_spark.sources.local_scan import scan_directory
        return scan_directory(self.spark, self.inputs.root, with_content=True)

    def _warp(self, assets):
        """warp_scenes as build_from_directory calls it, plus the scene
        path, which tells which scene-tile pairs produced pixels."""
        from cube_builder_spark.operators.warp import warp_scenes
        files = (assets.withColumn("date_s", F.col("date").cast("string"))
                 .select("path", "content", "band", "date_s"))
        return warp_scenes(files, self.tiles, scenes.ALBERS, scenes.UTM,
                           resampling="nearest", nodata=self.cfg.nodata,
                           extra_cols=("band", "date_s", "path"))

    def _oracle_from_warp(self, warped: pd.DataFrame) -> None:
        """Expected cube and items, recomputed from the warp layer's own
        output; the warp output itself is checked against the scene
        footprints the generator placed."""
        by_date: dict[date, list] = {}
        for s in self.inputs.meta["scenes"]:
            by_date.setdefault(s["date"], []).append(s)
        predicted = {(t["tile_id"], d.isoformat()): scenes.predicted_valid(t, ss)
                     for t in self.tiles for d, ss in by_date.items()}
        self.setup_errors += oracle.footprint_errors(warped, predicted, tolerance=2)
        obs = pd.DataFrame({
            "tile_id": warped["tile_id"].astype("int64"),
            "pixel_id": warped["pixel_id"].astype("int64"),
            "band": warped["band"],
            "date": pd.to_datetime(warped["date_s"]).to_numpy().astype("datetime64[D]"),
            "value": warped["value"].astype("int64")})
        self.want_cube, self.want_items = oracle.expected(
            obs, self.start, self.end, self.STEP)

    def _build(self, out: str) -> dict:
        from tools.build_local import build_from_directory
        return build_from_directory(self.spark, self.inputs.root, out, self.cfg,
                                    grid=self.tiles, src_crs=scenes.UTM,
                                    dst_crs=scenes.ALBERS)

    def check(self, out: str) -> list[str]:
        errs = oracle.compare_cube(oracle.read_table(os.path.join(out, "cube")),
                                   self.want_cube)
        errs += oracle.compare_items(oracle.read_table(os.path.join(out, "items")),
                                     self.want_items, CUBE)
        n_tif = tree_stats(os.path.join(out, "tiff"), ".tif")[0]
        if n_tif != self.n_tiffs:
            errs.append(f"{n_tif} COG files, want {self.n_tiffs}")
        return errs

    def op(self, i: int, traced: bool) -> None:
        out = os.path.join(self.workdir, f"build{i}")
        errs: list[str] = []
        t0 = time.perf_counter()
        try:
            if traced:
                self._traced_build(out)
            else:
                self._build(out)
        except Exception as exc:            # a failed build is a failed op
            traceback.print_exc(file=sys.stderr)
            errs.append(f"build raised {exc!r}"[:500])
        dt = time.perf_counter() - t0
        (self.traced if traced else self.untraced).append(dt)
        written = tree_stats(out)[1]
        if not errs:
            errs = self.check(out)
        shutil.rmtree(out, ignore_errors=True)
        self.samples.append({"seconds": dt, "pixels": self.inputs.pixels,
                             "in_bytes": self.inputs.bytes, "out_bytes": written,
                             "errors": errs, "traced": traced})

    def _traced_build(self, out: str) -> None:
        """build_from_directory + build_cube, one layer at a time."""
        from cube_builder_spark.plans.build_cube import (
            assign_periods, blend_stage, index_stage, merge_stage, periods_df,
            publish_stage)
        from cube_builder_spark.sinks.cog import export_band_tiffs
        from cube_builder_spark.streaming.incremental import upsert_partitioned
        tr, cfg = self.tracer, self.cfg
        with tr.span(self.root_span):
            with self.layer("scan") as keep:
                assets = keep(self._scan())
            tr.count("scan.files", assets.count())
            with self.layer("warp") as keep:
                px = keep(self._warp(assets))
            tr.count("warp.pixels_out", px.count())
            tr.count("warp.pairs_hit", px.select("path", "tile_id").distinct().count())
            tr.count("warp.pairs_tested", self.inputs.files * len(self.tiles))
            with self.layer("merge") as keep:
                merged = keep(merge_stage(
                    assign_periods(observations(px), periods_df(self.spark, cfg)), cfg))
            with self.layer("blend") as keep:
                blended = keep(blend_stage(merged, cfg))
            with self.layer("index") as keep:
                cube = keep(index_stage(blended, cfg))
            with self.layer("publish") as keep:
                items = keep(publish_stage(merged, cfg))
            with self.layer("write"):
                upsert_partitioned(cube, os.path.join(out, "cube"))
                upsert_partitioned(items, os.path.join(out, "items"))
            files_, bytes_ = tree_stats(out)
            tr.count("write.files", files_)
            tr.count("write.bytes", bytes_)
            with self.layer("cog"):
                export_band_tiffs(cube, os.path.join(out, "tiff"), cog=cfg.cog,
                                  cog_tile=cfg.cog_tile).count()
            tr.count("cog.bytes", tree_stats(os.path.join(out, "tiff"))[1])


# -- cube_refresh ------------------------------------------------------------

class CubeRefresh(Workload):
    root_span = "fold"
    N_TILES, STEP = 1, 8
    # 8-day periods hold two dates each. The base cube holds the first
    # date, so the micro-batch both merges a date into published state
    # and opens a new period.
    BASE_DATES = [0]
    BATCH_DATES = [1, 2]

    def setup(self) -> None:
        from cube_builder_spark.api import CubeService
        from cube_builder_spark.catalog import CubeDefinition
        from cube_builder_spark.plans.build_cube import CubeJobConfig
        self.start = scenes.START
        self.end = self.start + timedelta(days=self.STEP * 2 - 1)
        self.arrays: dict = {}
        src = os.path.join(self.workdir, "scenes")
        with self.phase("generate"):
            self.base_in = scenes.grid_inputs(os.path.join(src, "base"), self.seed,
                                              self.N_TILES, self.BASE_DATES, self.arrays)
            self.batch = scenes.grid_inputs(os.path.join(src, "batch"), self.seed,
                                            self.N_TILES, self.BATCH_DATES, self.arrays)
        self.cfg = CubeJobConfig(cube=CUBE, composite="LCF", start=self.start,
                                 end=self.end, step=self.STEP)

        # the base cube over the first dates is also the warm-up: the
        # first fold in a JVM compiles the decode and blend operators
        self.base = os.path.join(self.workdir, "base_cube")
        with self.phase("base_cube"):
            self._fold(self.base_in.root, self.base)
        with self.phase("oracle"):
            self.setup_errors += self.check(self.base, self.expected(self.BASE_DATES))
            self.want = self.expected(self.BASE_DATES + self.BATCH_DATES)

        # register the cube with the service: an empty first job sets
        # its output directory, which each operation fills from the base
        with self.phase("register"):
            self.svc = CubeService(os.path.join(self.workdir, "service"))
            self.svc.create_cube(CubeDefinition(
                name=CUBE, version=1, composite_function="LCF", grid="BENCH_GRID",
                resolution=scenes.RES, quality_band="SCL",
                temporal_schema={"schema": "continuous", "unit": "day",
                                 "step": self.STEP},
                bands=[{"name": b, "common_name": b, "data_type": "int16",
                        "nodata": (scenes.SCL_NODATA if b == "SCL"
                                   else scenes.BAND_NODATA)}
                       for b in scenes.BANDS],
                indexes=dict(self.cfg.index_bands)))
            empty = self.spark.createDataFrame(
                [], "tile_id long, pixel_id long, band string, date date, doy long, "
                    "value long, source_idx int, scene_order int")
            self.out = self.svc.start(self.spark, CUBE, empty, start=self.start,
                                      end=self.end, step=self.STEP)["out_dir"]

    def expected(self, days: list[int]) -> tuple:
        """Oracle cube and items for the scenes of the given dates."""
        dates = {scenes.START + timedelta(days=scenes.DATE_STEP_DAYS * d) for d in days}
        return oracle.expected(
            oracle.arrays_to_obs({k: v for k, v in self.arrays.items() if k[1] in dates}),
            self.start, self.end, self.STEP)

    def check(self, out: str, want: tuple) -> list[str]:
        cube, items = want
        errs = oracle.compare_cube(oracle.read_table(os.path.join(out, "cube")), cube)
        errs += oracle.compare_items(oracle.read_table(os.path.join(out, "items")),
                                     items, CUBE)
        return errs

    def _scan(self, batch_dir: str):
        from cube_builder_spark.sources.local_scan import scan_directory
        return scan_directory(self.spark, batch_dir, with_content=True)

    @staticmethod
    def _decode(assets):
        """decode_geotiff_pixels as build_from_directory's on-grid path
        calls it (tile id from the file name)."""
        from cube_builder_spark.sources.raster_reader import decode_geotiff_pixels
        px = decode_geotiff_pixels(
            assets.withColumn("tile_id", F.regexp_extract("path", r"_t(\d+)_", 1))
            .withColumn("date_s", F.col("date").cast("string"))
            .select("path", "content", "band", "tile_id", "date_s"),
            extra_cols=["band", "tile_id", "date_s"])
        return observations(px.withColumn("tile_id", F.col("tile_id").cast("long")))

    def _fold(self, batch_dir: str, out: str) -> dict:
        """scan -> decode -> update_cube_batch, as one refresh."""
        from cube_builder_spark.streaming.incremental import update_cube_batch
        return update_cube_batch(self.spark, self._decode(self._scan(batch_dir)),
                                 out, self.cfg)

    def manifest(self) -> dict:
        return {"base": self.base_in.manifest(), "batch": self.batch.manifest()}

    def op(self, i: int, traced: bool) -> None:
        """Fold the micro-batch into a fresh copy of the base cube (the
        copy is not timed), so every operation does the same work."""
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.base, self.out)
        before = snapshot(self.out)
        errs: list[str] = []
        t0 = time.perf_counter()
        try:
            if traced:
                self._traced_fold(self.batch.root)
            else:
                self._fold(self.batch.root, self.out)
        except Exception as exc:            # a failed fold is a failed op
            traceback.print_exc(file=sys.stderr)
            errs.append(f"fold raised {exc!r}"[:500])
        dt = time.perf_counter() - t0
        (self.traced if traced else self.untraced).append(dt)
        written = written_since(before, self.out)[1]
        if not errs:
            errs = self.check(self.out, self.want)
        if not errs:
            errs = self.read()
        self.samples.append({"seconds": dt, "pixels": self.batch.pixels,
                             "in_bytes": self.batch.bytes, "out_bytes": written,
                             "errors": errs, "traced": traced})

    def read(self) -> list[str]:
        """A catalog client reads the refreshed cube: one ``list_items``
        page over every tile and the whole timeline, then ``cube_meta``;
        both answers are checked against the items table."""
        tiles = list(range(self.N_TILES))
        lo, hi = self.start.isoformat(), self.end.isoformat()
        tr = self.tracer
        with tr.span("read"):
            with self.jobs("api.jobs_per_req"):
                with tr.span("api.items_plan"):
                    t0 = time.perf_counter()
                    page = self.svc.list_items(self.spark, CUBE, tiles=tiles,
                                               start_date=lo, end_date=hi, page=1)
                with tr.span("api.items_exec"):
                    rows = page.collect()
                    t1 = time.perf_counter()
            with tr.span("api.meta"):
                meta = self.svc.cube_meta(self.spark, CUBE)
                t2 = time.perf_counter()
            items_path = os.path.join(self.out, "items")
            if tr.enabled:
                tr.count("api.files_listed", tree_stats(items_path, ".parquet")[0])
        self.reads.append({"items_s": t1 - t0, "meta_s": t2 - t1})
        got_rows = [(r.item_id, int(r.tile_id), r.period, r.cloud_cover) for r in rows]
        errs = oracle.page_errors(got_rows, oracle.expected_page(
            items_path, tiles, lo, hi, 1, 10))
        if meta != oracle.expected_meta(items_path):
            errs.append(f"cube_meta {meta} != {oracle.expected_meta(items_path)}")
        return errs

    def _traced_fold(self, batch_dir: str) -> None:
        """update_cube_batch, one public step at a time."""
        from cube_builder_spark.plans.build_cube import (assign_periods,
                                                         index_stage, periods_df)
        from cube_builder_spark.streaming import incremental as inc
        tr, cfg, spark, out = self.tracer, self.cfg, self.spark, self.out
        state_path, cube_path, items_path = (os.path.join(out, n)
                                             for n in ("state", "cube", "items"))
        with tr.span(self.root_span):
            with self.layer("scan") as keep:
                assets = keep(self._scan(batch_dir))
            tr.count("scan.files", assets.count())
            with self.layer("decode") as keep:
                obs = keep(self._decode(assets))
            tr.count("decode.pixels", obs.count())
            with self.layer("merge") as keep:
                merged = keep(inc.mosaic_batch(
                    assign_periods(obs, periods_df(spark, cfg)), cfg))
            with self.layer("blend") as keep:
                delta = keep(inc.delta_blend_state(merged, cfg))
            with self.layer("refresh") as keep:
                units = [(r.tile_id, r.period) for r in
                         delta.select("tile_id", "period").distinct().collect()]
                old = inc._read_partitions(spark, state_path, units)
                state = keep(delta if old is None else inc.merge_blend_state(old, delta))
            tr.count("refresh.state_rows_read", 0 if old is None else old.count())
            tr.count("refresh.partitions_rewritten", 3 * len(units))
            with self.layer("index") as keep:
                cube_rows = keep(index_stage(inc.finalize_blend(state, cfg), cfg))
            with self.layer("publish") as keep:
                item_delta = inc.delta_item_state(merged, cfg)
                old_items = inc._read_partitions(spark, items_path, units)
                if old_items is not None:
                    item_delta = (old_items.select("tile_id", "period", "clear", "not_clear")
                                  .unionByName(item_delta)
                                  .groupBy("tile_id", "period")
                                  .agg(F.sum("clear").alias("clear"),
                                       F.sum("not_clear").alias("not_clear")))
                items = keep(item_delta.join(inc._finalize_items(item_delta, cfg),
                                             ["tile_id", "period"]))
            before = snapshot(out)
            with self.layer("write"):
                inc.upsert_partitioned(state, state_path)
                inc.upsert_partitioned(cube_rows, cube_path)
                inc.upsert_partitioned(items, items_path)
            files_, bytes_ = written_since(before, out)
            tr.count("write.files", files_)
            tr.count("write.bytes", bytes_)


WORKLOADS = {"cube_build": CubeBuild, "cube_refresh": CubeRefresh}


def summarize(w: Workload) -> dict:
    """End-to-end figures of one run, over its untraced operations."""
    s = [x for x in w.samples if not x["traced"]] or w.samples
    secs = sum(x["seconds"] for x in s)
    out = {"ops": len(s),
           "job_p50_s": statistics.median(x["seconds"] for x in s),
           "mpix_per_s": sum(x["pixels"] for x in s) / 1e6 / secs,
           "out_bytes_per_in_byte": (sum(x["out_bytes"] for x in s)
                                     / sum(x["in_bytes"] for x in s))}
    reads = w.reads
    if reads:
        items = sorted(r["items_s"] * 1e3 for r in reads)
        out["items_p50_ms"] = statistics.median(items)
        out["meta_p50_ms"] = statistics.median(r["meta_s"] * 1e3 for r in reads)
        if len(items) >= 100:
            out["items_p90_ms"] = statistics.quantiles(items, n=10)[-1]
    return out
