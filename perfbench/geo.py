"""The ``geo_pipeline`` workload: the north-star read path and the write
path on the same seeded pages.

Pages are generated from the seed with NumPy and staged to parquet, so the
timed pipeline starts from a columnar scan. 40% of points fall in the three
dense hot-spot cells of ``sources.fixtures`` and 10% of pages carry no
coordinates; which pages those are is drawn from the seed. Every answer is
checked against a NumPy oracle computed from the same arrays: per-ward
counts by exact integer point-in-quad tests, per-zoom tile sums through the
mercator and Hilbert kernels, and tile counts through the clip kernel.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from plateau_gis_converter_spark.functions import geo
from plateau_gis_converter_spark.kernels import clip as clip_kernel
from plateau_gis_converter_spark.kernels import hilbert
from plateau_gis_converter_spark.kernels import mvt as mvt_kernel
from plateau_gis_converter_spark.kernels.mercator import lnglat_to_web_mercator
from plateau_gis_converter_spark.operators import geocode as gc
from plateau_gis_converter_spark.operators import spatial_join as sj
from plateau_gis_converter_spark.operators import tile_assign as ta
from plateau_gis_converter_spark.plans.web_pipeline import run_web_pipeline
from plateau_gis_converter_spark.sinks import mvt
from plateau_gis_converter_spark.sources import fixtures as fx
from spans import median

DENSE_SHARE = 0.4
NO_COORD_SHARE = 0.1
N_FILES = 8
MIN_Z, MAX_Z = 7, 15
# MVT slicing stops one zoom short of the point tiles: z15 would add 1155
# tiles and double the encode time, more than a run's budget holds
MVT_MAX_Z = 14
WARD_TYPE = "urf:UrbanPlanningArea"
NO_COORD_TEXT = "地点 不明 東京 tokyo23-ku page"
PREFIX_REPS = 2
READ_OPS = ("geo_pipeline.join", "geo_pipeline.tiles")


# ---------------------------------------------------------------------------
# inputs and oracles
# ---------------------------------------------------------------------------

class Pages:
    """Seeded pages: integer µdeg coordinates plus the parquet they are
    staged to."""

    def __init__(self, seed: int, n: int):
        rng = np.random.default_rng(seed)
        lng = rng.integers(fx.LNG_MIN, fx.LNG_MAX, n, endpoint=True)
        lat = rng.integers(fx.LAT_MIN, fx.LAT_MAX, n, endpoint=True)
        dense = rng.random(n) < DENSE_SHARE
        centre = rng.integers(0, len(fx.DENSE_CENTERS), n)[dense]
        cx = np.array([c[0] for c in fx.DENSE_CENTERS], dtype=np.int64)
        cy = np.array([c[1] for c in fx.DENSE_CENTERS], dtype=np.int64)
        k = int(dense.sum())
        lng[dense] = cx[centre] + rng.integers(
            -fx.DENSE_HALF, fx.DENSE_HALF, k, endpoint=True)
        lat[dense] = cy[centre] + rng.integers(
            -fx.DENSE_HALF, fx.DENSE_HALF, k, endpoint=True)
        self.n = n
        self.seed = seed
        self.located = rng.random(n) >= NO_COORD_SHARE
        self.lng, self.lat = lng, lat

    def write(self, path: str) -> str:
        """Write the pages as a parquet directory at ``path``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        texts = [fx.TEXT_TEMPLATE % (la, ln) if ok else NO_COORD_TEXT
                 for la, ln, ok in zip(self.lat.tolist(), self.lng.tolist(),
                                       self.located.tolist())]
        urls = [f"https://example{i % 97}.jp/page/{self.seed}-{i}"
                for i in range(self.n)]
        table = pa.table({"url": pa.array(urls, pa.string()),
                          "text": pa.array(texts, pa.string())})
        # several files, as a production table has: Spark gives each small
        # file its own split, so the scan runs on every core
        step = -(-self.n // N_FILES)
        for i in range(N_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(path, f"part-{i:02d}.parquet"))
        return path

    def inside(self) -> dict[str, np.ndarray]:
        """ward_code -> mask of located pages inside that ward (inclusive
        boundary, exact int64 cross products, as the engine's PIP)."""
        out = {}
        for rec in fx.tessellation_records():
            ring = np.asarray(rec["rings_udeg"][0], dtype=np.int64)
            mask = self.located.copy()
            for (x1, y1), (x2, y2) in zip(ring, np.roll(ring, -1, axis=0)):
                mask &= ((x2 - x1) * (self.lat - y1)
                         - (y2 - y1) * (self.lng - x1)) >= 0
            out[rec["ward_code"]] = mask
        return out

    def ward_counts(self) -> dict[str, int]:
        return {w: int(m.sum()) for w, m in self.inside().items() if m.any()}

    def tiles_xy(self, z: int, mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        mx, my = lnglat_to_web_mercator(self.lng[mask] / 1e6,
                                        self.lat[mask] / 1e6)
        n = 1 << z
        x = np.floor(mx * float(n)).astype(np.int64) % n
        y = np.clip(np.floor(my * float(n)).astype(np.int64), 0, n - 1)
        return x, y

    def zoom_sums(self) -> dict[int, tuple[int, int, int, int]]:
        """z -> (points, sum x, sum y, sum Hilbert id) over located pages."""
        x15, y15 = self.tiles_xy(MAX_Z, self.located)
        out = {}
        for z in range(MIN_Z, MAX_Z + 1):
            x, y = x15 >> (MAX_Z - z), y15 >> (MAX_Z - z)
            tid = hilbert.zxy_to_id(z, x, y).astype(np.int64)
            out[z] = (len(x), int(x.sum()), int(y.sum()), int(tid.sum()))
        return out

    def web_keys(self) -> dict[str, int]:
        """Keys the web pipeline must commit: wards with pages, and z12
        tiles of pages inside at least one ward."""
        inside = self.inside()
        any_ward = np.zeros(self.n, dtype=bool)
        for m in inside.values():
            any_ward |= m
        x, y = self.tiles_xy(12, any_ward)
        return {"ward_rows": sum(1 for m in inside.values() if m.any()),
                "tile_rows": len(set(zip(x.tolist(), y.tolist())))}


def ward_records() -> list[dict]:
    return [r for r in fx.boundaries_records() if r["typename"] == WARD_TYPE]


def kernel_slice(records: list[dict]) -> dict[tuple, list]:
    """(z, x, y) -> features, by direct single-process clip-kernel calls
    with the arguments ``slice_boundary_polygons`` uses."""
    tiles: dict[tuple, list] = {}
    for rec in records:
        rings = ta.rings_udeg_to_mercator(rec["rings_udeg"])
        sliced = clip_kernel.slice_multipolygon([rings], MIN_Z, MVT_MAX_Z,
                                                max_detail=12, buffer_pixels=5)
        for key, mpoly in sliced.items():
            tiles.setdefault(key, []).append({
                "layer": rec["typename"], "feature_id": rec["feature_id"],
                "mpoly": mpoly,
                "attrs": [(k, mvt_kernel.sniff_tag_value(rec["attributes"][k]))
                          for k in sorted(rec["attributes"])]})
    return tiles


def kernel_encode(tiles: dict[tuple, list]) -> None:
    """Encode every tile with the MVT kernel, features in sink order."""
    for feats in tiles.values():
        feats = sorted(feats, key=lambda f: (f["layer"], f["feature_id"]))
        mvt_kernel.make_tile_adaptive(feats)


# ---------------------------------------------------------------------------
# traced prefix pipelines: scan -> +geocode -> +cell join -> +PIP
# ---------------------------------------------------------------------------

def _cell_candidates(spark, pts):
    """Rows of the broadcast cell equi-join before the PIP predicate."""
    from pyspark.sql import functions as F

    z = F.lit(sj.INDEX_ZOOM)
    cells = spark.createDataFrame(
        sorted({(r["cell_x"], r["cell_y"], r["ward_code"])
                for r in sj.boundary_cell_index(fx.tessellation_records())}),
        "cell_x: long, cell_y: long, ward_code: string")
    located = pts.where(F.col("lng_udeg").isNotNull()
                        & F.col("lat_udeg").isNotNull())
    keyed = (located
             .withColumn("cell_x", geo.tile_x(z, geo.mercator_mx(
                 geo.udeg_to_deg(F.col("lng_udeg")))))
             .withColumn("cell_y", geo.tile_y(z, geo.mercator_my(
                 geo.udeg_to_deg(F.col("lat_udeg"))))))
    return keyed.join(F.broadcast(cells), ["cell_x", "cell_y"])


def prefix_profile(ctx, path: str):
    """Per-layer metrics of the join pipeline cut after each layer, and the
    median time of each prefix."""
    from pyspark.sql import functions as F

    spark, tracer = ctx.spark, ctx.tracer
    times: dict[str, list[float]] = {}
    out: dict[str, float] = {}
    for _ in range(PREFIX_REPS):
        pages = spark.read.parquet(path)
        pts = gc.geocode_expr(pages)
        stages = {
            "scan": pages.agg(F.count(F.lit(1)), F.sum(F.length("text"))),
            "geocode": pts.agg(F.count("lng_udeg"), F.sum("lng_udeg"),
                               F.sum("lat_udeg")),
            "cells": _cell_candidates(spark, pts).agg(
                F.count(F.lit(1)), F.sum("lng_udeg")),
            "join": sj.spatial_join_points(
                spark, pts, fx.tessellation_records()).agg(
                F.count(F.lit(1)), F.sum("lng_udeg"), F.count("ward_code")),
        }
        for name, df in stages.items():
            with tracer.span(f"prefix.{name}") as rec:
                t0 = time.perf_counter()
                row = df.collect()[0]
                times.setdefault(name, []).append(time.perf_counter() - t0)
                rec["df"] = df
            if name == "cells":
                out["spatial_join.candidate_rows"] = row[0]
            elif name == "join":
                out["spatial_join.pip_keep_ratio"] = (
                    row[0] / out["spatial_join.candidate_rows"])
    t = {k: median(v) for k, v in times.items()}
    # Spark's input-bytes counter misses most parquet reads in local mode,
    # so the scan's input is the size of the staged files
    out["sources.input_bytes"] = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    out["sources.scan_s"] = t["scan"]
    out["geocode.self_s"] = t["geocode"] - t["scan"]
    out["spatial_join.self_s"] = t["join"] - t["geocode"]
    return out, t


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

class GeoPipeline:
    """The geo dataflow end to end, read path then write path, on one set
    of seeded pages:

    - read path (the north star): geocode -> broadcast cell join + PIP ->
      per-ward counts, then z7..15 point tiles with Hilbert ids;
    - write path: the 23 wards sliced at z7..14 -> MVT encode -> z/x/y.pbf
      files; the resumable web pipeline on the same pages; and its resume,
      which must commit nothing.

    The write path uses ``operators.spatial_join`` for per-key shuffled
    writes instead of an aggregate, so a join change that helps one use and
    hurts the other shows in the same pass."""

    name = "geo_pipeline"
    n_pages = 100_000

    def stage(self, ctx) -> None:
        pages = Pages(ctx.seed, self.n_pages)
        self.path = pages.write(ctx.fresh_dir("pages"))
        self.wards = pages.ward_counts()
        self.zooms = pages.zoom_sums()
        self.keys = pages.web_keys()
        self.n_tiles = len(kernel_slice(ward_records()))

    def pages_per_s(self, p: dict) -> float:
        """North-star rate: pages through the read path's two operations
        per second of their wall time."""
        read_s = sum(o["s"] for o in p["ops"] if o["op"] in READ_OPS)
        return 2 * self.n_pages / read_s

    def ops(self, ctx, index: int):
        out_root = ctx.fresh_dir(f"web{index}")
        run_id = f"{ctx.run_id}-{index}"
        return [
            ("geo_pipeline.join", self.join),
            ("geo_pipeline.tiles", self.tiles),
            ("geo_pipeline.mvt", lambda c, r: self.write_mvt(c, r, index)),
            ("geo_pipeline.web_pipeline",
             lambda c, r: self.web(c, out_root, run_id, self.keys, "run")),
            ("geo_pipeline.resume",
             lambda c, r: self.web(c, out_root, run_id,
                                   {"ward_rows": 0, "tile_rows": 0},
                                   "resume")),
        ]

    def warm_groups(self, ctx, index: int):
        # three threads: the read path, the MVT write, and the web
        # pipeline with its resume
        join, tiles, write_mvt, web, resume = self.ops(ctx, index)
        return [[join, tiles], [write_mvt], [web, resume]]

    def after_pass(self, ctx, index: int) -> None:
        web = os.path.join(ctx.tmp, f"web{index}")
        if ctx.tracer.enabled:
            ctx.stats.setdefault("lineage_bytes", []).append(
                _lineage_bytes(web))
        for d in (web, os.path.join(ctx.tmp, f"mvt{index}")):
            shutil.rmtree(d, ignore_errors=True)

    def join(self, ctx, rec) -> bool:
        from pyspark.sql import functions as F

        pts = gc.geocode_expr(ctx.spark.read.parquet(self.path))
        joined = sj.spatial_join_points(ctx.spark, pts,
                                        fx.tessellation_records())
        df = joined.groupBy("ward_code").agg(F.count(F.lit(1)).alias("n"))
        got = {r["ward_code"]: r["n"] for r in df.collect()}
        rec["df"] = df
        return got == self.wards

    def tiles(self, ctx, rec) -> bool:
        from pyspark.sql import functions as F

        pts = gc.geocode_expr(ctx.spark.read.parquet(self.path))
        tiles = ta.assign_point_tiles(pts, MIN_Z, MAX_Z, with_tile_id=True)
        df = tiles.groupBy("z").agg(F.count(F.lit(1)), F.sum("x"),
                                    F.sum("y"), F.sum("tile_id"))
        got = {r[0]: tuple(int(v) for v in r[1:]) for r in df.collect()}
        rec["df"] = df
        return got == self.zooms

    def _sliced(self, ctx):
        from pyspark.sql import functions as F

        wards = fx.boundaries_df(ctx.spark).where(
            F.col("typename") == WARD_TYPE)
        return ta.slice_boundary_polygons(wards, MIN_Z, MVT_MAX_Z)

    def write_mvt(self, ctx, rec, index: int) -> bool:
        out = ctx.fresh_dir(f"mvt{index}")
        tiles = mvt.encode_tiles(self._sliced(ctx))
        n = mvt.write_tiles(tiles, out)
        rec["df"] = tiles
        files = sum(len(f) for _, _, f in os.walk(out))
        return n == files == self.n_tiles

    def web(self, ctx, out_root: str, run_id: str, expect: dict,
            kind: str) -> bool:
        pages = ctx.spark.read.parquet(self.path)
        committed = run_web_pipeline(ctx.spark, pages, out_root,
                                     run_id=run_id)
        ctx.stats.setdefault(f"committed.{kind}", []).append(
            sum(committed.values()))
        return committed == expect

    def layers(self, ctx) -> dict[str, float]:
        from pyspark.sql import functions as F

        tracer = ctx.tracer

        def op_s(name):
            return median([s["end"] - s["start"] for s in tracer.spans
                           if s["name"] == f"geo_pipeline.{name}"])

        out, prefix_s = prefix_profile(ctx, self.path)
        slice_t, encode_t = [], []
        for _ in range(PREFIX_REPS):
            df = self._sliced(ctx).agg(F.count(F.lit(1)),
                                       F.sum(F.size("mpoly")))
            with tracer.span("prefix.slice") as rec:
                t0 = time.perf_counter()
                rows = df.collect()[0][0]
                slice_t.append(time.perf_counter() - t0)
                rec["df"] = df
            df = mvt.encode_tiles(self._sliced(ctx)).agg(
                F.count(F.lit(1)), F.sum((F.col("detail") < 12).cast("int")),
                F.sum(F.length("pbf")))
            with tracer.span("prefix.encode") as rec:
                t0 = time.perf_counter()
                tiles, reduced, nbytes = df.collect()[0]
                encode_t.append(time.perf_counter() - t0)
                rec["df"] = df
        t0 = time.perf_counter()
        sliced_k = kernel_slice(ward_records())
        t1 = time.perf_counter()
        kernel_encode(sliced_k)
        t2 = time.perf_counter()
        write_t = op_s("mvt")
        out.update({
            "tile_assign.points_self_s": op_s("tiles") - prefix_s["geocode"],
            "tile_assign.slice_s": median(slice_t),
            "tile_assign.sliced_rows": rows,
            "kernels.clip.slice_s": t1 - t0,
            "kernels.mvt.encode_s": t2 - t1,
            "sinks.mvt.encode_s": median(encode_t) - median(slice_t),
            "sinks.mvt.write_s": write_t - median(encode_t),
            "sinks.mvt.tiles": tiles,
            "sinks.mvt.bytes_out": nbytes,
            "sinks.mvt.reduced_detail_ratio": reduced / tiles,
            "sinks.mvt.tiles_per_s": tiles / write_t,
            "web_pipeline.run_s": op_s("web_pipeline"),
            "web_pipeline.resume_s": op_s("resume"),
            "lineage.keys_committed": (
                median(ctx.stats["committed.run"])
                + median(ctx.stats["committed.resume"])),
            "lineage.bytes_out": median(ctx.stats.get("lineage_bytes", [])),
        })
        return out


def _lineage_bytes(out_root: str) -> int:
    import glob
    import json

    total = 0
    for path in glob.glob(os.path.join(out_root, "_lineage", "*.jsonl")):
        with open(path) as f:
            total += sum(json.loads(line).get("bytes_out", 0) for line in f)
    return total
