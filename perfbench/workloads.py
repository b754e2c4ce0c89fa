"""The workloads: seeded set-up, the call sequence of one pass, and the
checks of every call's output against ``reference``.  Four call
sequences (point_kernels, pip_zonal, checkpoint_pipeline,
iterative_cells) run as two workloads, two sequences per pass.

A call is split in two timed steps: ``build`` (driver-side work inside
the engine function — plan construction, and for the iterative and
checkpoint operators the whole eager loop) and ``force`` (the action
that executes the plan and brings the result back).  ``check`` runs
outside the timed region.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from projcl_spark.core.params import ProjectionParams
from projcl_spark.core.spheroid import Spheroid
from projcl_spark.functions import (datum_shift_udf, project_fwd_cols,
                                    project_udf, vincenty_udf)
from projcl_spark.geo import datum as datum_mod
from projcl_spark.geo import geodesic
from projcl_spark.index.cells import cell_id_col
from projcl_spark.operators import pip as pip_ops
from projcl_spark.operators.cluster import connected_components
from projcl_spark.operators.dbscan import cell_bfs
from projcl_spark.operators.raster import flow_accumulation
from projcl_spark.operators.spans import explode_spans, geo_enrich
from projcl_spark.operators.warp import warp
from projcl_spark.plans.checkpoint import Pipeline
from projcl_spark.plans.spatial_sink import read_spatial_cell, write_spatial
from projcl_spark.proj import get_transform
from projcl_spark.sources import synth

import inputs
import reference as ref
from reference import require

ALBERS = ("albers_equal_area",
          ProjectionParams(spheroid=Spheroid.WGS_84, rlat1=30.0, rlat2=60.0))
MERCATOR = ("mercator", ProjectionParams())
DATUMS = (datum_mod.Datum.WGS_84, datum_mod.Datum.NAD_27)
ROLLUP_RES = 6     # cell_id_col resolution of the point-kernel roll-ups
PIP_RES = 8        # cover resolution of the polygon layers
MOSAIC = (4, 4, 64, 64)  # tiles across, down, tile width, height


@dataclass
class Call:
    name: str
    layer: str
    build: Callable[[], Any]
    force: Callable[[Any], Any]
    check: Callable[[Any], None]


@dataclass
class Ctx:
    spark: Any
    seed: int
    work: str          # benchmark-owned directory, cleared per run


@dataclass
class Workload:
    """Base: subclasses fill ``gen`` (timed input generation), ``prepare``
    (untimed references) and ``calls``."""

    ctx: Ctx
    rows: int = 0
    # per-layer figures the event log does not carry: input properties
    # and counts read off the engine's outputs by the checks
    facts: dict = field(default_factory=dict)
    # timed passes a run makes at the least (more if --seconds allows):
    # the first pass after the warm-up still runs partly interpreted, and
    # cpu_s takes each call's lowest CPU over the passes
    MIN_PASSES = 2

    def gen(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def calls(self) -> list[Call]:
        raise NotImplementedError

    def before_pass(self) -> None:
        pass

    def numpy_kernels(self) -> dict[str, tuple[Callable[[], Any], int]]:
        return {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, "data", type(self).__name__, *parts)


def _collect_rollup(df) -> dict[int, tuple]:
    return {int(r[0]): tuple(r[1:]) for r in df.collect()}


POINTS_SCHEMA = "pid long, lon double, lat double, val long"


def _write_points(wl: Workload, n: int) -> None:
    """The seeded points table; call sequences of one workload that ask
    for the same size share one copy on disk."""
    wl.pts_np = inputs.points(wl.ctx.seed, n)
    path = os.path.join(wl.ctx.work, "data", f"points-{n}")
    if not os.path.isdir(path):
        inputs.write_parquet(wl.pts_np, path, n_files=8)
    # an explicit schema spares a schema-inference job per read
    wl.pts = wl.ctx.spark.read.schema(POINTS_SCHEMA).parquet(path)


def _layer() -> list[dict]:
    """The fixed mixed layer: 4 large, 60 small and 4 seam-straddling rings."""
    return inputs.polygon_layer(n_large=4, n_small=60) + synth.seam_polygon_layer_np(4)


def _layer_df(spark, layer: list[dict]):
    covers = {int(p["poly_id"]): synth.polygon_cover_cells(p, PIP_RES)
              for p in layer}
    rows = [(int(p["poly_id"]), [float(v) for v in p["xs"]],
             [float(v) for v in p["ys"]], [int(c) for c in covers[int(p["poly_id"])]])
            for p in layer]
    df = spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>, cells array<long>")
    return df, covers


# ---------------------------------------------------------------------------
class PointKernels(Workload):
    """UDF kernels + codegen twin rolled up by cell, then a full warp."""

    N = 400_000
    GRID = (64, 48)

    def gen(self) -> None:
        spark = self.ctx.spark
        _write_points(self, self.N)
        self.anchor = inputs.vincenty_anchor(self.ctx.seed)
        self.bounds = inputs.warp_bounds(self.ctx.seed)
        ta, td, tw, th = MOSAIC
        self.tiles = synth.tiles_df(spark, ta, td, tw, th)
        self.src_origin, self.src_px = self._fit_mosaic()
        self.rows = self.N

    def _grid_mercator(self):
        """The warp's destination grid carried to source (Mercator) metres
        with the numpy kernels, row-major like ``grid_df``."""
        w, h = self.GRID
        x0, y0, x1, y1 = self.bounds
        gi, gj = np.divmod(np.arange(w * h), w)
        x = x0 + (x1 - x0) * gj / (w - 1)
        y = y0 + (y1 - y0) * gi / (h - 1)
        lon, lat = get_transform(*ALBERS, "inverse")(x, y)
        lon, lat = datum_mod.shift_datum(lon, lat, *DATUMS)
        return get_transform(*MERCATOR, "forward")(lon, lat)

    def _fit_mosaic(self):
        """Source georeference mapping the warped extent onto the mosaic
        with a 2 % margin."""
        mx, my = self._grid_mercator()
        ta, td, tw, th = MOSAIC
        sx = (mx.max() - mx.min()) / (0.96 * ta * tw)
        sy = (my.max() - my.min()) / (0.96 * td * th)
        return (mx.min() - 0.02 * ta * tw * sx, my.min() - 0.02 * td * th * sy), (sx, sy)

    def prepare(self) -> None:
        p = self.pts_np
        cells = ref.cell_id(p["lon"], p["lat"], ROLLUP_RES)
        d, _ = geodesic.vincenty_inverse(p["lon"], p["lat"],
                                         np.full(self.N, self.anchor[0]),
                                         np.full(self.N, self.anchor[1]))
        x, y = get_transform(*ALBERS, "forward")(p["lon"], p["lat"])
        self.want = {
            "fwd": ref.rollup(cells, x, y),
            "vincenty": ref.rollup(cells, d),
        }
        mx, my = self._grid_mercator()
        ta, td, tw, th = MOSAIC
        img = ref.mosaic(ta * tw, td * th)
        px = (mx - self.src_origin[0]) / self.src_px[0]
        py = (my - self.src_origin[1]) / self.src_px[1]
        self.want["warp"] = ref.bilinear_clamp(img, px, py)
        self.facts["warp_taps"] = 4 * len(px)

    # -- calls --------------------------------------------------------------
    def _rollup(self, *cols):
        cell = cell_id_col(F.col("lon"), F.col("lat"), ROLLUP_RES).alias("cell")
        return (self.pts.select(cell, *[c.alias(f"v{i}") for i, c in enumerate(cols)])
                .groupBy("cell")
                .agg(F.count("*"), *[F.sum(f"v{i}") for i in range(len(cols))]))

    def _albers_fwd_udf(self):
        u = project_udf(*ALBERS, "forward")("lon", "lat")
        return self._rollup(u["x"], u["y"])

    def _albers_fwd_cols(self):
        x, y = project_fwd_cols(*ALBERS)
        return self._rollup(x, y)

    def _vincenty(self):
        lon, lat = self.anchor
        return self._rollup(vincenty_udf()("lon", "lat", F.lit(lon), F.lit(lat)))

    def _warp(self):
        ta, td, tw, th = MOSAIC
        w, h = self.GRID
        return warp(self.ctx.spark, self.tiles, w, h, self.bounds,
                    *ALBERS, *MERCATOR, self.src_origin, self.src_px,
                    tw, th, ta, td, filter="bilinear",
                    datum_shift_udf=datum_shift_udf(*DATUMS))

    def _check_warp(self, rows) -> None:
        w, _ = self.GRID
        want = self.want["warp"]
        require(len(rows) == len(want), f"warp: {len(rows)} pixels, want {len(want)}")
        got = np.zeros(len(want))
        for r in rows:
            got[r["gi"] * w + r["gj"]] = r["value"]
        bad = np.flatnonzero(~np.isclose(got, want, rtol=0, atol=1e-6))
        require(len(bad) == 0, f"warp: {len(bad)} pixels differ, first {bad[:3]}")

    def calls(self) -> list[Call]:
        def rollup_call(name, build, key):
            return Call(name, "functions", build, _collect_rollup,
                        lambda got: ref.compare_rollup(got, self.want[key], name))

        return [
            rollup_call("albers_fwd_udf", self._albers_fwd_udf, "fwd"),
            rollup_call("albers_fwd_cols", self._albers_fwd_cols, "fwd"),
            rollup_call("vincenty_udf", self._vincenty, "vincenty"),
            Call("warp", "operators.warp", self._warp, lambda df: df.collect(),
                 self._check_warp),
        ]

    def numpy_kernels(self) -> dict[str, tuple[Callable[[], Any], int]]:
        """Single-thread numpy versions of the UDF kernels on the same rows."""
        p = self.pts_np
        n = self.N
        fwd = get_transform(*ALBERS, "forward")
        alon, alat = np.full(n, self.anchor[0]), np.full(n, self.anchor[1])
        return {
            "albers_fwd": (lambda: fwd(p["lon"], p["lat"]), n),
            "vincenty": (lambda: geodesic.vincenty_inverse(p["lon"], p["lat"], alon, alat), n),
        }


# ---------------------------------------------------------------------------
class PipZonal(Workload):
    """pip_join over a mixed large/small/seam polygon layer."""

    N = 400_000

    def gen(self) -> None:
        _write_points(self, self.N)
        self.layer = _layer()
        self.polys, self.covers = _layer_df(self.ctx.spark, self.layer)
        self.rows = self.N

    def prepare(self) -> None:
        p = self.pts_np
        self.members = ref.pip_members(p["lon"], p["lat"], self.layer)
        self.facts["cover_cells"] = sum(len(c) for c in self.covers.values())
        self.facts["interior_share"] = ref.interior_share(self.layer, self.covers, PIP_RES)
        require(any(len(v) for v in self.members.values()),
                "pip_zonal: layer contains no points")

    def _check_join(self, got: dict[int, int]) -> None:
        self.facts["hits"] = sum(got.values())
        want = {k: len(v) for k, v in self.members.items() if len(v)}
        require(got == want, "pip_join: per-polygon counts differ")

    def calls(self) -> list[Call]:
        pts, polys = self.pts, self.polys
        return [
            Call("pip_join", "operators.pip",
                 lambda: pip_ops.pip_join(pts, polys, res=PIP_RES),
                 lambda df: {r[0]: r[1] for r in df.groupBy("poly_id").count().collect()},
                 self._check_join),
        ]


# ---------------------------------------------------------------------------
STAGES = ("docs", "spans", "projected", "pip", "rollup")


class CheckpointPipeline(Workload):
    """The flagship stages through ``Pipeline`` into a fresh root, a
    resume over the same root, the lineage audit, then a spatial sink
    write and a pruned cell read."""

    N_DOCS = 20_000
    N_SINK = 100_000
    CELL_RES = 4

    def gen(self) -> None:
        spark = self.ctx.spark
        self.docs = inputs.documents(self.ctx.seed, self.N_DOCS)
        os.makedirs(self.path("docs"), exist_ok=True)
        pq.write_table(self.docs["table"], self.path("docs", "part-000.parquet"))
        _write_points(self, self.N_SINK)
        self.layer = _layer()
        self.polys, _ = _layer_df(spark, self.layer)
        self.root = os.path.join(self.ctx.work, "checkpoints")
        self.sink = os.path.join(self.ctx.work, "sink")
        self.rows = self.N_DOCS + self.N_SINK

    def prepare(self) -> None:
        d = self.docs
        members = ref.pip_members(d["geo_lon"], d["geo_lat"], self.layer)
        x, _ = get_transform(*ALBERS, "forward")(d["geo_lon"], d["geo_lat"])
        self.want_rollup = {
            pid: (len(idx), len(np.unique(d["geo_doc"][idx])), float(np.mean(x[idx])))
            for pid, idx in members.items() if len(idx)
        }
        hits = sum(v[0] for v in self.want_rollup.values())
        self.want_lineage = {"docs": d["n_docs"], "spans": d["n_spans"],
                             "projected": len(d["geo_lon"]), "pip": hits,
                             "rollup": len(self.want_rollup)}
        require(hits > 0, "checkpoint_pipeline: no PIP hits")
        # seeded sink cell: the most populated cell at CELL_RES
        p = self.pts_np
        cells = ref.cell_id(p["lon"], p["lat"], self.CELL_RES)
        ids, cnt = np.unique(cells, return_counts=True)
        self.cell = int(ids[np.argmax(cnt)])
        self.want_cell = set(p["pid"][cells == self.cell].tolist())

    def before_pass(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.rmtree(self.sink, ignore_errors=True)

    def _stages(self, pipe: Pipeline):
        spark = self.ctx.spark
        pipe.stage("docs", lambda: spark.read.parquet(self.path("docs")))
        pipe.stage("spans", lambda docs: geo_enrich(explode_spans(docs)),
                   inputs=("docs",))

        def project(spans):
            x, y = project_fwd_cols(*ALBERS)
            return spans.filter(F.col("lon").isNotNull()).select(
                "doc_id", "offset", "lon", "lat", x, y)

        pipe.stage("projected", project, inputs=("spans",))
        pipe.stage("pip", lambda pr: pip_ops.pip_join(pr, self.polys, res=PIP_RES),
                   inputs=("projected",))
        return pipe.stage("rollup", lambda hits: hits.groupBy("poly_id").agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.round(F.avg("x"), 3).alias("avg_x"),
        ), inputs=("pip",))

    def _fresh(self):
        self.pipe = Pipeline(self.ctx.spark, self.root, "run")
        return self._stages(self.pipe)

    def _resume(self):
        self.pipe2 = Pipeline(self.ctx.spark, self.root, "run")
        return self._stages(self.pipe2)

    @staticmethod
    def _rollup_rows(df):
        return {r["poly_id"]: (r["n_hits"], r["n_docs"], r["avg_x"]) for r in df.collect()}

    def _check_fresh(self, got) -> None:
        require(self.pipe.ran == list(STAGES), f"fresh run ran {self.pipe.ran}")
        require(got.keys() == self.want_rollup.keys(), "rollup: polygon sets differ")
        for pid, (n, nd, ax) in self.want_rollup.items():
            g = got[pid]
            require(g[:2] == (n, nd), f"rollup: polygon {pid} counts {g[:2]} != {(n, nd)}")
            require(abs(g[2] - ax) <= 2e-3, f"rollup: polygon {pid} avg_x {g[2]} != {ax}")
        self.fresh_rollup = got
        self.facts["bytes"], self.facts["files"], self.facts["data_bytes"] = _du(self.root)
        require(self._lineage_sums() == self.want_lineage,
                f"lineage sums {self._lineage_sums()} != {self.want_lineage}")

    def _lineage_sums(self) -> dict[str, int]:
        """Row counts per stage from the lineage tables, read back with
        pyarrow (outside the engine and the timed region)."""
        out = {}
        for st in STAGES:
            t = pq.read_table(os.path.join(self.root, "run", st, "_lineage"))
            out[st] = int(sum(t.column("n_rows").to_pylist()))
        return out

    def _check_resume(self, got) -> None:
        require(self.pipe2.resumed == list(STAGES) and not self.pipe2.ran,
                f"resume ran {self.pipe2.ran}, resumed {self.pipe2.resumed}")
        require(got == self.fresh_rollup, "resumed rollup differs from the fresh one")

    def _check_sink_write(self, _) -> None:
        files = [f for f in os.listdir(self.sink) if f.endswith(".parquet")]
        require(len(files) > 0, "spatial sink wrote no files")
        self.facts["sink_files"] = len(files)

    def _check_sink_read(self, got) -> None:
        require(len(got) > 0, "sink cell read returned nothing")
        require(got == self.want_cell,
                f"sink cell read: {len(got)} rows, want {len(self.want_cell)}")
        self.facts["sink_rows"] = len(got)

    def calls(self) -> list[Call]:
        return [
            Call("pipeline_fresh", "plans.checkpoint", self._fresh,
                 self._rollup_rows, self._check_fresh),
            Call("pipeline_resume", "plans.checkpoint", self._resume,
                 self._rollup_rows, self._check_resume),
            Call("sink_write", "plans.spatial_sink", lambda: None,
                 lambda _: write_spatial(self.pts, _file_url(self.sink)),
                 self._check_sink_write),
            Call("sink_read", "plans.spatial_sink",
                 lambda: read_spatial_cell(self.ctx.spark, _file_url(self.sink),
                                           self.cell, self.CELL_RES),
                 lambda df: {r[0] for r in df.select("pid").collect()},
                 self._check_sink_read),
        ]


def _file_url(path: str) -> str:
    return f"file://{path}"


def _du(root: str) -> tuple[int, int, int]:
    """(bytes, files, bytes under stage data dirs) of a checkpoint root."""
    total = files = data = 0
    for d, _, names in os.walk(root):
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            total += size
            files += 1
            if os.sep + "data" in d[len(root):]:
                data += size
    return total, files, data


# ---------------------------------------------------------------------------
class IterativeCells(Workload):
    """Driver-bound loops on small seeded inputs: one Spark job per round."""

    CELL_RES = 6
    BFS_HOPS = 2
    DEM = (24, 24)
    FLOW_STEPS = 2

    def gen(self) -> None:
        spark, seed = self.ctx.spark, self.ctx.seed
        g = inputs.cc_graph(seed)
        self.graph = g
        self.cells_np = inputs.hotspot_cells(seed, self.CELL_RES)
        self.dem_np = inputs.dem(seed, *self.DEM)
        gi, gj = np.meshgrid(*[np.arange(n) for n in self.DEM], indexing="ij")
        tables = {
            "nodes": {"id": g["nodes"]},
            "edges": {"a": g["edges"][:, 0], "b": g["edges"][:, 1]},
            "cells": {"cell_id": np.fromiter(self.cells_np, np.int64),
                      "cnt": np.fromiter(self.cells_np.values(), np.int64)},
            "dem": {"gi": gi.ravel(), "gj": gj.ravel(), "elev": self.dem_np.ravel()},
        }
        self.df = {}
        for name, cols in tables.items():
            inputs.write_parquet(cols, self.path(name), n_files=1)
            schema = ", ".join(f"{c} long" for c in cols)
            self.df[name] = spark.read.schema(schema).parquet(self.path(name))
        self.rows = sum(len(next(iter(c.values()))) for c in tables.values())

    def prepare(self) -> None:
        g = self.graph
        self.want_cc = ref.components(g["nodes"], g["edges"])
        cells = self.cells_np
        self.source = min(cells, key=lambda c: (-cells[c], c))
        self.want_bfs = ref.bfs(cells, self.CELL_RES, self.source, self.BFS_HOPS)
        self.want_flow = ref.flow_accumulation(self.dem_np, self.FLOW_STEPS)
        # the inputs must make every loop iterate at least twice
        require(max(self.want_bfs.values()) >= self.BFS_HOPS, "bfs input: too shallow")
        require(ref.flow_accumulation(self.dem_np, 1) != self.want_flow,
                "flow input: tokens stop after one step")

    def _check_map(self, what: str, want: dict) -> Callable[[dict], None]:
        def check(got: dict) -> None:
            require(len(got) > 0, f"{what}: empty output")
            require(got == want, f"{what}: {len(got)} rows differ from reference "
                                 f"({len(want)} rows)")
        return check

    def calls(self) -> list[Call]:
        d = self.df
        src = d["cells"].where(F.col("cell_id") == F.lit(self.source)).select("cell_id")
        return [
            Call("connected_components", "operators.cluster",
                 lambda: connected_components(d["nodes"], d["edges"], id_col="id",
                                              src_col="a", dst_col="b"),
                 lambda df: {r[0]: r[1] for r in df.collect()},
                 self._check_map("connected_components", self.want_cc)),
            Call("cell_bfs", "operators.dbscan",
                 lambda: cell_bfs(d["cells"], self.CELL_RES, src,
                                  max_hops=self.BFS_HOPS, cells_unique=True),
                 lambda df: {r[0]: r[1] for r in df.collect()},
                 self._check_map("cell_bfs", self.want_bfs)),
            Call("flow_accumulation", "operators.raster",
                 lambda: flow_accumulation(d["dem"], max_steps=self.FLOW_STEPS),
                 lambda df: {(r[0], r[1]): r[2] for r in df.collect()},
                 self._check_map("flow_accumulation", self.want_flow)),
        ]


class Composite(Workload):
    """Several call sequences run as one pass in one JVM (the per-process
    start-up and JIT warm-up dominate a run, so sharing them keeps the
    benchmark inside its time budget)."""

    PARTS: tuple[type, ...] = ()

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.parts = [cls(ctx, facts=self.facts) for cls in self.PARTS]

    def gen(self) -> None:
        for p in self.parts:
            p.gen()
        self.rows = sum(p.rows for p in self.parts)

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def before_pass(self) -> None:
        for p in self.parts:
            p.before_pass()

    def calls(self) -> list[Call]:
        return [c for p in self.parts for c in p.calls()]

    def numpy_kernels(self) -> dict[str, tuple[Callable[[], Any], int]]:
        return {k: v for p in self.parts for k, v in p.numpy_kernels().items()}


class PointOps(Composite):
    """point_kernels then pip_zonal: the Arrow/Python boundary, the numpy
    kernels and the broadcast cover join + winding refine."""

    PARTS = (PointKernels, PipZonal)


class PipelineLoops(Composite):
    """checkpoint_pipeline then iterative_cells: bound by driver and
    scheduling time and by writes, not by Python or data volume."""

    PARTS = (CheckpointPipeline, IterativeCells)
    # a pass takes 13–25 s: a second one would not fit the time budget
    MIN_PASSES = 1


WORKLOADS = {
    "point_ops": PointOps,
    "pipeline_loops": PipelineLoops,
}
