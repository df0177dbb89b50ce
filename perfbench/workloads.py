"""The three workloads, their set-up, their operations and the traced tour.

Every workload owns a small lake written through the engine during
set-up: a Z2-clustered points table (``write_spatially_partitioned``)
and a GeoParquet polygons table (``write_geoparquet``), read back as the
views ``pts``, ``polys`` and ``zones``. A workload then loops one
operation, as a single closed-loop client, until its time is up:

- ``window_query``: one window query; the shapes ``extent``, ``geom`` and
  ``api`` take turns, so each is measured equally and has its own median;
- ``zone_join``: one join round (the SQL PBSM rewrite, then ``spatial_join``);
- ``z2_ingest``: one ingest batch (parse + Z2 write + GeoParquet write).

Every result is checked against ``oracle``. In a traced run the loop is
split into an untraced and a traced half (their difference is the
tracing overhead), then one operation of each other kind runs on the same
lake, so every per-layer metric is measured on every workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from tracing import (
    OP_GROUP,
    Tracer,
    generate_rows,
    last_job_id,
    peak_rss_mb,
    scan_stats,
    self_seconds,
    spark_counters,
)

from geomesa_hive_spark.functions import api as ST
from geomesa_hive_spark.geom import algorithms as alg
from geomesa_hive_spark.geom import from_wkb, from_wkt, to_wkb
from geomesa_hive_spark.geom.core import Point
from geomesa_hive_spark.operators.partitioning import write_spatially_partitioned
from geomesa_hive_spark.operators.pushdown import intersects_pushdown
from geomesa_hive_spark.operators.spatial_join import spatial_join
from geomesa_hive_spark.operators.spatial_sql import (
    rewrite_convexhull_agg,
    rewrite_extent_agg,
    rewrite_spatial_join,
    rewrite_spatial_predicates,
    spatial_sql,
)
from geomesa_hive_spark.sources.spatial_io import read_spatial_parquet, write_geoparquet

SETUP_REPS = 3
SHAPES = ("extent", "geom", "api")
# workload -> the operation it loops on
WORKLOADS = {"window_query": "query", "zone_join": "join", "z2_ingest": "ingest"}
WINDOWS = 120
WINDOW_HALF_SIZES = (0.01, 0.04, 0.15)  # degrees: three selectivities
# the nth window is centred near city (nth % WINDOW_CITIES) in rank order
# and has size nth % 3, so every three windows, and every seed, have the
# same make-up of density and size
WINDOW_CITIES = len(WINDOW_HALF_SIZES)


@dataclass(frozen=True)
class Sizes:
    points: int  # lake points
    polygons: int  # lake polygons
    radius: tuple[float, float]  # polygon radius range, degrees
    zones: int  # polygons joined as zones (ids below this)
    batch_points: int  # one ingest batch
    batch_polygons: int
    point_files: int = 16
    polygon_files: int = 8


SIZES = {
    "window_query": Sizes(10_000, 1_000, (0.002, 0.2), 100, 5_000, 250),
    "zone_join": Sizes(10_000, 500, (0.002, 0.02), 500, 5_000, 250, point_files=8, polygon_files=4),
    "z2_ingest": Sizes(10_000, 500, (0.002, 0.2), 100, 10_000, 500, point_files=8, polygon_files=4),
}
TOY = Sizes(2_000, 100, (0.002, 0.2), 50, 1_000, 50, point_files=4, polygon_files=2)


@dataclass
class Window:
    shape: str
    table: str
    ring: np.ndarray  # convex CCW, open
    box: tuple[float, float, float, float]

    @property
    def wkt(self) -> str:
        return gen.polygon_wkt(self.ring)

    def sql(self) -> str:
        if self.shape == "extent":
            x0, y0, x1, y1 = (repr(float(c)) for c in self.box)
            pred = f"ST_Intersects(bbox, ST_MakeBBOX({x0}, {y0}, {x1}, {y1}))"
        else:
            lit = f"ST_GeomFromWKT('{self.wkt}')"
            pred = f"ST_Intersects(bbox, {lit}) AND ST_Intersects(geom, {lit})"
        return f"SELECT count(*) AS n, sum(v) AS s FROM {self.table} WHERE {pred}"


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    info: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def _box(ring: np.ndarray) -> tuple[float, float, float, float]:
    return float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max())


def rewrite(sql: str) -> str:
    """The rewrite chain ``spatial_sql`` applies, called directly."""
    return rewrite_spatial_predicates(rewrite_spatial_join(rewrite_extent_agg(rewrite_convexhull_agg(sql))))


class Bench:
    """One run: inputs, lake and operations for one workload and seed."""

    def __init__(self, spark, seed: int, work: str, sizes: Sizes, tracer: Tracer, cores: int):
        self.spark, self.sizes = spark, sizes
        self.work, self.tr, self.cores = work, tracer, cores
        self.rng = np.random.default_rng(seed)
        self.cities = gen.make_cities(self.rng)
        self.batches: list[tuple[gen.Points, gen.Polygons, str, str, int]] = []

    # --- inputs -------------------------------------------------------------

    def generate(self) -> None:
        s = self.sizes
        self.points = gen.make_points(self.rng, self.cities, s.points)
        self.polys = gen.make_polygons(self.rng, self.cities, s.polygons, s.radius)
        self.poly_bounds = self.polys.bounds()
        land = os.path.join(self.work, "landing")
        os.makedirs(land, exist_ok=True)
        self.landing = (os.path.join(land, "points.parquet"), os.path.join(land, "polygons.parquet"))
        self.input_bytes = gen.write_points(self.landing[0], self.points) + gen.write_polygons(
            self.landing[1], self.polys
        )
        zmask = self.polys.id < s.zones
        self.zone_answer = oracle.zone_counts(
            self.points.x, self.points.y, self.polys.verts[zmask], self.polys.nv[zmask], self.polys.id[zmask]
        )
        # every workload draws the same windows, so a seed gives the same
        # inputs whichever workload runs. Window i is asked in each shape
        # on the points table; one extent window checks the polygons
        # table (bbox overlap).
        self.windows: dict[str, list[Window]] = {shape: [] for shape in SHAPES}
        for i in range(WINDOWS):
            ring = self._ring(i)
            for shape in SHAPES:
                self.windows[shape].append(Window(shape, "pts", ring, _box(ring)))
        ring = self._ring(1)
        self.poly_window = Window("extent", "polys", ring, _box(ring))

    def _ring(self, nth: int) -> np.ndarray:
        """The ``nth`` window: windows cycle through the selectivities and
        the large cities."""
        half = WINDOW_HALF_SIZES[nth % len(WINDOW_HALF_SIZES)]
        cx, cy = gen.city_point(self.rng, self.cities, nth % WINDOW_CITIES)
        return gen.convex_ring(self.rng, cx, cy, half, 8)

    def batch(self, k: int):
        """Ingest batch ``k`` (generated on first use, then reused): points,
        polygons and their landing files."""
        while len(self.batches) <= k:
            j = len(self.batches)
            s = self.sizes
            id0 = 10_000_000 * (j + 1)
            p = gen.make_points(self.rng, self.cities, s.batch_points, id0)
            g = gen.make_polygons(self.rng, self.cities, s.batch_polygons, s.radius, id0)
            d = os.path.join(self.work, "landing", f"batch{j}")
            os.makedirs(d, exist_ok=True)
            pp, gp = os.path.join(d, "points.parquet"), os.path.join(d, "polygons.parquet")
            nbytes = gen.write_points(pp, p) + gen.write_polygons(gp, g)
            self.batches.append((p, g, pp, gp, nbytes))
        return self.batches[k]

    # --- lake ---------------------------------------------------------------

    def write_lake(self, out: str, points_path: str, polygons_path: str) -> dict:
        """Parse the landing files with ST_* and write both lake tables.
        The parse is lazy: it runs inside the write jobs, so its time
        counts under the write spans (``enrich`` measures it alone)."""
        s, tr = self.sizes, self.tr
        pts = self.spark.read.parquet(points_path).select(
            "id", "v", ST.st_makepoint(F.col("lon"), F.col("lat")).alias("geom")
        )
        polys = self.spark.read.parquet(polygons_path).select("id", "v", ST.st_geomfromwkt(F.col("wkt")).alias("geom"))
        with tr.span("partitioning.write_spatially_partitioned"):
            write_spatially_partitioned(pts, os.path.join(out, "pts"), "geom", num_files=s.point_files)
        with tr.span("spatial_io.write_geoparquet"):
            write_geoparquet(polys, os.path.join(out, "polys"), n_files=s.polygon_files)
        return {
            "bytes": _dir_bytes(out),
            "files": len(_parquet_files(os.path.join(out, "pts"))),
        }

    def setup(self, rep: int) -> dict:
        lake = os.path.join(self.work, f"lake{rep}")
        info = self.write_lake(lake, *self.landing)
        pts = self.spark.read.parquet(os.path.join(lake, "pts"))
        polys = self.spark.read.parquet(os.path.join(lake, "polys"))
        pts.createOrReplaceTempView("pts")
        polys.createOrReplaceTempView("polys")
        polys.filter(F.col("id") < self.sizes.zones).createOrReplaceTempView("zones")
        if rep:
            shutil.rmtree(os.path.join(self.work, f"lake{rep - 1}"))
        self.lake = lake
        return info

    # --- operations ---------------------------------------------------------

    @contextmanager
    def timed(self):
        """Tag the Spark jobs of an operation's timed section as ``op``;
        checks and trace-only probes run as ``check``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(OP_GROUP, "timed operation")
        try:
            yield
        finally:
            sc.setJobGroup("check", "untimed work")

    def query(self, w: Window) -> Op:
        tr = self.tr
        t0 = time.perf_counter()
        with self.timed(), tr.span(f"op.{w.shape}", request=True):
            if w.shape == "api":
                with tr.span("pushdown.intersects_pushdown"):
                    df = intersects_pushdown(self.spark.table(w.table), w.wkt, geom_col="geom", bbox_col="bbox")
                    df = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            else:
                with tr.span("spatial_sql.spatial_sql"):
                    df = spatial_sql(self.spark, w.sql())
            plan_s = time.perf_counter() - t0
            with tr.span("spark.collect"):
                row = df.collect()[0]
        dt = time.perf_counter() - t0
        got = (int(row["n"]), int(row["s"] or 0))
        ok = got == self.window_answer(w)
        info = {"shape": w.shape, "n": got[0]}
        if tr.enabled:
            info.update(scan_stats(df), plan_s=plan_s, exec_s=dt - plan_s)
            info["table_rows"] = len(self.points) if w.table == "pts" else len(self.polys)
            if w.shape != "api":
                sql = w.sql()
                r0 = time.perf_counter()
                rewrite(sql)
                info["rewrite_s"] = time.perf_counter() - r0
        return Op("query", dt, ok, info)

    def window_answer(self, w: Window) -> tuple[int, int]:
        if w.table == "polys":
            return oracle.count_sum(oracle.boxes_overlap(self.poly_bounds, w.box), self.polys.v)
        p = self.points
        if w.shape == "extent":
            return oracle.count_sum(oracle.in_box(p.x, p.y, w.box), p.v)
        return oracle.count_sum(oracle.in_convex(p.x, p.y, w.ring), p.v)

    def _join_api(self, exact: bool = True):
        pts = self.spark.table("pts").select("geom")
        zones = self.spark.table("zones").select(F.col("id").alias("zid"), F.col("geom").alias("zgeom"))
        return spatial_join(pts, zones, left_geom="geom", right_geom="zgeom", exact=exact)

    def join(self) -> Op:
        tr = self.tr
        sql = (
            "SELECT z.id AS zid, count(*) AS n FROM pts p JOIN zones z "
            "ON ST_Intersects(p.geom, z.geom) GROUP BY z.id"
        )
        t0 = time.perf_counter()
        with self.timed(), tr.span("op.join", request=True):
            with tr.span("spatial_sql.spatial_sql"):
                df = spatial_sql(self.spark, sql)
            with tr.span("spark.collect"):
                got_sql = {int(r["zid"]): int(r["n"]) for r in df.collect()}
            t1 = time.perf_counter()
            with tr.span("spatial_join.spatial_join"):
                jdf = self._join_api()
                api = jdf.groupBy("zid").agg(F.count(F.lit(1)).alias("n"))
            with tr.span("spark.collect"):
                got_api = {int(r["zid"]): int(r["n"]) for r in api.collect()}
        t2 = time.perf_counter()
        ok = got_sql == self.zone_answer and got_api == self.zone_answer
        info = {"sql_s": t1 - t0, "api_s": t2 - t1, "pairs": sum(got_api.values())}
        if tr.enabled:
            info["exploded"] = generate_rows(api)
            info["join_input_rows"] = len(self.points) + int((self.polys.id < self.sizes.zones).sum())
            c0 = time.perf_counter()
            with tr.span("op.candidates", request=True):
                with tr.span("spatial_join.spatial_join"):
                    cdf = self._join_api(exact=False)
                with tr.span("spark.count"):
                    info["candidates"] = cdf.count()
            info["candidate_s"] = time.perf_counter() - c0
        return Op("join", t2 - t0, ok, info)

    def ingest(self, k: int) -> Op:
        p, g, pp, gp, nbytes = self.batch(k)
        out = os.path.join(self.work, f"ingest{k}")
        t0 = time.perf_counter()
        with self.timed(), self.tr.span("op.ingest", request=True):
            info = self.write_lake(out, pp, gp)
        dt = time.perf_counter() - t0
        ok = self.check_ingest(out, p, g)
        info.update(rows=len(p) + len(g), in_bytes=nbytes)
        shutil.rmtree(out)
        return Op("ingest", dt, ok, info)

    def check_ingest(self, out: str, p: gen.Points, g: gen.Polygons) -> bool:
        """Read-back row counts of both tables plus one window count."""
        n_pts = self.spark.read.parquet(os.path.join(out, "pts")).count()
        n_polys = self.spark.read.parquet(os.path.join(out, "polys")).count()
        c = len(p) // 2
        box = (p.x[c] - 0.1, p.y[c] - 0.1, p.x[c] + 0.1, p.y[c] + 0.1)
        n_win = read_spatial_parquet(self.spark, os.path.join(out, "pts"), bbox=box).count()
        return n_pts == len(p) and n_polys == len(g) and n_win == int(oracle.in_box(p.x, p.y, box).sum())

    # --- driver-side kernel probes (traced runs only) -------------------------

    def kernel_probes(self, n: int = 200) -> dict[str, float]:
        """Per-call cost of the geometry kernel on a sample of this run's
        generated geometries."""
        wkts = self.polys.wkt()[:n]
        t0 = time.perf_counter()
        geoms = [from_wkt(s) for s in wkts]
        t1 = time.perf_counter()
        for gm in geoms:
            from_wkb(to_wkb(gm)).bounds
        t2 = time.perf_counter()
        # bbox-confirmed candidates, as the join refines: half inside the
        # polygon (vertex mean), half at its bbox corner (outside)
        pts = []
        for i in range(len(geoms)):
            ring = self.polys.verts[i, : self.polys.nv[i]]
            pts.append(Point(ring.mean(0) if i % 2 else ring.min(0)))
        for pt in pts:
            from_wkb(to_wkb(pt)).bounds
        t3 = time.perf_counter()
        for pt, gm in zip(pts, geoms):
            alg.intersects(pt, gm)
        t4 = time.perf_counter()
        win = from_wkt(self.windows["geom"][0].wkt)
        reps = 5
        for _ in range(reps):
            alg.points_in_polygon_vec(self.points.x, self.points.y, win)
        t5 = time.perf_counter()
        return {
            "geom.wkt_parse_us": (t1 - t0) / len(geoms) * 1e6,
            "geom.wkb_roundtrip_us": (t2 - t1) / len(geoms) * 1e6,
            "geom.pip_pair_us": (t4 - t3) / len(geoms) * 1e6,
            "geom.pip_vec_ns_per_point": (t5 - t4) / (reps * len(self.points)) * 1e9,
            # kernel seconds for what enrich does to every landing row: parse
            # or build, encode to WKB, decode and take the bounds
            "kernel_s": (t2 - t0) / len(geoms) * len(self.polys) + (t3 - t2) / len(pts) * len(self.points),
        }

    def enrich(self) -> float:
        """The ST_* stage of the lake write alone, sent to a noop sink."""
        pts = self.spark.read.parquet(self.landing[0]).select(
            ST.st_makepoint(F.col("lon"), F.col("lat")).alias("geom")
        )
        polys = self.spark.read.parquet(self.landing[1]).select(ST.st_geomfromwkt(F.col("wkt")).alias("geom"))
        t0 = time.perf_counter()
        with self.tr.span("op.enrich", request=True):
            for df in (pts, polys):
                with self.tr.span("functions.enrich"):
                    out = df.select(
                        "geom",
                        F.call_function("st_extentfromgeom", F.col("geom")).alias("bbox"),
                        F.call_function("st_partitioncentroid", F.col("geom"), F.lit(6)).alias("z2"),
                    )
                    out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def file_bbox_overlap(self) -> float:
        """Sum of per-file bbox areas of the points lake ÷ the lake's bbox
        area, from the parquet footer statistics."""
        boxes = []
        for f in _parquet_files(os.path.join(self.lake, "pts")):
            md = pq.ParquetFile(f).metadata
            lo = [np.inf, np.inf]
            hi = [-np.inf, -np.inf]
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    name, st = col.path_in_schema, col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    if name in ("bbox.xmin", "bbox.ymin"):
                        k = 0 if name.endswith("xmin") else 1
                        lo[k] = min(lo[k], st.min)
                    elif name in ("bbox.xmax", "bbox.ymax"):
                        k = 0 if name.endswith("xmax") else 1
                        hi[k] = max(hi[k], st.max)
            boxes.append((lo[0], lo[1], hi[0], hi[1]))
        b = np.array(boxes)
        total = (b[:, 2].max() - b[:, 0].min()) * (b[:, 3].max() - b[:, 1].min())
        return float(((b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])).sum() / total)


# --- loops and metrics -----------------------------------------------------------


def _op(b: Bench, kind: str, i: int) -> Op:
    if kind == "query":
        # the shapes take turns on the same window
        ws = b.windows[SHAPES[i % len(SHAPES)]]
        return b.query(ws[i // len(SHAPES) % len(ws)])
    if kind == "join":
        return b.join()
    return b.ingest(i % 4)


# queries run in whole cycles: every shape on one window of each size. A
# query's time depends on the window size (the geom shape's exact test runs
# on every bbox candidate), so a part cycle would shift the medians.
QUERY_CYCLE = len(SHAPES) * len(WINDOW_HALF_SIZES)


def _loop(b: Bench, kind: str, deadline: float, start: int, min_ops: int) -> list[Op]:
    """Closed loop until ``deadline`` and at least ``min_ops`` operations;
    queries stop only after a whole cycle."""
    ops, i = [], start
    while len(ops) < min_ops or time.perf_counter() < deadline or (kind == "query" and len(ops) % QUERY_CYCLE):
        ops.append(_op(b, kind, i))
        i += 1
    return ops


MIN_OPS = {"query": QUERY_CYCLE, "join": 2, "ingest": 2}


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q))


def _warm(b: Bench, kind: str) -> list[Op]:
    """Untimed (but checked) first use of every path the loop takes."""
    if kind == "query":
        return [b.query(w) for w in (b.poly_window, *(b.windows[s][-1] for s in SHAPES))]
    # set-up already ran the ingest path three times
    return [b.join()] if kind == "join" else []


def _by_shape(ops: list[Op]) -> dict[str, list[float]]:
    return {s: [o.seconds for o in ops if o.info["shape"] == s] for s in SHAPES}


def p50_seconds(kind: str, ops: list[Op]) -> float:
    """The workload's ``p50_ms`` in seconds: the median operation, or for
    window queries the geometric mean of the three shapes' medians, so a
    change in any one shape moves it by the cube root of that change."""
    if kind != "query":
        return statistics.median(o.seconds for o in ops)
    return statistics.geometric_mean(statistics.median(xs) for xs in _by_shape(ops).values())


def run_workload(spark, workload: str, seed: int, seconds: float, trace: bool, work: str, jvm_pid: int,
                 cores: int, spans_path: str | None = None, sizes: Sizes | None = None) -> tuple[dict, list[str]]:
    """Run one workload; returns the result object and human-readable lines.
    A traced run writes its spans to ``spans_path``."""
    sizes = sizes or SIZES[workload]
    kind = WORKLOADS[workload]
    b = Bench(spark, seed, work, sizes, Tracer(False), cores)
    b.generate()
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        lake = b.setup(rep)
        setups.append(time.perf_counter() - t0)
    ops = _warm(b, kind)
    job0 = last_job_id(spark)
    if trace:
        untraced = _loop(b, kind, time.perf_counter() + seconds / 2, 0, MIN_OPS[kind])
        b.tr = Tracer(True)
        traced = _loop(b, kind, time.perf_counter() + seconds / 2, len(untraced), MIN_OPS[kind])
        loop_spans = len(b.tr.spans)
        measured = untraced + traced
    else:
        measured = _loop(b, kind, time.perf_counter() + seconds, 0, MIN_OPS[kind])
    counters = spark_counters(spark, job0)
    ops += measured
    lat = [o.seconds for o in measured]
    rss = peak_rss_mb(jvm_pid, cores)
    if kind == "ingest":
        in_bytes = sum(o.info["in_bytes"] for o in ops)
        out_bytes = sum(o.info["bytes"] for o in ops)
    else:
        in_bytes, out_bytes = b.input_bytes, lake["bytes"]
    metrics_e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "p50_ms": (p50_seconds(kind, measured) * 1e3, "ms"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "bytes_per_input_byte": (out_bytes / in_bytes, "ratio"),
    }
    lines = [f"workload={workload} seed={seed} sizes={sizes} input_bytes={b.input_bytes} ops={len(lat)}"]
    lines += [f"{k} = {v:.6g} {u}" for k, (v, u) in metrics_e2e.items()]
    lines += _named_lines(kind, measured)
    metrics = metrics_e2e
    if trace:
        selfs = _loop_self_seconds(b.tr, loop_spans)
        total = sum(selfs.values())
        lines.append("loop self-time share: " + ", ".join(
            f"{k} {v / total:.3f}" for k, v in sorted(selfs.items(), key=lambda kv: -kv[1])))
        tour = _tour(b, kind)
        ops += tour
        metrics = _layer_metrics(b, traced + tour, counters, len(lat), untraced, traced, selfs)
    failed = sum(1 for o in ops if not o.ok)
    lines.append(f"failed_frac = {failed / len(ops):.6g} fraction ({failed} of {len(ops)})")
    if trace and spans_path:
        b.tr.write(spans_path)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def _named_lines(kind: str, ops: list[Op]) -> list[str]:
    """The workload's own named metrics, for people reading the output."""
    if kind == "query":
        by = {s: [x * 1e3 for x in xs] for s, xs in _by_shape(ops).items()}
        out = [f"{s}_p50_ms = {statistics.median(ms):.6g} ms (n={len(ms)})" for s, ms in by.items()]
        if len(by["extent"]) >= 100:
            out.append(f"extent_p90_ms = {_pct(by['extent'], 90):.6g} ms (n={len(by['extent'])})")
        out.append(f"queries_per_s = {len(ops) / sum(o.seconds for o in ops):.6g} 1/s")
        return out
    if kind == "join":
        return [
            f"join_sql_s = {statistics.median(o.info['sql_s'] for o in ops):.6g} s (n={len(ops)})",
            f"join_api_s = {statistics.median(o.info['api_s'] for o in ops):.6g} s (n={len(ops)})",
        ]
    rows = sum(o.info["rows"] for o in ops)
    return [f"ingest_rows_per_s = {rows / sum(o.seconds for o in ops):.6g} 1/s (batches={len(ops)})"]


def _tour(b: Bench, kind: str) -> list[Op]:
    """One traced operation of each kind the workload does not loop on, so
    every per-layer metric is measured on every workload."""
    if kind == "query":
        return [b.join(), b.ingest(0)]
    return [b.query(b.windows[s][0]) for s in SHAPES] + ([b.ingest(0)] if kind == "join" else [b.join()])


# layers with spans in the measured loop; ``functions`` runs inside the
# write and query jobs, so it is measured apart (``functions.*``)
SELF_LAYERS = ("spatial_sql", "pushdown", "spatial_join", "partitioning", "spatial_io", "spark")


def _loop_self_seconds(tr: Tracer, n_spans: int) -> dict[str, float]:
    """Self seconds per layer over the traced loop's operations: the first
    ``n_spans`` spans, less the trace-only candidate probe."""
    spans = tr.spans[:n_spans]
    probe = {s["req"] for s in spans if s["name"] == "op.candidates"}
    selfs = self_seconds([s for s in spans if s["req"] not in probe])
    return {k: v for k, v in selfs.items() if k in SELF_LAYERS}


def _layer_metrics(b: Bench, ops: list[Op], counters: dict, n_loop: int, untraced: list[Op], traced: list[Op],
                   selfs: dict[str, float]) -> dict:
    m: dict[str, tuple[float, str]] = {}
    probes = b.kernel_probes()
    for k in ("geom.wkt_parse_us", "geom.wkb_roundtrip_us", "geom.pip_pair_us"):
        m[k] = (probes[k], "us")
    m["geom.pip_vec_ns_per_point"] = (probes["geom.pip_vec_ns_per_point"], "ns")
    enrich_s = b.enrich()
    m["functions.enrich_s"] = (enrich_s, "s")
    m["functions.udf_overhead_ratio"] = (enrich_s / (probes["kernel_s"] / b.cores), "ratio")

    queries = [o for o in ops if o.kind == "query"]
    sql_q = [o for o in queries if o.info["shape"] != "api"]
    m["spatial_sql.rewrite_ms"] = (statistics.mean(o.info["rewrite_s"] for o in sql_q) * 1e3, "ms")
    m["spatial_sql.plan_ms"] = (statistics.mean(o.info["plan_s"] for o in sql_q) * 1e3, "ms")
    for s in SHAPES:
        qs = [o for o in queries if o.info["shape"] == s]
        if s != "api":
            m[f"spatial_sql.pushdown_ratio.{s}"] = (sum(o.info["bbox_pushed"] for o in qs) / len(qs), "ratio")
        m[f"scan.rows_per_result.{s}"] = (
            sum(o.info["scan_rows"] for o in qs) / max(1, sum(o.info["n"] for o in qs)), "ratio")
        m[f"scan.rows_read_ratio.{s}"] = (
            sum(o.info["scan_rows"] for o in qs) / sum(o.info["table_rows"] for o in qs), "ratio")
        m[f"query.exec_ms.{s}"] = (statistics.median(o.info["exec_s"] for o in qs) * 1e3, "ms")

    joins = [o for o in ops if o.kind == "join"]
    cand = sum(o.info["candidates"] for o in joins)
    pairs = sum(o.info["pairs"] for o in joins)
    m["spatial_join.exploded_per_row"] = (
        sum(o.info["exploded"] for o in joins) / sum(o.info["join_input_rows"] for o in joins), "ratio")
    m["spatial_join.candidates"] = (cand / len(joins), "count")
    m["spatial_join.precision"] = (pairs / cand if cand else 0.0, "ratio")
    cand_s = statistics.mean(o.info["candidate_s"] for o in joins)
    m["spatial_join.candidate_s"] = (cand_s, "s")
    m["functions.refine_s"] = (statistics.mean(o.info["api_s"] for o in joins) - cand_s, "s")

    pw, npw = b.tr.total("partitioning.write_spatially_partitioned")
    gw, ngw = b.tr.total("spatial_io.write_geoparquet")
    m["partitioning.write_s"] = (pw / npw, "s")
    m["sources.geoparquet_write_s"] = (gw / ngw, "s")
    m["partitioning.files_written"] = (float(statistics.median(o.info["files"] for o in ops if o.kind == "ingest")), "count")
    m["partitioning.file_bbox_overlap"] = (b.file_bbox_overlap(), "ratio")

    m["spark.jobs"] = (counters["jobs"] / n_loop, "count")
    m["spark.tasks"] = (counters["tasks"] / n_loop, "count")
    m["spark.shuffle_write_mb"] = (counters["shuffle_write_bytes"] / n_loop / 2**20, "MB")
    m["trace.overhead_ms"] = (
        (statistics.median(o.seconds for o in traced) - statistics.median(o.seconds for o in untraced)) * 1e3, "ms")
    # per traced loop operation, so a faster layer does not show as more
    # self time in the others (the traced half has a fixed length)
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = (selfs.get(layer, 0.0) / len(traced) * 1e3, "ms/op")
    return m
