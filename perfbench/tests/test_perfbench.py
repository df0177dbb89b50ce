"""Toy-size tests of the benchmark itself.

    python -m pytest perfbench/tests -q

Each workload runs at ``TOY`` size in a few seconds; the tests check that
every metric named in BENCHMARK.json comes out with its unit, that the
oracles agree with brute force, and that a deliberately wrong engine
result is counted as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    from geomesa_hive_spark import register_all

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    register_all(s)
    yield s
    s.stop()


def _run(spark, tmp_path, workload, trace, seed=7):
    from workloads import TOY, run_workload

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return run_workload(
        spark, workload, seed, 1.0, trace, str(tmp_path), jvm_pid, 2,
        spans_path=str(tmp_path / "spans.jsonl"), sizes=TOY,
    )


def _check_metrics(result, spec_key):
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], float) and np.isfinite(v["value"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_end_to_end_metrics(spark, tmp_path, workload):
    result, lines = _run(spark, tmp_path, workload, trace=False)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    _check_metrics(result, "end_to_end")
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0
    assert any(line.startswith("failed_frac = 0 ") for line in lines)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_traced_per_layer_metrics(spark, tmp_path, workload):
    result, _ = _run(spark, tmp_path, workload, trace=True)
    assert result["correct"]
    _check_metrics(result, "per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spatial_sql.pushdown_ratio.extent"] == 1.0
    assert 0.0 <= m["spatial_join.precision"] <= 1.0
    spans = [json.loads(line) for line in open(tmp_path / "spans.jsonl")]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            assert by_id[s["parent"]]["req"] == s["req"]


def test_wrong_engine_result_is_counted_as_failed(spark, tmp_path, monkeypatch):
    import workloads
    from pyspark.sql import functions as F

    real = workloads.spatial_sql

    def off_by_one(spark_, sql):
        # wrong on the geom shape only
        df = real(spark_, sql)
        return df.withColumn("n", F.col("n") + 1) if "ST_Intersects(geom," in sql else df

    monkeypatch.setattr(workloads, "spatial_sql", off_by_one)
    result, lines = _run(spark, tmp_path, "window_query", trace=False)
    assert not result["correct"]
    assert 0 < result["failed"] < result["attempted"]
    assert not any(line.startswith("failed_frac = 0 ") for line in lines)


def test_workload_names_agree():
    import run
    import workloads

    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS) == list(workloads.WORKLOADS)


@pytest.mark.parametrize("shape", ["extent", "geom"])
def test_timed_rewrite_is_the_chain_spatial_sql_runs(shape):
    """``spatial_sql.rewrite_ms`` times ``workloads.rewrite``; it must stay
    the string ``spatial_sql`` hands to Spark first."""
    import workloads

    class Capture:
        def __init__(self):
            self.seen = []

        def sql(self, text):
            self.seen.append(text)

    ring = gen.convex_ring(np.random.default_rng(1), 0.0, 0.0, 0.1, 8)
    box = (float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max()))
    join = "SELECT z.id AS zid, count(*) AS n FROM pts p JOIN zones z ON ST_Intersects(p.geom, z.geom) GROUP BY z.id"
    for sql in (workloads.Window(shape, "pts", ring, box).sql(), join):
        cap = Capture()
        workloads.spatial_sql(cap, sql)
        assert cap.seen[0] == workloads.rewrite(sql) != sql


def test_in_convex_matches_kernel():
    from geomesa_hive_spark.geom import algorithms as alg
    from geomesa_hive_spark.geom.core import Polygon

    rng = np.random.default_rng(3)
    for _ in range(20):
        ring = gen.convex_ring(rng, 0.0, 0.0, rng.uniform(0.1, 2.0), int(rng.integers(5, 13)))
        x, y = rng.uniform(-2, 2, 500), rng.uniform(-2, 2, 500)
        poly = Polygon(np.vstack([ring, ring[:1]]))
        assert (oracle.in_convex(x, y, ring) == alg.points_in_polygon_vec(x, y, poly)).all()


def test_zone_counts_match_brute_force():
    rng = np.random.default_rng(5)
    cities = gen.make_cities(rng, 5)
    p = gen.make_points(rng, cities, 3000)
    g = gen.make_polygons(rng, cities, 40, (0.05, 0.5))
    got = oracle.zone_counts(p.x, p.y, g.verts, g.nv, g.id)
    want = {}
    for i in range(len(g)):
        n = int(oracle.in_convex(p.x, p.y, g.verts[i, : g.nv[i]]).sum())
        if n:
            want[int(g.id[i])] = n
    assert got == want and want


def test_generator_is_seeded(tmp_path):
    a = gen.make_polygons(np.random.default_rng(9), gen.make_cities(np.random.default_rng(9)), 30)
    b = gen.make_polygons(np.random.default_rng(9), gen.make_cities(np.random.default_rng(9)), 30)
    assert a.wkt() == b.wkt()
    assert gen.write_polygons(str(tmp_path / "a.parquet"), a) == gen.write_polygons(str(tmp_path / "b.parquet"), b)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "z2_ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
