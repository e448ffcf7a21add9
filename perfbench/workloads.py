"""The benchmark workloads. Each is a closed loop with a single client.

A workload has three phases, all in one Spark session:

* ``setup``   — from session start to the end of the first completed
  operation (``setup_s``);
* ``measure`` — whole cycles of operations until ``seconds`` have passed;
  every operation is timed and carries its host window (steal%, load);
* ``check``   — outside any timer: compares the outputs with DuckDB.

The program is reached only through public functions: ``contract.queries()``
and ``oracle_sql()``, ``spatial.build_index_df`` / ``localize_index`` /
``contains_join_indexed``, ``sources.pages.extract_geo``,
``functions.tile_assign``, ``plans.manifest.ManifestedRun`` and ``kernel``.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import host
import inputs

# The spatial contract queries of the mix. s2_pip_large, s2_union_algebra,
# s2_boolean_counts, s2_edge_crossings and s2_hausdorff are left out: their
# first (cold) executions add about 35 s to every run on a 4-CPU host, more
# than the per-run time budget allows.
MIX = [
    "s2_pip_join",
    "s2_cap_join",
    "s2_knn",
    "s2_quad_counts",
    "h3_tile_counts",
    "s2_stream_tiles",
]
# 1.6M pages in 3 buckets. On a 4-CPU host a bucket costs about 1.6 s of
# fixed work (its Spark jobs) plus about 2.1 us per page (scan, geo
# extract, term join, residual, write), so the per-page work is about 40%
# of the cycle; more pages would not fit the run-time budget, and fewer
# buckets would leave too few operations for a steady median. Set-up runs
# one small extra bucket of the same row stream, so setup_s holds the cold
# costs and not the data volume.
PAGES_N = 1_600_000
BUCKETS = 3
WARMUP_N = 50_000
REMOVED = 1  # buckets removed before each resume


class Op:
    """One timed operation with its host window."""

    def __init__(self, name: str, kind: str, traced: bool):
        self.rec = {"name": name, "kind": kind, "traced": traced, "ok": True}
        self._win = host.HostWindow()
        self.t0 = self._win.t0

    def done(self) -> dict:
        self.rec["wall_s"] = time.perf_counter() - self.t0
        self.rec.update(self._win.close())
        return self.rec


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.ops: list[dict] = []
        self.cycles: list[dict] = []
        self.failures: list[str] = []
        self.tracer = None
        self.harvest = None
        self.layer_ops: list[dict] = []  # per traced op: plan-derived counters

    # -- tracing hooks ---------------------------------------------------
    def _op_begin(self, op_id: str, desc: str):
        if self.tracer is not None:
            self.tracer.op_id = op_id
            self.spark.sparkContext.setJobGroup(op_id, desc)

    def _op_end(self, op_id: str, rec: dict, nodes):
        if self.tracer is None:
            return
        from spans import layer_metrics

        m = layer_metrics(nodes)
        m["driver.jobs_per_op"] = float(
            len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(op_id))
        )
        m["kind"] = rec["kind"]
        m["wall_s"] = rec["wall_s"]
        self.layer_ops.append(m)

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def fail(self, what: str) -> None:
        self.failures.append(what)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

class QueryMix(Workload):
    name = "query_mix"

    def prepare_inputs(self):
        self.sf_dir = inputs.sf_tables(self.seed)

    def setup(self, spark, t_session0: float) -> float:
        """Warm-up cycle in listed order; each result is kept for the
        check. setup_s ends with the first query."""
        from s2geo_spark import contract

        self.spark = spark
        self.queries = contract.queries()
        self.results = {}
        setup_s = None
        for name in MIX:
            op = Op(name, "warmup", False)
            try:
                self.results[name] = self.queries[name](spark, self.sf_dir).toPandas()
            except Exception as e:  # a failing query is a failed op, not a crash
                op.rec["ok"] = False
                op.rec["error"] = repr(e)[:300]
            self.ops.append(op.done())
            if setup_s is None:
                setup_s = time.perf_counter() - t_session0
        return setup_s

    def measure(self, seconds: float, traced: bool) -> None:
        rng = random.Random(self.seed * 1009 + traced)
        t_end = time.perf_counter() + seconds
        while True:
            order = list(MIX)
            rng.shuffle(order)
            c0, cpu0 = time.perf_counter(), host.tree_cpu_s()
            for name in order:
                op_id = f"{self.name}-{len(self.ops)}"
                self._op_begin(op_id, name)
                op = Op(name, "query", traced)
                try:
                    with self._span("contract." + name):
                        df = self.queries[name](self.spark, self.sf_dir)
                    op.rec["build_s"] = time.perf_counter() - op.t0
                    with self._span("spark.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    op.rec["ok"] = False
                    op.rec["error"] = repr(e)[:300]
                rec = op.done()
                self.ops.append(rec)
                if self.tracer is not None:
                    self._op_end(op_id, rec, self.harvest.collect())
            self.cycles.append({
                "wall_s": time.perf_counter() - c0,
                "cpu_s": host.tree_cpu_s() - cpu0,
                "traced": traced,
            })
            if time.perf_counter() >= t_end:
                break

    def check(self) -> None:
        from s2geo_spark import contract

        oracle = checks.SfOracle(self.sf_dir, inputs.SF_ROWS)
        sql = contract.oracle_sql()
        warm = {r["name"]: r for r in self.ops if r["kind"] == "warmup"}
        for name in MIX:
            if name not in self.results:
                continue
            why = oracle.check(sql[name], self.results[name])
            if why is not None:
                warm[name]["ok"] = False
                warm[name]["error"] = f"oracle mismatch: {why}"
                self.fail(f"{name}: {why}")

    def kernel_points(self):
        import pyarrow.parquet as pq
        from s2geo_spark.sources import geo

        keys = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"), columns=["o_orderkey"])
        return geo.lat_lon_values(keys.column(0).to_numpy())

    def index_build_s(self) -> float:
        from s2geo_spark.operators import spatial
        from s2geo_spark.sources import fixtures as fx

        t0 = time.perf_counter()
        polys = spatial.polygons_to_df(self.spark, fx.pip_loops())
        spatial.localize_index(self.spark, spatial.build_index_df(polys))
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# tiles_manifest
# ---------------------------------------------------------------------------

def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class TilesManifest(Workload):
    name = "tiles_manifest"

    def prepare_inputs(self):
        self.pages_dir = inputs.pages(self.seed, PAGES_N, BUCKETS)
        self.warmup_dir = inputs.pages(self.seed, WARMUP_N, 1, first=PAGES_N)
        self.keys = [f"bucket={b}" for b in range(BUCKETS)]

    def _tiles(self, df, index):
        """pages -> geo extract -> containment join -> tile assignment."""
        from pyspark.sql import functions as F

        from s2geo_spark import functions as sfn
        from s2geo_spark.operators import spatial
        from s2geo_spark.sources import fixtures as fx
        from s2geo_spark.sources import pages as pages_src

        geo = pages_src.extract_geo(df).filter(F.col("lat").isNotNull())
        pts = geo.select(F.col("url").alias("point_id"), "lat", "lon")
        joined = spatial.contains_join_indexed(pts, index, emit_cell=True)
        return joined.withColumn("tile", sfn.tile_assign("cell", fx.TILE_LEVEL)).select(
            F.col("point_id").alias("url"), "polygon_id", "cell", "tile"
        )

    def _run(self, run, kind: str, traced: bool) -> tuple[dict, list[dict]]:
        """One ManifestedRun.run over every key; a bucket's operation runs
        from its load to the next bucket's load (or the run's return)."""
        marks: list = []

        def load(key):
            self._mark(marks, key, kind, traced)
            return self.spark.read.parquet(os.path.join(self.pages_dir, key))

        processed = run.run(self.keys, load, lambda df: self._tiles(df, self.index_df))
        self._mark(marks, None, kind, traced)
        return processed, marks

    def _mark(self, marks: list, key, kind: str, traced: bool) -> None:
        now_id = self.harvest.mark() if self.harvest is not None else None
        if marks:
            op_id, op, start_id = marks[-1]["op_id"], marks[-1]["op"], marks[-1]["exec_id"]
            rec = op.done()
            self.ops.append(rec)
            if self.tracer is not None:
                self._op_end(op_id, rec, self.harvest.nodes(start_id, now_id))
        if key is not None:
            op_id = f"{self.name}-{len(self.ops)}"
            self._op_begin(op_id, key)
            marks.append({"op_id": op_id, "op": Op(key, kind, traced), "exec_id": now_id})

    def setup(self, spark, t_session0: float) -> float:
        from s2geo_spark.operators import spatial
        from s2geo_spark.plans import manifest as mani
        from s2geo_spark.sources import fixtures as fx

        self.spark = spark
        t0 = time.perf_counter()
        polys = spatial.polygons_to_df(spark, fx.pip_loops())
        self.index_df = spatial.build_index_df(polys).persist()
        self.index_df.count()
        self.index_s = time.perf_counter() - t0
        run = mani.ManifestedRun(
            spark, os.path.join(self.work, "setup_manifest"), os.path.join(self.work, "setup_out")
        )
        op = Op("warmup", "warmup", False)
        run.run(
            ["bucket=0"],
            lambda k: spark.read.parquet(os.path.join(self.warmup_dir, k)),
            lambda df: self._tiles(df, self.index_df),
        )
        self.ops.append(op.done())
        return time.perf_counter() - t_session0

    def _remove(self, man: str, out: str, removed: list[str]) -> None:
        """Drop the removed buckets' outputs and manifest rows. Every
        manifest append is its own file, so removal is file deletion."""
        import pyarrow.parquet as pq

        for name in os.listdir(man):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(man, name)
            keys = set(pq.read_table(path, columns=["partition_key"]).column(0).to_pylist())
            if keys and keys <= set(removed):
                os.remove(path)
            elif keys & set(removed):
                raise RuntimeError(f"manifest file {name} mixes removed and kept buckets")
        for key in removed:
            shutil.rmtree(os.path.join(out, key))

    def measure(self, seconds: float, traced: bool) -> None:
        from s2geo_spark.plans import manifest as mani

        rng = random.Random(self.seed * 1013 + traced)
        t_end = time.perf_counter() + seconds
        while True:
            c = len(self.cycles)
            man = os.path.join(self.work, f"manifest_{c}")
            out = os.path.join(self.work, f"out_{c}")
            run = mani.ManifestedRun(self.spark, man, out)
            cyc = {"traced": traced, "man": man, "out": out, "rows": PAGES_N}
            c0, cpu0 = time.perf_counter(), host.tree_cpu_s()
            first, marks = self._run(run, "bucket", traced)
            cyc["wall_s"] = time.perf_counter() - c0
            cyc["cpu_s"] = host.tree_cpu_s() - cpu0
            cyc["full_ops"] = [m["op"].rec for m in marks]
            files, size = _dir_bytes(out)
            _, msize = _dir_bytes(man)
            cyc.update(out_files=files, out_bytes=size, manifest_bytes=msize)
            removed = sorted(rng.sample(self.keys, REMOVED))
            self._remove(man, out, removed)
            r0 = time.perf_counter()
            resumed, marks = self._run(run, "resume", traced)
            cyc["resume_s"] = time.perf_counter() - r0
            cyc["resume_ops"] = [m["op"].rec for m in marks]
            cyc.update(first=first, removed=removed, resumed=resumed)
            self.cycles.append(cyc)
            if time.perf_counter() >= t_end:
                break

    def check(self) -> None:
        import pandas as pd
        import pyarrow.parquet as pq

        from s2geo_spark.operators import spatial
        from s2geo_spark.sources import fixtures as fx

        # the flagship (localized index) over all pages is the reference
        # set; DuckDB computes the oracle meanwhile, both outside any timer
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(checks.pages_oracle, self.pages_dir, fx.TILE_LEVEL)
            local = spatial.localize_index(self.spark, self.index_df)
            flag = self._tiles(self.spark.read.parquet(self.pages_dir), local).toPandas()
            oj, orollup = oracle.result()
        key = ["url", "polygon_id"]
        why = checks.same_multiset(
            flag[key], oj.rename(columns={"point_id": "url"})[key]
        )
        if why:
            self.fail(f"flagship vs oracle joined rows: {why}")
        why = checks.same_multiset(checks.tiles_rollup(flag, fx.TILE_LEVEL), orollup)
        if why:
            self.fail(f"flagship vs oracle tile rollup: {why}")
        cols = ["url", "polygon_id", "cell", "tile"]
        for c, cyc in enumerate(self.cycles):
            parts = [
                pq.read_table(os.path.join(cyc["out"], k)).to_pandas()[cols] for k in self.keys
            ]
            union = pd.concat(parts, ignore_index=True)
            why = checks.same_multiset(union, flag[cols])
            if why:
                self.fail(f"cycle {c}: bucket union vs flagship: {why}")
                for r in cyc["full_ops"] + cyc["resume_ops"]:
                    r["ok"] = False
            if sorted(cyc["resumed"]) != cyc["removed"] or any(
                cyc["resumed"][k] != cyc["first"][k] for k in cyc["resumed"]
            ):
                self.fail(
                    f"cycle {c}: resume processed {sorted(cyc['resumed'])}, removed {cyc['removed']}"
                )
                for r in cyc["resume_ops"]:
                    r["ok"] = False

    def kernel_points(self):
        lat, lon, has_geo = inputs.page_points(self.seed, PAGES_N)
        return lat[has_geo], lon[has_geo]

    def index_build_s(self) -> float:
        return self.index_s


WORKLOADS = {w.name: w for w in (QueryMix, TilesManifest)}
