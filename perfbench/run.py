#!/usr/bin/env python3
"""Layered benchmark of the s2geo_spark pages -> tiles job and spatial queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

With ``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it measures untraced cycles, then installs the span wrappers
and measures traced cycles, and reports the per-layer metrics together
with the tracing overhead. Either way the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. A
per-run report (every operation with its host window, session settings,
tail percentile and sample count) and the spans are written under
``.perfbench_work/reports``.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import time

import host

MEASURED = ("query", "bucket", "resume")

END_TO_END_UNITS = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "contract.build_s": "s",
    "driver.jobs_per_op": "count",
    "driver.index_build_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_s": "s",
    "sources.geo_rows": "count",
    "spatial.term_rows": "count",
    "spatial.candidate_rows": "count",
    "spatial.kept_rows": "count",
    "spatial.keep_ratio": "ratio",
    "spatial.bcast_build_s": "s",
    "exchange.count": "count",
    "exchange.shuffle_bytes": "B",
    "exchange.shuffle_records": "count",
    "exchange.fetch_wait_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.total_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "python.rows_received": "count",
    "kernel.from_latlng_us": "us",
    "kernel.from_face_ij_us": "us",
    "kernel.contains_from_anchor_us": "us",
    "kernel.build_polygon_index_s": "s",
    "manifest.done_scan_s": "s",
    "manifest.bucket_s": "s",
    "manifest.jobs_per_bucket": "count",
    "write.files": "count",
    "write.bytes": "B",
    "streaming.run_s": "s",
    "self.contract_s": "s",
    "self.sources_s": "s",
    "self.spatial_s": "s",
    "self.functions_s": "s",
    "self.manifest_s": "s",
    "self.streaming_s": "s",
    "self.spark_s": "s",
    "trace.overhead_s": "s",
    "trace.spans_per_op": "count",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would fall under
    the median, so the maximum (p100) is reported instead."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        return v[n - 11], 100.0 * (n - 10) / n, n
    return v[-1], 100.0, n


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def end_to_end(wl, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """The gated metrics, and the figures printed beside them.

    A cycle is gated on its CPU seconds (driver, JVM and Python workers
    together), not on its wall time: on a shared host the wall time of the
    same cycle moves by a third from one minute to the next with the
    neighbours' load, its CPU seconds much less (see host.tree_cpu_s).
    Single operations are printed, not gated: the background work of the
    JVM (collection, compilation) falls into whichever operation runs next,
    so a small query's CPU seconds vary twofold.
    """
    ops = [o for o in wl.ops if o["kind"] in MEASURED and not o["traced"]]
    cycles = [c for c in wl.cycles if not c["traced"]]
    walls = [o["wall_s"] for o in ops]
    cpus = [o["cpu_s"] for o in ops]
    t_val, t_pct, t_n = tail(walls)
    cycle_cpu = _median(c["cpu_s"] for c in cycles)
    metrics = {
        "setup_s": setup_s,
        "cycle_cpu_s": cycle_cpu,
        "peak_rss_mb": peak_mb,
    }
    extra = {
        "cycle_s": _median(c["wall_s"] for c in cycles),
        "op_p50_s": _median(walls),
        "op_tail_s": t_val,
        "op_cpu_p50_s": _median(cpus),
        "op_cpu_tail_s": tail(cpus)[0],
        "op_tail_percentile": t_pct,
        "op_samples": t_n,
        "cycles": len(cycles),
    }
    if wl.name == "tiles_manifest":
        extra["pages_per_s"] = _median(c["rows"] / c["wall_s"] for c in cycles)
        extra["out_bytes_per_page"] = _median(
            (c["out_bytes"] + c["manifest_bytes"]) / c["rows"] for c in cycles
        )
    return metrics, extra


def per_layer(wl, tracer, kernel: dict, traced_wall: float, untraced_wall: float) -> dict:
    lo = wl.layer_ops
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for k in PER_LAYER_UNITS:
        if lo and k in lo[0]:
            out[k] = _mean(m[k] for m in lo)
    cand = sum(m["spatial.candidate_rows"] for m in lo)
    out["spatial.keep_ratio"] = sum(m["spatial.kept_rows"] for m in lo) / cand if cand else 0.0
    traced_ops = [o for o in wl.ops if o["traced"] and o["kind"] in MEASURED]
    out["contract.build_s"] = _mean(o["build_s"] for o in traced_ops if "build_s" in o)
    out["driver.index_build_s"] = wl.index_build_s()
    out.update({k: v for k, v in kernel.items() if k in PER_LAYER_UNITS})
    spans = tracer.spans
    dur = lambda name: [s["end"] - s["start"] for s in spans if s["name"] == name]  # noqa: E731
    buckets = [m for m in lo if m["kind"] == "bucket"]
    out["manifest.done_scan_s"] = _mean(dur("manifest.done_partitions"))
    out["manifest.bucket_s"] = _mean(m["wall_s"] for m in buckets)
    out["manifest.jobs_per_bucket"] = _mean(m["driver.jobs_per_op"] for m in buckets)
    traced_cycles = [c for c in wl.cycles if c["traced"]]
    out["write.files"] = _mean(c.get("out_files", 0) for c in traced_cycles)
    out["write.bytes"] = _mean(c.get("out_bytes", 0) for c in traced_cycles)
    out["streaming.run_s"] = _mean(dur("streaming.run_to_memory"))
    n_ops = max(1, len(traced_ops))
    selfs = tracer.self_times()
    for layer in ("contract", "sources", "spatial", "functions", "manifest", "streaming", "spark"):
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n_ops
    out["trace.overhead_s"] = traced_wall - untraced_wall
    out["trace.spans_per_op"] = len(spans) / n_ops
    return out


def shutdown(spark) -> None:
    """Stop Spark, close the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while len(host.process_tree()) > 1 and time.time() < deadline:
            time.sleep(0.2)
        for pid in host.process_tree()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        while len(host.process_tree()) > 1 and time.time() < deadline + 10:
            time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(host.ROOT, "s2geo_spark")):
        print(f"s2geo_spark package not found under {host.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, host.ROOT)

    import kernelbench
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    host.prepare_env()
    work = os.path.join(host.WORK, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    reports = os.path.join(host.WORK, "reports")
    os.makedirs(reports, exist_ok=True)

    phases = {}
    t = time.perf_counter()
    # NumPy seeds must be non-negative: fold any int into 64 bits
    wl = workloads.WORKLOADS[args.workload](args.seed & ((1 << 64) - 1), work)
    # generated before the session starts, in a child process, so the
    # generator's memory does not count in the driver's resident set
    gen = multiprocessing.get_context("fork").Process(target=wl.prepare_inputs)
    gen.start()
    gen.join()
    if gen.exitcode != 0:
        print(f"input generation failed (exit code {gen.exitcode})", file=sys.stderr)
        return 2
    wl.prepare_inputs()  # cached now: only sets the input paths
    phases["inputs_s"] = time.perf_counter() - t

    spark = None
    try:
        with host.RssSampler() as rss:
            t_session0 = time.perf_counter()
            spark = host.start_spark()
            setup_s = wl.setup(spark, t_session0)
            t = time.perf_counter()
            wl.measure(args.seconds, traced=False)
            phases["measure_s"] = time.perf_counter() - t
        layer = None
        tracer = None
        if args.trace:
            kern = kernelbench.originals()
            tracer = spans.Tracer()
            wl.tracer = tracer
            wl.harvest = spans.PlanHarvest(spark)
            tracer.install()
            try:
                wl.measure(args.seconds, traced=True)
            finally:
                tracer.uninstall()
                wl.tracer = None
                wl.harvest = None
            # untraced cycles on both sides of the traced ones, so the
            # session's warm-up trend does not pass for tracing overhead
            wl.measure(args.seconds, traced=False)
            traced_wall = _median(c["wall_s"] for c in wl.cycles if c["traced"])
            untraced_wall = _median(c["wall_s"] for c in wl.cycles if not c["traced"])
            lat, lon = wl.kernel_points()
            with tracer.span("kernel.microbench"):
                kernel = kernelbench.run(lat, lon, kern)
            layer = per_layer(wl, tracer, kernel, traced_wall, untraced_wall)
        t = time.perf_counter()
        wl.check()
        phases["check_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        if spark is not None:
            shutdown(spark)
        phases["shutdown_s"] = time.perf_counter() - t

    metrics, extra = end_to_end(wl, setup_s, rss.peak_mb)
    attempted = len(wl.ops)
    failed_ops = sum(1 for o in wl.ops if not o["ok"])
    failed = max(failed_ops, min(attempted, len(wl.failures)))
    extra["ops_failed_frac"] = failed / attempted
    extra["noisy_ops"] = sum(1 for o in wl.ops if o.get("noisy"))
    extra["median_steal_pct"] = _median(o["steal_pct"] for o in wl.ops)
    extra["rss_at_peak"] = rss.at_peak

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": host.session_settings(),
        "host": {"nproc": host.nproc(), "mem_mb": host.phys_mem_mb()},
        "end_to_end": metrics,
        "extra": extra,
        "phases": phases,
        "per_layer": layer,
        "failures": wl.failures,
        "ops": wl.ops,
        "cycles": [{k: v for k, v in c.items() if not k.endswith("_ops")} for c in wl.cycles],
    }
    stem = f"{args.workload}_s{args.seed}_t{args.trace}"
    with open(os.path.join(reports, stem + ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(os.path.join(reports, stem + "_spans.json"))

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# settings {json.dumps(host.session_settings(), sort_keys=True)}")
    for k, v in metrics.items():
        print(f"{k:<22} {v:>14.4f} {END_TO_END_UNITS[k]}")
    for k in ("cycle_s", "op_p50_s", "op_tail_s", "op_cpu_p50_s", "op_cpu_tail_s"):
        print(f"{k:<22} {extra[k]:>14.4f} s (not gated)")
    if "pages_per_s" in extra:
        print(f"{'pages_per_s':<22} {extra['pages_per_s']:>14.4f} 1/s")
        print(f"{'out_bytes_per_page':<22} {extra['out_bytes_per_page']:>14.4f} B/page")
    print(f"{'ops_failed_frac':<22} {extra['ops_failed_frac']:>14.4f} ratio")
    print(f"# op_tail_s is p{extra['op_tail_percentile']:.1f} of {extra['op_samples']} ops; "
          f"{extra['noisy_ops']} noisy op windows; median steal {extra['median_steal_pct']:.2f}%")
    if layer is not None:
        for k, v in layer.items():
            print(f"{k:<32} {v:>16.6f} {PER_LAYER_UNITS[k]}")
        print(f"# kernel.from_latlng_us {layer['kernel.from_latlng_us']:.4f} vs C++ "
              f"S2CellId::FromLatLng {kernelbench.CPP_FROM_LATLNG_US} us/op")
    for why in wl.failures:
        print(f"# FAILED CHECK: {why}")

    shown = layer if args.trace else metrics
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
