"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_append --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  Prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402

WORKLOADS = ("serve_append", "driver_suite")
# CPU time of the process tree for set-up and work: on a shared VM the host
# steals 5-30 % of the cores from minute to minute, which moved the
# wall-clock medians of identical runs by 30-60 % (IQR/median) while the CPU
# seconds of the same runs moved by 3-19 %.  Wall times, also with the
# stolen share taken off, stay in the trace: on driver_suite even the
# latter moved by 28 %, more than any allowed bound.
END_TO_END = {"setup_s": "s", "work_cpu_s": "s", "op_cpu_ms": "ms"}
REQUEST_TYPES = ("bbox_page", "filtered_page", "keyset_page", "sortby_keyset_page",
                 "tm35fin_page", "intersects_page", "large_page", "hits_all",
                 "hits_bbox", "get_feature")
OPERATOR_MODULES = ("dedup", "similarity", "text", "sketch", "spatial", "temporal",
                    "tiling", "maintenance")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit (the same set for each workload;
    a layer a workload does not exercise reports 0)."""
    u = {"plans.ingest.fused_s": "s"}
    u.update({f"kernels.{k}": "ns" for k in (
        "cells.hex_cell_ns", "geom.grid_assign_ns", "geom.points_in_polygon_ns",
        "crs.tm35fin_ns")})
    t = "sources.table."
    u.update({t + "write_s": "s", t + "build_manifest_s": "s", t + "write_jobs": "count",
              t + "data_files": "count", t + "manifest_bytes": "bytes",
              t + "bytes_written_per_row": "bytes", t + "compact_s": "s",
              t + "compact_rewrite_bytes": "bytes", t + "ingest_rows_per_s": "rows/s",
              t + "append_rows_per_s": "rows/s", t + "read_table_ms": "ms",
              t + "read_table_jobs": "count", t + "manifest_ms": "ms",
              t + "manifest_calls_per_request": "count", t + "bbox_count_ms": "ms",
              t + "bloom_candidates_per_get": "count", t + "bloom_precision": "ratio"})
    a = "api.features."
    u.update({a + "items_ms": "ms", a + "feature_collection_ms": "ms",
              a + "get_feature_ms": "ms", a + "build_jobs_per_request": "count",
              a + "run_jobs_per_request": "count", a + "response_bytes": "bytes",
              a + "page_p50_ms": "ms", a + "lookup_p50_ms": "ms", a + "serve_rps": "1/s",
              a + "repeat_share": "ratio"})
    u.update({f"{a}{k}_p50_ms": "ms" for k in REQUEST_TYPES})
    u.update({"spark.jobs": "count", "spark.tasks": "count", "spark.task_wait_s": "s",
              "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
              "spark.python_udf_s": "s", "spark.python_bytes": "bytes",
              "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
              "spark.scan_files": "count", "spark.scan_bytes": "bytes",
              "spark.session_start_s": "s"})
    d = "driver_suite."
    u.update({d + "build_s": "s", d + "run_s": "s", d + "build_jobs": "count",
              d + "run_jobs": "count", d + "persisted_rdds_left": "count"})
    u.update({f"operators.{m}_s": "s" for m in OPERATOR_MODULES})
    u.update({"plans.curation_s": "s", "host.alu_ops_per_s": "1/s",
              "trace.overhead_frac": "ratio", "bench.failed_frac": "ratio",
              "bench.setup_wall_s": "s", "bench.steal_frac": "ratio",
              "bench.op_wall_adj_ms": "ms", "bench.work_s": "s", "bench.op_p50_ms": "ms",
              "bench.op_tail_ms": "ms", "bench.tail_pct": "pct", "bench.tail_samples": "count"})
    return u


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it:
    (value, percentile, samples beyond).  With fewer than eleven samples
    the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, 0
    k = n - 10                      # xs[k - 1] has exactly 10 samples above
    return xs[k - 1], round(100.0 * k / n, 1), n - k


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_op(wl, key: str) -> float:
    """Mean milliseconds of ``key`` per operation: per read on serve_append
    (the append and the compaction left out), per leaf on driver_suite.
    The mean, not the median: the operations mix types in fixed counts, and
    the median of that mixture jumped between types from seed to seed."""
    return statistics.mean(e[key] for e in wl.reads()) * 1e3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not env.program_present():
        print(f"perfbench: no {env.PKG}/ in {env.ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    work = env.prepare_work()
    try:
        result = run(args, work)
    finally:
        env.cleanup()
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    import trace as tracing
    traced = bool(args.trace)
    spark, session_s = env.start_spark(event_log=traced)
    try:
        tracer = tracing.Tracer(spark, args.workload, traced)
        if args.workload == "serve_append":
            from serve_append import ServeAppend as W
        else:
            from driver_suite import DriverSuite as W
        t_in = time.perf_counter()
        wl = W(spark, tracer, args.seed, work)
        t_warm = time.perf_counter()
        wl.warm_up()
        t_in, t_warm = t_warm - t_in, time.perf_counter() - t_warm
        if traced:
            install_wrappers(tracer, wl)
        setup_wall_s = time.perf_counter() - T_START
        # CPU seconds of the whole process tree since it started
        setup_cpu_s = env.tree_cpu_s()
        steal0 = env.host_ticks()

        # the window: whole units while the next one fits, at least one
        t0 = time.perf_counter()
        busy = []
        while True:
            busy.append(wl.run_unit())
            elapsed = time.perf_counter() - t0
            if elapsed + elapsed / len(busy) > args.seconds:
                break
        window_s = time.perf_counter() - t0
        steal1 = env.host_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        attempted = len(wl.log)
        failed = sum(not e["ok"] for e in wl.log)
        if traced:
            tracer.unwrap()
            # a failed operation misses the tail: it counts as the whole window
            lat = [e["s"] * 1e3 if e["ok"] else window_s * 1e3 for e in wl.reads()]
            tail_ms, tail_pct, tail_n = tail(lat)
            extra = {"bench.failed_frac": failed / attempted,
                     "bench.work_s": median(busy), "bench.op_p50_ms": median(lat),
                     "bench.op_tail_ms": tail_ms,
                     "bench.tail_pct": tail_pct, "bench.tail_samples": tail_n,
                     "bench.setup_wall_s": setup_wall_s, "bench.steal_frac": steal,
                     "bench.op_wall_adj_ms": per_op(wl, "adj_s"),
                     "spark.session_start_s": session_s,
                     "trace.overhead_frac": tracer.bookkeeping_s / window_s}
            metrics, units = layer_metrics(spark, tracer, wl, extra), per_layer_units()
        else:
            cpu = [sum(e["cpu_s"] for e in wl.log if e["unit"] == u) for u in range(wl.units)]
            metrics = {"setup_s": setup_cpu_s, "work_cpu_s": median(cpu),
                       "op_cpu_ms": per_op(wl, "cpu_s")}
            units = END_TO_END
        report(args, wl, "setup %.1f s, %.1f CPU s (session %.1f, inputs %.1f, warm-up "
               "%.1f), window %.1f s, %d unit(s), steal %.3f"
               % (setup_wall_s, setup_cpu_s, session_s, t_in, t_warm, window_s,
                  len(busy), steal))
    finally:
        env.stop(spark)
    if traced:
        metrics.update(engine_metrics(tracing.parse_event_log(os.path.join(work, "events")),
                                      getattr(wl, "ctx", {"units": wl.units})))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": unit}
                        for k, unit in units.items()}}


def report(args, wl, head: str) -> None:
    """Per-operation log to .perfbench_out/, a summary and failures to stderr."""
    out_dir = os.path.join(env.ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-ops.json"), "w") as f:
        json.dump(wl.log, f)
    busy: dict[str, float] = {}
    for e in wl.log:
        busy[e["kind"]] = round(busy.get(e["kind"], 0.0) + e["s"], 2)
    print(f"perfbench: {head}; busy s by kind: {busy}", file=sys.stderr)
    for e in wl.log:
        if not e["ok"]:
            print(f"perfbench: failed {e['kind']} {e.get('req', e.get('leaf'))}: "
                  f"{e.get('err')}", file=sys.stderr)


# ------------------------------------------------------------------ tracing

def install_wrappers(tracer, wl) -> None:
    """Timers on the public functions of the layers the workload drives."""
    from laji_pygeoapi_spark.api import features
    from laji_pygeoapi_spark.plans import ingest
    from laji_pygeoapi_spark.sources import table
    tracer.wrap(ingest, "ingest_fused", "plans.ingest")
    for f in ("write_partitioned", "build_manifest", "read_table", "bbox_count",
              "bloom_column", "partition_stats", "count_from_manifest",
              "read_candidate_partitions", "compact_store", "get_by_id"):
        tracer.wrap(table, f, "sources.table")

    def candidates(sp, out):
        sp["n"] = len(out) if out is not None else 0
    tracer.wrap(table, "lookup_partitions", "sources.table", on_result=candidates)
    for f in ("items", "get_feature", "feature_collection", "to_geojson"):
        tracer.wrap(features, f, "api.features")


def layer_metrics(spark, tracer, wl, extra: dict) -> dict:
    m = dict(extra)
    m.update(kernel_metrics(wl))
    import bench  # the repo's bench module: its ALU probe kernel
    m["host.alu_ops_per_s"] = bench.alu_ceiling(env.ncpu(), rounds=1)
    if wl.name == "serve_append":
        m.update(serve_layer_metrics(spark, tracer, wl))
    else:
        m.update(suite_layer_metrics(wl))
    out = os.path.join(env.ROOT, ".perfbench_out", f"{wl.name}-trace.json")
    tracer.write(out, {"metrics": m})
    return m


def kernel_metrics(wl) -> dict:
    """Per-point cost of the kernels on the workload's own points (median
    of three calls)."""
    import numpy as np

    import gen
    from laji_pygeoapi_spark.kernels import cells as C
    from laji_pygeoapi_spark.kernels import crs as CK
    from laji_pygeoapi_spark.kernels import geom as G
    from laji_pygeoapi_spark.kernels import wkb as W
    from laji_pygeoapi_spark.sources import fixtures
    if wl.name == "serve_append":
        import pyarrow.parquet as pq
        t = pq.read_table(wl.inputs.base, columns=["lon", "lat"])
        lon, lat = t.column("lon").to_numpy(), t.column("lat").to_numpy()
    else:  # the driver's synthesized document points
        i = np.arange(200_000, dtype=np.int64)
        lon = 19.083 + ((i * 2654435761) % 1048576) / 1048576.0 * 12.504
        lat = 59.454 + ((i * 1103515245) % 1048576) / 1048576.0 * 10.638
    muni = fixtures.municipalities_pdf()
    index = G.PolygonGridIndex([(r["id"], (r["name"],), (r["minx"], r["miny"], r["maxx"],
                                                         r["maxy"]), W.loads(bytes(r["wkb"])))
                                for _, r in muni.iterrows()])
    poly = W.loads(gen.polygon_wkb(gen.polygon_ring(gen.rng_for(0, "kernel"), False)))

    def per_point(fn):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return median(ts) / len(lon) * 1e9
    return {"kernels.cells.hex_cell_ns": per_point(lambda: C.hex_cell(lon, lat, 9)),
            "kernels.geom.grid_assign_ns": per_point(lambda: index.assign(lon, lat)),
            "kernels.geom.points_in_polygon_ns":
                per_point(lambda: G.points_in_polygon(lon, lat, poly)),
            "kernels.crs.tm35fin_ns": per_point(lambda: CK.wgs84_to_tm35fin(lon, lat))}


def _spans(tracer, name, req_filter=lambda r: True):
    return [s for s in tracer.spans if s["name"] == name and s["end"]
            and req_filter(s["req"])]


def _dur(spans):
    return sum(s["end"] - s["start"] for s in spans)


def serve_layer_metrics(spark, tracer, wl) -> dict:
    import serve_append as sc
    m = {}
    is_read = lambda r: re.fullmatch(r"u\d+:r\d+", r) is not None  # noqa: E731
    reads = [e for e in wl.reads() if e["ok"]]
    n_reads = max(1, len(wl.reads()))
    units = max(1, wl.units)
    t = "sources.table."
    m[t + "write_s"] = _dur(_spans(tracer, t + "write_partitioned")) / units
    m[t + "build_manifest_s"] = _dur(_spans(tracer, t + "build_manifest",
                                            lambda r: ":append" in r)) / units
    m[t + "compact_s"] = _dur(_spans(tracer, t + "compact_store")) / units
    ingest = [e["s"] for e in wl.log if e["kind"] == "ingest"]
    append = [e["s"] for e in wl.log if e["kind"] == "append"]
    m[t + "ingest_rows_per_s"] = sc.N_BASE / median(ingest)
    m[t + "append_rows_per_s"] = sc.N_APPEND / median(append)
    f = wl.store_facts
    m[t + "data_files"] = f.get("data_files", 0)
    m[t + "manifest_bytes"] = f.get("manifest_bytes", 0)
    m[t + "bytes_written_per_row"] = f.get("ingest_bytes_per_row", 0)
    m[t + "compact_rewrite_bytes"] = f.get("compact_rewrite_bytes", 0)
    rt = _spans(tracer, t + "read_table", is_read)
    wl.ctx = {"units": wl.units, "reads": len(wl.reads()), "read_table_calls": len(rt)}
    m[t + "read_table_ms"] = _dur(rt) / max(1, len(rt)) * 1e3
    manifest = [s for n in ("bloom_column", "lookup_partitions", "partition_stats",
                            "count_from_manifest")
                for s in _spans(tracer, t + n, is_read)]
    m[t + "manifest_ms"] = _dur(manifest) / n_reads * 1e3
    m[t + "manifest_calls_per_request"] = len(manifest) / n_reads
    bc = _spans(tracer, t + "bbox_count", is_read)
    m[t + "bbox_count_ms"] = _dur(bc) / max(1, len(bc)) * 1e3
    gets = [e for e in reads if e["kind"] == "get_feature"]
    cands = [s["n"] for s in _spans(tracer, t + "lookup_partitions", is_read) if "n" in s]
    m[t + "bloom_candidates_per_get"] = sum(cands) / max(1, len(gets))
    # a present id lives in exactly one partition, an absent one in none
    m[t + "bloom_precision"] = sum(e["returned"] for e in gets) / max(1, sum(cands))
    a = "api.features."
    for name in ("items", "feature_collection", "get_feature"):
        sp = _spans(tracer, a + name, is_read)
        m[a + name + "_ms"] = _dur(sp) / max(1, len(sp)) * 1e3
    m[a + "response_bytes"] = sum(e["bytes"] for e in wl.reads()) / units
    by_type: dict[str, list[float]] = {}
    for e in reads:
        by_type.setdefault(e["kind"], []).append(e["s"] * 1e3)
    for k in REQUEST_TYPES:
        m[f"{a}{k}_p50_ms"] = median(by_type.get(k, []))
    m[a + "page_p50_ms"] = median([e["s"] * 1e3 for e in reads if e["kind"] in sc.PAGE_TYPES])
    m[a + "lookup_p50_ms"] = median([e["s"] * 1e3 for e in reads
                                     if e["kind"] not in sc.PAGE_TYPES])
    m[a + "serve_rps"] = len(reads) / max(1e-9, sum(e["s"] for e in reads))
    pages = [q for q in wl.inputs.reads if q["type"] in sc.PAGE_TYPES]
    m[a + "repeat_share"] = sum(q["repeat"] for q in pages) / max(1, len(pages))
    # the UDF pass alone into a noop sink, on the unit's bulk batch
    from laji_pygeoapi_spark.plans.ingest import ingest_fused
    tracer.req = "fused"
    with tracer.span("plans.ingest.fused"):
        t0 = time.perf_counter()
        ingest_fused(spark.read.parquet(wl.inputs.base)).write.format("noop") \
            .mode("overwrite").save()
        m["plans.ingest.fused_s"] = time.perf_counter() - t0
    return m


def suite_layer_metrics(wl) -> dict:
    import driver_suite as ds
    units = max(1, wl.units)
    leaves = wl.reads()
    m = {"driver_suite.build_s": sum(e["build_s"] for e in leaves) / units,
         "driver_suite.run_s": sum(e["run_s"] for e in leaves) / units,
         "driver_suite.persisted_rdds_left": sum(e["persisted_left"] for e in leaves) / units}
    for e in leaves:
        key = ds.LEAVES[e["leaf"]]
        name = "plans.curation_s" if key == "plans.curation" else f"{key}_s"
        m[name] = m.get(name, 0.0) + e["s"] / units
    return m


def engine_metrics(events: dict, ctx: dict) -> dict:
    """Spark's own figures for the timed window, per unit of work.  Job
    groups read ``<workload>:<request>:<layer>``; those of the setup and
    of the post-window probes are left out."""
    import trace as tracing
    m: dict = {}
    units = max(1, ctx["units"])
    jobs: dict[str, float] = {}
    for group, vals in events.items():
        parts = group.split(":")
        if len(parts) < 3 or not parts[1].startswith("u"):
            continue
        req, layer = ":".join(parts[1:-1]), parts[-1]
        for k in tracing.ENGINE_KEYS:
            m[f"spark.{k}"] = m.get(f"spark.{k}", 0.0) + vals[k] / units
        if re.fullmatch(r"u\d+:r\d+", req):
            kind = "run" if layer in ("api.features.feature_collection",
                                      "api.features.to_geojson") else "build"
            jobs[kind] = jobs.get(kind, 0) + vals["jobs"]
            if layer == "sources.table.read_table":
                jobs["read_table"] = jobs.get("read_table", 0) + vals["jobs"]
        elif ":ingest" in req or ":append" in req:
            jobs["write"] = jobs.get("write", 0) + vals["jobs"]
        if layer in ("driver_suite.build", "driver_suite.run"):
            jobs[layer] = jobs.get(layer, 0) + vals["jobs"]
    reads = max(1, ctx.get("reads", 0))
    m["api.features.build_jobs_per_request"] = jobs.get("build", 0) / reads
    m["api.features.run_jobs_per_request"] = jobs.get("run", 0) / reads
    m["sources.table.read_table_jobs"] = jobs.get("read_table", 0) / max(
        1, ctx.get("read_table_calls", 0))
    m["sources.table.write_jobs"] = jobs.get("write", 0) / units
    m["driver_suite.build_jobs"] = jobs.get("driver_suite.build", 0) / units
    m["driver_suite.run_jobs"] = jobs.get("driver_suite.run", 0) / units
    return m


if __name__ == "__main__":
    sys.exit(main())
