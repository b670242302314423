"""One benchmark run inside a prepared environment (started by run.py):
session start, workload setup and warm-up, the timed closed loop (one
client), output checks, and the result line."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

from perfbench.workload import Mismatch, log

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "etl_sync": ("perfbench.etl_sync", "EtlSync"),
    "lakehouse_read": ("perfbench.lakehouse_read", "LakehouseRead"),
    "analytics": ("perfbench.analytics", "Analytics"),
}

# per-layer fields kept in the result; the rest stay in the span dump
CORE_FIELDS = ("calls", "wall_s", "self_s", "jobs", "between_jobs_s")
EXTRA_FIELDS = {
    "writer.ParquetTableWriter.write": ("shuffle_write_bytes", "output_bytes"),
    "manifest.ManifestTable.apply_changes": ("output_bytes",),
    "manifest.ManifestTable.changes": ("shuffle_write_bytes",),
    "manifest.ManifestTable.compact": ("output_bytes",),
    "deltalite.DeltaLiteTable.changelog": ("shuffle_write_bytes",),
    "iceberglite.IcebergLiteTable.changelog": ("shuffle_write_bytes",),
    "queries.catalog.query": ("in_jobs_s", "tasks", "shuffle_write_bytes"),
}
UNITS = {"calls": "count", "jobs": "count", "tasks": "count", "batches": "count",
         "shuffle_write_bytes": "B", "output_bytes": "B"}


def _unit(field: str) -> str:
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_s"):
        return "s"
    return UNITS.get(field, "1")


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    from perfbench.layers import LAYERS, STREAM_FIELDS, WORKLOAD_EXTRAS

    out = []
    for layer in LAYERS:
        fields = ("wall_s", "calls") if layer == "tables.load" else (
            CORE_FIELDS + EXTRA_FIELDS.get(layer, ()))
        if layer.endswith(".stream"):
            fields = fields + STREAM_FIELDS
        out += [(f"{layer}.{f}", _unit(f)) for f in fields]
    out.append(("writer.ParquetTableWriter.write.rows_out_per_row_in", "1"))
    out.append(("manifest.ManifestTable.read.files_skipped_ratio", "1"))
    out.append(("session.get_spark.wall_s", "s"))
    out += list(WORKLOAD_EXTRAS)
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    args = ap.parse_args(argv)
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))

    import importlib

    from forklift_spark import session

    t = time.time()
    spark = session.get_spark()
    get_spark_s = time.time() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        mod, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(mod), cls)(
            spark, args.seed, os.path.join(args.root, "work"))
        log(f"session started in {get_spark_s:.1f}s")
        wl.setup()
        log(f"setup done at {time.time() - t_start:.1f}s")
        attempted = failed = 0
        for op in wl.warmup_ops():
            attempted += 1
            failed += not _run_checked(op, None)[1]
        setup_s = time.time() - t_start

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            wl.tracer = tracer
            for target in wl.trace_targets():
                tracer.wrap(*target)
        wl.begin_timed()
        lat, kinds, busy = [], [], 0.0
        cycles = []  # (ops, rows, seconds) per whole cycle
        c_ops = c_rows = 0
        c_s = 0.0
        for op in wl.ops():
            dt, ok, n = _run_checked(op, tracer)
            attempted += 1
            failed += not ok
            lat.append(dt)
            kinds.append(op.kind)
            busy += dt
            c_ops, c_rows, c_s = c_ops + 1, c_rows + n, c_s + dt
            if op.ends_cycle:
                cycles.append((c_ops, c_rows, c_s))
                c_ops = c_rows = 0
                c_s = 0.0
                if busy >= args.seconds and len(cycles) >= wl.min_cycles(tracer):
                    break
        if tracer is not None:
            tracer.uninstall()
        log(f"timed phase done at {time.time() - t_start:.1f}s")
        failed += wl.finish(attempted)
        log(f"checks done at {time.time() - t_start:.1f}s")
        failed = min(failed, attempted)
        extras = wl.extra_metrics()
        kind_p50 = {k: statistics.median(x for x, kk in zip(lat, kinds) if kk == k)
                    for k in dict.fromkeys(kinds)}
        if tracer is not None:
            out = os.path.join(REPO, ".perfbench-out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        rss = peak_rss_mb(jvm_pid)
        stop_spark(spark)
    log(f"stopped at {time.time() - t_start:.1f}s")
    leaked = len(os.listdir(os.environ["TMPDIR"])) if "TMPDIR" in os.environ else 0

    # throughputs are medians over whole cycles, so one disturbed cycle
    # does not move them
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (statistics.median(o / s for o, _, s in cycles), "op/s"),
        "op_s_p50": (statistics.median(lat), "s"),
        "rows_per_s": (statistics.median(r / s for _, r, s in cycles), "rows/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(lat)} attempted={attempted} failed={failed} "
          f"fail_ratio={failed / attempted:.4f}")
    print("settings: " + " ".join(
        f"{k}={os.environ.get(k, '')}" for k in
        ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS",
         "PYTHONPATH")))
    print(f"op_s_p50 over {len(lat)} ops; per kind: " + ", ".join(
        f"{k}={v:.3f}s (n={kinds.count(k)})" for k, v in kind_p50.items()))
    if args.trace:
        metrics = _layer_metrics(tracer, extras, kind_p50, get_spark_s, leaked,
                                 cycles[0][0] / cycles[0][2])
    else:
        metrics = e2e
        for name, (v, unit) in extras.items():
            print(f"  {name} = {v:.6g} {unit}")
    for name, (v, unit) in metrics.items():
        print(f"  {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _run_checked(op, tracer) -> tuple[float, bool, int]:
    """Run one op (timed), then check its result (untimed)."""
    ctx = tracer.op() if tracer is not None else contextlib.nullcontext()
    t = time.perf_counter()
    try:
        with ctx:
            result = op.run()
    except Exception:
        dt = time.perf_counter() - t
        log(f"{op.kind} {op.label} raised:\n{traceback.format_exc()}")
        if tracer is not None:
            tracer.close_op(dt)
        return dt, False, 0
    dt = time.perf_counter() - t
    if tracer is not None:
        tracer.close_op(dt)
    try:
        rows = op.check(result)
    except Mismatch as exc:
        log(f"{op.kind} {op.label} wrong result: {exc}")
        return dt, False, 0
    log(f"{op.kind} {op.label} {dt:.3f}s rows={rows}")
    return dt, True, rows


def _layer_metrics(tracer, extras, kind_p50, get_spark_s, leaked, ops_per_s):
    rows = tracer.layers
    out = {}
    for name, unit in layer_metric_names():
        layer, _, field = name.rpartition(".")
        out[name] = (float(rows.get(layer, {}).get(field, 0.0)), unit)
    w = rows.get("writer.ParquetTableWriter.write", {})
    out["writer.ParquetTableWriter.write.rows_out_per_row_in"] = (
        w.get("output_records", 0.0) / w["rows_in"] if w.get("rows_in") else 0.0, "1")
    r = rows.get("manifest.ManifestTable.read", {})
    out["manifest.ManifestTable.read.files_skipped_ratio"] = (
        r.get("files_skipped", 0.0) / r["files_total"] if r.get("files_total") else 0.0,
        "1")
    out["session.get_spark.wall_s"] = (get_spark_s, "s")
    for name, (v, unit) in extras.items():
        out[name] = (v, unit)
    for kind, v in kind_p50.items():
        key = f"lakehouse_read.op_s_p50.{kind}"
        if key in out:
            out[key] = (v, "s")
    out["bench.op.self_s"] = (rows.get("bench.op", {}).get("self_s", 0.0), "s")
    out["trace.ops_per_s"] = (ops_per_s, "op/s")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["trace.self_sum_error"] = (tracer.max_self_sum_error, "1")
    out["tmp.leaked_entries"] = (float(leaked), "count")
    return out


if __name__ == "__main__":
    sys.exit(main())
