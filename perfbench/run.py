#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pages_ingest --seed 1 \\
        --seconds 15 --trace 0

One closed-loop client drives the engine through its public functions
on Spark local[2].  Inputs are regenerated from --seed in a private
temporary directory under the checkout (removed at exit).  Set-up is
timed, one untimed warm-up op follows, then ops run back to back for
--seconds; every op's output is checked and a failed check counts as a
failed op.  --trace 0 prints the end-to-end metrics; --trace 1 traces
every other op and prints the per-layer metrics.  The last stdout line
is {"correct", "attempted", "failed", "metrics"}; the line before it
carries the details (tail percentile and sample count, set-up rounds,
reconciliation).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

MIN_OPS = 3
# traced-op reconciliation: wall ≈ Σ task time / slots + timeline
# floor, to within this share of the op wall plus a fixed slack
RECONCILE_FRAC = 0.10
RECONCILE_MS = 100.0

E2E_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "ok_op_share": "ratio",
    "op_p50_ms": "ms", "op_tail_ms": "ms", "throughput_mb_per_s": "MB/s",
    "payload_bytes_per_raw_byte": "ratio",
    "stored_bytes_per_raw_byte": "ratio",
    "int_bytes_per_varint_byte": "ratio"}


def layer_units() -> dict:
    from perfbench.trace import KERNEL_CODECS

    units = {}
    for c in KERNEL_CODECS:
        units[f"codec.{c}.encode_ns_per_byte"] = "ns/B"
        units[f"codec.{c}.decode_ns_per_byte"] = "ns/B"
    units["select.ns_per_byte"] = "ns/B"
    for c in KERNEL_CODECS:
        units[f"select.chunks.{c}"] = "count"
        units[f"select.bytes.{c}"] = "B"
    for k in ("to_values", "to_arrow", "sha256"):
        units[f"bridge.{k}_ns_per_byte"] = "ns/B"
    units.update({
        "encode.python_ms": "ms", "encode.python_start_ms": "ms",
        "encode.from_python_bytes": "B", "encode.shuffle_bytes": "B",
        "encode.sort_ms": "ms", "encode.spill_bytes": "B",
        "decode.python_ms": "ms", "decode.prune_ms": "ms",
        "decode.chunks_kept": "count", "decode.kept_ratio": "ratio",
        "decode.useful_chunk_ratio": "ratio", "decode.ids_pushed": "count",
        "tables.write_ms": "ms", "tables.files_written": "count",
        "tables.scan_bytes_read": "B", "tables.scan_ms": "ms",
        "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
        "spark.task_time_ms": "ms", "spark.driver_floor_ms": "ms",
        "spark.timeline_floor_ms": "ms", "spark.gc_ms": "ms",
        "spark.task_skew": "ratio", "trace.op_p50_ms": "ms",
        "trace.overhead_ms": "ms"})
    return units


def _layer_metrics(wl, rows: list, traced_totals: list,
                   untraced: list, problems: list) -> tuple:
    """Per-layer metrics from the traced ops, the footer and the probe;
    appends reconciliation failures to `problems`."""
    from perfbench.trace import KERNEL_CODECS, probe

    out = {}
    keys = {k for r in rows for k in r if not k.startswith("_")}
    for k in keys:
        out[k] = median([r[k] for r in rows if k in r])
    kept = sum(r.get("_kept", 0.0) for r in rows)
    if kept:
        out["decode.useful_chunk_ratio"] = (
            sum(r["_hits"] for r in rows) / kept)
    else:  # full-table workloads decode every chunk they keep
        out.update({"decode.prune_ms": 0.0,
                    "decode.chunks_kept": float(wl.footer["chunk_ids"]),
                    "decode.kept_ratio": 1.0,
                    "decode.useful_chunk_ratio": 1.0,
                    "decode.ids_pushed": 0.0})
    out["trace.op_p50_ms"] = median(traced_totals)
    out["trace.overhead_ms"] = (median(traced_totals)
                                - median(untraced))
    for c in KERNEL_CODECS:
        out[f"select.chunks.{c}"] = float(wl.footer["codec_chunks"].get(c, 0))
        out[f"select.bytes.{c}"] = float(wl.footer["codec_bytes"].get(c, 0))
    p = probe(wl.probe_root, wl.scale.probe_chunks)
    out.update(p["metrics"])
    if p["probe_bytes"] != p["footer_bytes"]:
        problems.append(f"probe re-encode bytes {p['probe_bytes']} != "
                        f"footer {p['footer_bytes']}")
    if p["sha_mismatch"]:
        problems.append(f"probe: {p['sha_mismatch']} chunks' sha256 "
                        f"differ from the footer")
    return out, {"probe_chunks": p["chunks"], "probe_rows": p["rows"],
                 "probe_bytes": {k: v for k, v in p["probe_bytes"].items()
                                 if v}}


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 scale: str, workdir: str, workload_cls=None):
    """Set up, warm up and drive one workload; returns (result, detail)."""
    from perfbench.trace import SparkTrace
    from perfbench.workloads import SCALES, WORKLOADS

    wl = (workload_cls or WORKLOADS[name])(spark, SCALES[scale], seed,
                                           workdir)
    setup_s, prev = [], None
    for r in range(wl.setup_rounds):
        d = os.path.join(workdir, f"setup-{r}")
        t0 = time.perf_counter()
        wl.setup(d)
        setup_s.append(time.perf_counter() - t0)
        if prev:
            harness.remove(prev)
        prev = d
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    problems = list(wl.problems)
    tracer = None
    if trace:
        tracer = SparkTrace(spark, harness.SLOTS)
        if hasattr(wl, "trace_setup"):
            wl.trace_setup()
    walls, oks, reasons = [], [], []
    traced_totals, untraced, layer_rows, recon = [], [], [], []
    with harness.RssSampler(harness.jvm_pid(spark)) as rss:
        start = time.perf_counter()
        i = 0
        while i < MIN_OPS or time.perf_counter() - start < seconds:
            traced = trace and i % 2 == 1
            t_begin = time.perf_counter()
            if traced:
                mark = tracer.mark()
                group = f"perfbench-op-{i}"
                spark.sparkContext.setJobGroup(group, group)
            e0, t0 = time.time(), time.perf_counter()
            try:
                state = wl.run(i)
                failure = None
            except Exception:  # a failed op is counted, not fatal
                state, failure = None, traceback.format_exc()
            wall = time.perf_counter() - t0
            e1 = time.time()
            if traced:
                layer = tracer.collect(mark, group, e0, e1)
                if state is not None:
                    layer.update(wl.layer_extra(i, state))
                layer_rows.append(layer)
                traced_totals.append(
                    1e3 * (time.perf_counter() - t_begin))
                err = abs(wall * 1e3 - layer["spark.task_time_ms"]
                          / harness.SLOTS - layer["spark.timeline_floor_ms"])
                recon.append(round(err, 1))
                if err > RECONCILE_FRAC * wall * 1e3 + RECONCILE_MS:
                    problems.append(f"op {i}: wall {wall * 1e3:.0f} ms vs "
                                    f"task time / slots + timeline floor "
                                    f"off by {err:.0f} ms")
            elif trace and i:  # op 0 runs colder than the rest
                untraced.append(wall * 1e3)
            if failure is None:
                try:
                    ok, why = wl.check(i, state)
                except Exception:  # a failing check is a failed op
                    ok, why = False, traceback.format_exc()
            else:
                ok, why = False, failure
            if not ok:
                reasons.append(f"op {i}: {why}")
                print(f"op {i} failed: {why}", file=sys.stderr)
            walls.append(wall)
            oks.append(ok)
            i += 1
    ok_walls = [w for w, ok in zip(walls, oks) if ok] or walls
    tail_p = harness.tail_percentile(len(ok_walls))
    detail = {"workload": name, "seed": seed, "trace": int(trace),
              "ops": len(walls), "op_ms": [round(w * 1e3, 1) for w in walls],
              "tail_percentile": tail_p, "tail_samples": len(ok_walls),
              "setup_rounds_s": [round(s, 3) for s in setup_s],
              "warm_s": round(warm_s, 3),
              "peak_rss_jvm_mb": round(rss.peak_jvm / 1e6, 1),
              "peak_worker_processes": rss.peak_workers,
              "problems": problems, "failed_ops": reasons}
    if trace:
        metrics, extra = _layer_metrics(wl, layer_rows, traced_totals,
                                        untraced, problems)
        detail.update(extra, reconcile_err_ms=recon,
                      reconcile_tolerance=f"{RECONCILE_FRAC:.0%} of op "
                      f"wall + {RECONCILE_MS:.0f} ms")
        units = layer_units()
    else:
        metrics = {
            "setup_s": median(setup_s),
            "peak_rss_mb": rss.peak / 1e6,
            "ok_op_share": sum(oks) / len(oks),
            "op_p50_ms": 1e3 * median(ok_walls),
            "op_tail_ms": 1e3 * harness.percentile(ok_walls, tail_p),
            "throughput_mb_per_s": wl.user_bytes / 1e6
            / median(ok_walls),
            **wl.last_bytes}
        units = E2E_UNITS
    result = {"correct": not problems and all(oks),
              "attempted": len(walls), "failed": oks.count(False),
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(
        "pages_ingest", "lineitem_roundtrip", "pages_lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    workdir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    try:
        harness.prepare_env(workdir)
        import varint_rvv_spark  # noqa: F401 - fails fast without the engine

        spark = harness.start_spark(f"perfbench-{args.workload}")
        try:
            result, detail = run_workload(
                spark, args.workload, args.seed, args.seconds,
                bool(args.trace), "full", workdir)
        finally:
            harness.stop_spark(spark)
    finally:
        harness.remove(workdir)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
