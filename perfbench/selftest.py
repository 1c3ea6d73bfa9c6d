#!/usr/bin/env python3
"""Self-test of the benchmark on the tiny input config.

    python3 perfbench/selftest.py

Checks, in one Spark session at local[2]:
* every workload, untraced and traced, emits exactly the metric names
  and units BENCHMARK.json declares, with finite values (end-to-end
  values also non-zero), and passes its own checks;
* a store copy with a corrupted payload makes ops fail and is counted
  in `failed` (pages_ingest: every op; pages_lookup: the present keys).
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402


def corrupt_copy(root: str) -> str:
    """Copy a store and flip one byte in the middle of every payload
    of its `text` column files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    copy = root.rstrip("/") + "-corrupt"
    harness.remove(copy)
    shutil.copytree(root, copy)
    text_dir = os.path.join(copy, "chunks", "column=text")
    for name in os.listdir(text_dir):
        path = os.path.join(text_dir, name)
        if name.startswith((".", "_")):
            os.remove(path)  # stale checksums would mask the engine's checks
            continue
        t = pq.read_table(path)
        payloads = []
        for p in t["payload"].to_pylist():
            b = bytearray(p)
            b[len(b) // 2] ^= 0xFF
            payloads.append(bytes(b))
        i = t.schema.get_field_index("payload")
        t = t.set_column(i, "payload", pa.array(payloads, pa.binary()))
        pq.write_table(t, path)
    return copy


def check_metrics(result: dict, declared: dict, label: str,
                  nonzero: bool) -> list:
    errors = []
    got = result["metrics"]
    if set(got) != set(declared):
        errors.append(f"{label}: metric names differ: missing "
                      f"{sorted(set(declared) - set(got))}, extra "
                      f"{sorted(set(got) - set(declared))}")
    for name, m in got.items():
        if name in declared and m["unit"] != declared[name]:
            errors.append(f"{label}: {name} unit {m['unit']} != "
                          f"{declared[name]}")
        if not math.isfinite(m["value"]) or (nonzero and m["value"] == 0):
            errors.append(f"{label}: {name} = {m['value']}")
    return errors


def main() -> int:
    workdir = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    errors = []
    try:
        harness.prepare_env(workdir)
        from perfbench.run import run_workload
        from perfbench.workloads import WORKLOADS

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
        if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
            errors.append("BENCHMARK.json workloads differ from the code")
        spark = harness.start_spark("perfbench-selftest")
        try:
            for name in sorted(WORKLOADS):
                for trace in (False, True):
                    d = os.path.join(workdir, f"{name}-{int(trace)}")
                    result, detail = run_workload(
                        spark, name, 3, 0.5, trace, "tiny", d)
                    label = f"{name} trace={int(trace)}"
                    if not result["correct"] or result["failed"]:
                        errors.append(f"{label}: {detail}")
                    errors += check_metrics(
                        result, layers if trace else e2e, label,
                        nonzero=not trace)
                    print(f"ok-metrics {label}: {result['attempted']} ops",
                          flush=True)
            for name in ("pages_ingest", "pages_lookup"):
                base = WORKLOADS[name]

                class Corrupted(base):
                    armed = False  # the warm-up reads the intact store

                    def warm(self):
                        base.warm(self)
                        self.armed = True

                    def store_written(self, root):
                        return corrupt_copy(root) if self.armed else root

                result, detail = run_workload(
                    spark, name, 3, 0.5, False, "tiny",
                    os.path.join(workdir, f"{name}-corrupt"),
                    workload_cls=Corrupted)
                want_all = name == "pages_ingest"
                failed, attempted = result["failed"], result["attempted"]
                if (failed < 1 or (want_all and failed != attempted)
                        or result["correct"]):
                    errors.append(f"{name} corrupted store: {failed}/"
                                  f"{attempted} ops failed, correct="
                                  f"{result['correct']}")
                print(f"ok-corrupt {name}: {failed}/{attempted} ops failed",
                      flush=True)
        finally:
            harness.stop_spark(spark)
    finally:
        harness.remove(workdir)
        base_dir = os.path.dirname(workdir)
        if os.path.isdir(base_dir) and not os.listdir(base_dir):
            os.rmdir(base_dir)
    for e in errors:
        print("FAIL", e)
    print("selftest", "passed" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
