"""Layer metrics read from outside the engine.

Two sources, both used only by traced runs:

* `SparkTrace` reads Spark's own bookkeeping after each op: the SQL
  operator metrics of every execution the op started
  (`statusStore().planGraph` / `executionMetrics`) and the stage and
  task records of the core status store.  The UI stays off; the
  status stores are filled by listeners either way.
* `probe` times the codec and bridge public functions in this process
  on a fixed sample of a store's chunks read back with pyarrow, and
  re-encodes them to check that its byte totals equal the footer's.
"""

from __future__ import annotations

import re
import time

import numpy as np

KERNEL_CODECS = ["zstd", "fsst", "dict", "rle", "delta_varint", "varint",
                 "bitpack", "scaled", "split", "raw"]

_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text) -> float:
    """A SQL metric display string → number (ms for timings, bytes for
    sizes).  Aggregated metrics read "total (min, med, max ...)\\n<total>
    (...)"; plain ones are a single value."""
    if text is None:
        return 0.0
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default=0):
    return o.get() if o.isDefined() else default


def slot_timeline(intervals, t0: float, t1: float, slots: int) -> float:
    """Time in [t0, t1] during which a task slot was free, weighted by
    the share of slots free: Σ_k (1 − k/slots)·T_k, where T_k is the
    time with k tasks running (from scheduler launch/finish stamps)."""
    edges = sorted([(max(a, t0), 1) for a, b in intervals if b > t0]
                   + [(min(b, t1), -1) for a, b in intervals if b > t0])
    free, running, last = 0.0, 0, t0
    for t, step in edges:
        t = min(max(t, t0), t1)
        free += (t - last) * max(1.0 - running / slots, 0.0)
        running += step
        last = t
    return free + (t1 - last) * max(1.0 - running / slots, 0.0)


class SparkTrace:
    """Per-op Spark metrics: call `mark()` before an op and
    `collect(mark, group, t0, t1)` after it (t0/t1 epoch seconds)."""

    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.slots = slots
        jsc = self.sc._jsc.sc()
        self.core = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self):
        self.bus.waitUntilEmpty(30_000)

    def _stages(self):
        return _seq(self.core.stageList(None, False, False,
                                        self._no_quantiles, None))

    def mark(self) -> tuple:
        self._drain()
        execs = [e.executionId() for e in _seq(self.sql.executionsList())]
        stages = [s.stageId() for s in self._stages()]
        return max(execs, default=-1), max(stages, default=-1)

    def collect(self, mark: tuple, group: str, t0: float,
                t1: float) -> dict:
        self._drain()
        exec_mark, stage_mark = mark
        m = dict.fromkeys(
            ["encode.python_ms", "encode.python_start_ms",
             "encode.from_python_bytes", "encode.shuffle_bytes",
             "encode.sort_ms", "encode.spill_bytes", "decode.python_ms",
             "tables.files_written", "tables.scan_bytes_read",
             "tables.scan_ms", "tables.write_ms"], 0.0)
        write_execs = set()
        write_inner_ms = 0.0
        for e in _seq(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= exec_mark:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = _seq(self.sql.planGraph(eid).allNodes())
            is_write = any("InsertIntoHadoopFsRelation" in n.name()
                           for n in nodes)
            if is_write:
                write_execs.update(
                    int(j) for j in _seq(e.jobs().keys().toSeq()))
            for node in nodes:
                mv = {}
                for metric in _seq(node.metrics()):
                    v = values.get(metric.accumulatorId())
                    mv[metric.name()] = parse_metric(_opt(v, None))
                self._node(node.name(), node.desc(), mv, m)
                if is_write and "InArrow" in node.name():
                    write_inner_ms += mv.get("time to run Python workers", 0)
                if is_write and node.name().startswith("Scan"):
                    write_inner_ms += mv.get("scan time", 0)
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        write_stages = set()
        for j in write_execs:
            info = tracker.getJobInfo(j)
            write_stages.update(info.stageIds if info else ())
        stages = [s for s in self._stages() if s.stageId() > stage_mark
                  and s.status().toString() == "COMPLETE"]
        run_ms = sum(s.executorRunTime() for s in stages)
        write_ms = 0.0
        intervals, skew_stage, skew_ms = [], None, -1
        for s in stages:
            tasks = _seq(self.core.taskList(s.stageId(), s.attemptId(),
                                            1 << 20))
            durs = [_opt(t.duration()) for t in tasks]
            intervals += [(t.launchTime().getTime() / 1e3,
                           (t.launchTime().getTime() + d) / 1e3)
                          for t, d in zip(tasks, durs)]
            if s.executorRunTime() > skew_ms:
                skew_ms, skew_stage = s.executorRunTime(), durs
            if s.stageId() in write_stages:
                write_ms += s.executorRunTime()
        m["tables.write_ms"] = max(write_ms - write_inner_ms, 0.0)
        wall_ms = (t1 - t0) * 1e3
        m["spark.jobs_per_op"] = float(len(jobs))
        m["spark.tasks_per_op"] = float(sum(s.numCompleteTasks()
                                            for s in stages))
        m["spark.task_time_ms"] = float(run_ms)
        m["spark.driver_floor_ms"] = wall_ms - run_ms / self.slots
        m["spark.timeline_floor_ms"] = 1e3 * slot_timeline(
            intervals, t0, t1, self.slots)
        m["spark.gc_ms"] = float(sum(s.jvmGcTime() for s in stages))
        m["spark.task_skew"] = (
            float(max(skew_stage) / max(np.median(skew_stage), 1.0))
            if skew_stage else 0.0)
        return m

    def _node(self, name: str, desc: str, mv: dict, m: dict) -> None:
        if "InArrow" in name:
            # the encode kernel is the only Python operator whose
            # output carries the footer's num_chunks column
            side = "encode" if "num_chunks#" in desc else "decode"
            m[f"{side}.python_ms"] += mv.get("time to run Python workers", 0)
            if side == "encode":
                m["encode.python_start_ms"] += (
                    mv.get("time to start Python workers", 0)
                    + mv.get("time to initialize Python workers", 0))
                m["encode.from_python_bytes"] += mv.get(
                    "data returned from Python workers", 0)
        elif name == "Exchange" and "_chunk_id" in desc:
            m["encode.shuffle_bytes"] += mv.get("data size", 0)
        elif name == "Sort" and "_chunk_id" in desc:
            m["encode.sort_ms"] += mv.get("sort time", 0)
            m["encode.spill_bytes"] += mv.get("spill size", 0)
        elif "InsertIntoHadoopFsRelation" in name:
            m["tables.files_written"] += mv.get("number of written files", 0)
        elif name.startswith("Scan") and "chunk_id#" in desc:
            # only the store's chunk and footer tables carry chunk_id;
            # plan strings abbreviate file paths, so match the schema
            m["tables.scan_bytes_read"] += mv.get("size of files read", 0)
            m["tables.scan_ms"] += mv.get("scan time", 0)


def read_store_rows(root: str, chunk_ids=None, column=None):
    """The store's chunk rows as a pyarrow table (column partition
    restored), optionally only the given chunk ids or column."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    d = ds.dataset(f"{root}/chunks", format="parquet", partitioning="hive")
    filt = None
    if chunk_ids is not None:
        filt = pc.field("chunk_id").isin(list(chunk_ids))
    if column is not None:
        c = pc.field("column") == column
        filt = c if filt is None else filt & c
    return d.to_table(filter=filt)


def probe(root: str, n_sample: int) -> dict:
    """Time the codec, selection and bridge public functions on every
    column of `n_sample` evenly spaced chunks of the store at `root`.

    Returns per-layer metrics plus the probe's per-codec encoded-byte
    totals next to the footer's totals for the same chunks, and the
    number of chunks whose re-derived sha256 differs from the footer.
    """
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from varint_rvv_spark.codecs import blob as B
    from varint_rvv_spark.codecs.select import (
        column_stats,
        encode_auto,
        select_codec,
    )
    from varint_rvv_spark.operators.arrow_bridge import (
        arrow_to_values,
        raw_nbytes,
        values_sha256,
        values_to_arrow,
    )

    footer = ds.dataset(f"{root}/footer", format="parquet").to_table(
        columns=["chunk_id", "codec", "encoded_bytes"])
    ids = sorted(set(footer["chunk_id"].to_pylist()))
    step = max(len(ids) // n_sample, 1)
    sample = ids[::step][:n_sample]
    rows = read_store_rows(root, sample).to_pylist()
    footer_bytes = {c: 0 for c in B.CODEC_NAMES.values()}
    for r in footer.filter(pc.field("chunk_id").isin(sample)).to_pylist():
        footer_bytes[r["codec"]] += r["encoded_bytes"]
    ns = {k: 0 for k in ("select", "to_values", "to_arrow", "sha256")}
    raw_total = 0
    kern = {c: [0, 0, 0] for c in KERNEL_CODECS}  # enc ns, dec ns, bytes
    probe_bytes = {c: 0 for c in B.CODEC_NAMES.values()}
    sha_mismatch = 0
    clock = time.perf_counter_ns
    for r in rows:
        values, _, dt = B.decode_blob(r["payload"])
        t = clock()
        arr = values_to_arrow(values, dt, r["logical_type"],
                              bytes(r["validity"] or b""))
        ns["to_arrow"] += clock() - t
        t = clock()
        vals, dt2, _, _ = arrow_to_values(arr)
        ns["to_values"] += clock() - t
        t = clock()
        digest = values_sha256(vals, dt2)
        ns["sha256"] += clock() - t
        sha_mismatch += digest != r["value_sha256"]
        t = clock()
        select_codec(vals, dt2, column_stats(vals, dt2))
        ns["select"] += clock() - t
        blob, cid, _ = encode_auto(vals, dt2)
        probe_bytes[B.CODEC_NAMES[cid]] += len(blob)
        nbytes = raw_nbytes(vals, dt2)
        raw_total += nbytes
        for name in KERNEL_CODECS:
            t = clock()
            try:
                enc = B.encode_blob(B.CODEC_IDS[name], dt2, vals)
            except (TypeError, ValueError, KeyError):
                continue  # codec not applicable to this column's type
            t_enc = clock() - t
            t = clock()
            B.decode_blob(enc)
            kern[name][0] += t_enc
            kern[name][1] += clock() - t
            kern[name][2] += nbytes
    raw_total = max(raw_total, 1)
    out = {"select.ns_per_byte": ns["select"] / raw_total,
           "bridge.to_values_ns_per_byte": ns["to_values"] / raw_total,
           "bridge.to_arrow_ns_per_byte": ns["to_arrow"] / raw_total,
           "bridge.sha256_ns_per_byte": ns["sha256"] / raw_total}
    for name, (enc, dec, nb) in kern.items():
        # 0 marks a codec that applies to none of the sampled columns
        out[f"codec.{name}.encode_ns_per_byte"] = enc / nb if nb else 0.0
        out[f"codec.{name}.decode_ns_per_byte"] = dec / nb if nb else 0.0
    return {"metrics": out, "probe_bytes": probe_bytes,
            "footer_bytes": footer_bytes, "sha_mismatch": sha_mismatch,
            "chunks": len(sample), "rows": len(rows)}

