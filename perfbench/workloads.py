"""The three workloads.  Each is one closed-loop client: `run` is one
op (timed by the caller), `check` verifies its output (untimed).

* pages_ingest: scan-mode encode of one pages slice, written to a fresh
  store, read back and verified (write path, text codecs).
* lineitem_roundtrip: hash-clustered encode of a TPC-H-shaped lineitem
  table, contiguous decode of all 11 columns, one aggregate (numeric
  codecs, shuffle and sort).
* pages_lookup: point lookups by url on a store written by the same
  writer as pages_ingest (footer pruning, pushdown, job floor).
"""

from __future__ import annotations

import dataclasses
import json
import os
import time

import numpy as np

from . import gen
from .harness import remove
from .trace import read_store_rows

PAGES_SCHEMA = "url string, text string"
WARM_LOOKUPS = 6


@dataclasses.dataclass(frozen=True)
class Scale:
    pages_slice: int        # pages per ingest op (one slice)
    rows_per_file: int      # pages per input file = per scan partition
    rows_per_chunk: int     # scan-mode chunk size of the pages writer
    lookup_slices: int      # slices in the lookup store
    lookup_keys: int        # seeded key stream length
    lineitem_rows: int
    lineitem_files: int
    lineitem_chunks: int    # hash chunks, as rt_lineitem_q1 at local[2]
    probe_chunks: int       # chunks the traced probe samples


SCALES = {
    "full": Scale(pages_slice=8192, rows_per_file=4096, rows_per_chunk=64,
                  lookup_slices=2, lookup_keys=4096,
                  lineitem_rows=600_000, lineitem_files=4,
                  lineitem_chunks=8, probe_chunks=3),
    "tiny": Scale(pages_slice=256, rows_per_file=128, rows_per_chunk=16,
                  lookup_slices=2, lookup_keys=64, lineitem_rows=20_000,
                  lineitem_files=2, lineitem_chunks=8, probe_chunks=2),
}


def stored_bytes(root: str) -> int:
    """Bytes of the store's data files (no checksums or markers)."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def footer_summary(root: str, own: dict) -> dict:
    """Read a store's footer with pyarrow and check it against the
    benchmark's own counts.  Returns the byte metrics, per-codec totals
    and a list of problems (empty when every check holds)."""
    import pyarrow.dataset as ds

    from varint_rvv_spark.codecs.blob import HEADER_LEN

    rows = ds.dataset(f"{root}/footer", format="parquet").to_table(
        columns=["chunk_id", "column", "codec", "raw_bytes",
                 "encoded_bytes", "stats_json"]).to_pylist()
    raw = sum(r["raw_bytes"] for r in rows)
    enc = sum(r["encoded_bytes"] for r in rows)
    codec_chunks: dict = {}
    codec_bytes: dict = {}
    hists: dict = {}
    int_payload = 0
    for r in rows:
        codec_chunks[r["codec"]] = codec_chunks.get(r["codec"], 0) + 1
        codec_bytes[r["codec"]] = (codec_bytes.get(r["codec"], 0)
                                   + r["encoded_bytes"])
        hist = json.loads(r["stats_json"] or "{}").get("varint_len_hist")
        if hist is not None:
            hists[r["column"]] = hists.get(r["column"], 0) + np.array(hist)
            int_payload += r["encoded_bytes"] - HEADER_LEN
    problems = []
    if raw != own["raw_bytes"]:
        problems.append(f"footer raw_bytes {raw} != own count "
                        f"{own['raw_bytes']}")
    n_chunks = len({r["chunk_id"] for r in rows})
    if n_chunks != own["chunks"]:
        problems.append(f"{n_chunks} chunks != expected {own['chunks']}")
    if set(hists) != set(own["int_hist"]):
        problems.append(f"integer columns {sorted(hists)} != "
                        f"{sorted(own['int_hist'])}")
    for col, h in own["int_hist"].items():
        if col in hists and list(hists[col]) != list(h):
            problems.append(f"varint_len_hist of {col} {list(hists[col])} "
                            f"!= own LEB128 count {list(h)}")
    leb = sum(gen.leb128_bytes(h) for h in own["int_hist"].values())
    int_ratio = int_payload / leb
    if int_ratio > 1.0:
        problems.append(f"integer payload {int_payload} B exceeds plain "
                        f"LEB128 {leb} B")
    return {"raw": raw, "encoded": enc, "stored": stored_bytes(root),
            "int_ratio": int_ratio, "codec_chunks": codec_chunks,
            "codec_bytes": codec_bytes, "problems": problems,
            "chunk_ids": n_chunks}


def byte_metrics(s: dict) -> dict:
    return {"payload_bytes_per_raw_byte": s["encoded"] / s["raw"],
            "stored_bytes_per_raw_byte": s["stored"] / s["raw"],
            "int_bytes_per_varint_byte": s["int_ratio"]}


class Workload:
    name = ""
    setup_rounds = 3

    def __init__(self, spark, scale: Scale, seed: int, workdir: str):
        self.spark = spark
        self.scale = scale
        self.seed = seed
        self.workdir = workdir
        self.footer: dict | None = None   # summary of the probed store
        self.problems: list = []          # run-level check failures

    def store_written(self, root: str) -> str:
        """The store an op reads back; the self-test substitutes a
        corrupted copy here."""
        return root

    def layer_extra(self, i: int, state) -> dict:
        return {}

    def _write_store(self, input_dir: str, root: str) -> None:
        """The pages writer: scan-mode encode, cached, written as chunk
        and footer tables (the engine's encode job, scan mode)."""
        from varint_rvv_spark.operators.encode import encode_chunks_scan
        from varint_rvv_spark.sources.tables import write_encoded

        df = self.spark.read.parquet(input_dir)
        chunks = encode_chunks_scan(
            df, rows_per_chunk=self.scale.rows_per_chunk).cache()
        write_encoded(chunks, root)
        chunks.unpersist()


class PagesIngest(Workload):
    name = "pages_ingest"

    def setup(self, d: str) -> None:
        s = self.scale
        self.input = f"{d}/input"
        self.own = gen.write_pages(self.input, s.pages_slice,
                                   s.rows_per_file, s.rows_per_chunk,
                                   self.seed)
        self.user_bytes = self.own["raw_bytes"]

    def warm(self) -> None:
        state = self.run("warm")
        ok, why = self.check("warm", state, keep=True)
        if not ok:
            self.problems.append(f"warm-up op: {why}")
        self.probe_root = state[0]

    def run(self, i):
        from varint_rvv_spark.operators.decode import verify_roundtrip
        from varint_rvv_spark.sources.tables import read_chunks

        root = f"{self.workdir}/store-ingest-{i}"
        self._write_store(self.input, root)
        n, bad = verify_roundtrip(read_chunks(self.spark,
                                              self.store_written(root)))
        return root, n, bad

    def check(self, i, state, keep: bool = False):
        root, n, bad = state
        try:
            s = footer_summary(root, self.own)
        finally:
            if not keep:
                remove(root)
        if keep:
            self.footer = s
        why = list(s["problems"])
        if bad:
            why.append(f"verify_roundtrip: {bad}/{n} chunks mismatched")
        if n != s["chunk_ids"] * len(gen.PAGES_COLUMNS):
            why.append(f"verified {n} chunk rows, footer has "
                       f"{s['chunk_ids']} chunks")
        if self.footer and s["encoded"] != self.footer["encoded"]:
            why.append("encoded bytes differ between ops")
        self.last_bytes = byte_metrics(s)
        return not why, "; ".join(why)


class LineitemRoundtrip(Workload):
    name = "lineitem_roundtrip"

    def setup(self, d: str) -> None:
        s = self.scale
        self.input = f"{d}/input"
        self.own = gen.write_lineitem(self.input, s.lineitem_rows,
                                      s.lineitem_files, s.lineitem_chunks,
                                      self.seed)
        self.user_bytes = self.own["raw_bytes"]

    def _aggregate(self, decoded) -> dict:
        from pyspark.sql import functions as F

        def cents(c):
            return F.sum(F.round(F.col(c) * 100).cast("long"))

        def count_eq(c, v):
            return F.sum(F.when(F.col(c) == v, 1).otherwise(0))

        row = decoded.agg(
            F.count("*"), F.sum("l_orderkey"), F.sum("l_partkey"),
            F.sum("l_suppkey"), F.sum(F.col("l_linenumber").cast("long")),
            F.sum(F.unix_seconds("l_shipdate")),
            F.sum(F.col("l_quantity").cast("long")),
            cents("l_extendedprice"), cents("l_discount"), cents("l_tax"),
            count_eq("l_returnflag", "R"),
            count_eq("l_linestatus", "O")).collect()[0]
        return dict(zip(gen.LINEITEM_SUMS, (int(v or 0) for v in row)))

    def _decoded(self, chunks):
        from varint_rvv_spark.operators.decode import decode_table

        return decode_table(chunks, gen.LINEITEM_COLUMNS,
                            gen.LINEITEM_SCHEMA, contiguous=True)

    def _encoded(self):
        from varint_rvv_spark.operators.encode import encode_chunks

        df = self.spark.read.parquet(self.input)
        return encode_chunks(df, key_cols=["l_orderkey"],
                             num_chunks=self.scale.lineitem_chunks)

    def warm(self) -> None:
        """Untimed pass that also persists the encoded table, so the
        byte metrics and the probe read a real footer."""
        from varint_rvv_spark.sources.tables import write_encoded

        root = f"{self.workdir}/store-lineitem"
        chunks = self._encoded().cache()
        write_encoded(chunks, root)
        ok, why = self.check("warm", self._aggregate(self._decoded(chunks)))
        chunks.unpersist()
        s = footer_summary(root, self.own)
        self.problems += s["problems"]
        if not ok:
            self.problems.append(f"warm-up op: {why}")
        self.footer = s
        self.last_bytes = byte_metrics(s)
        self.probe_root = root

    def run(self, i):
        return self._aggregate(self._decoded(self._encoded()))

    def check(self, i, state):
        want = self.own["sums"]
        bad = [f"{k}={state.get(k)} (want {v})" for k, v in want.items()
               if state.get(k) != v]
        return not bad, "; ".join(bad)


class PagesLookup(Workload):
    name = "pages_lookup"
    # the store build is most of this workload's set-up; one round keeps
    # the run inside its time budget
    setup_rounds = 1

    def setup(self, d: str) -> None:
        s = self.scale
        n_pages = s.pages_slice * s.lookup_slices
        self.own = gen.write_pages(f"{d}/input", n_pages, s.rows_per_file,
                                   s.rows_per_chunk, self.seed)
        self.root = f"{d}/store"
        self._write_store(f"{d}/input", self.root)
        self.footer = footer_summary(self.root, self.own)
        self.problems = list(self.footer["problems"])
        rng = np.random.default_rng(self.seed)
        ids = rng.integers(0, n_pages, s.lookup_keys)
        absent = rng.random(s.lookup_keys) < 0.10
        # absent keys: urls of pages past the end of the store
        self.keys = [(int(k) + n_pages * bool(a), not a)
                     for k, a in zip(ids, absent)]
        self.urls = {}
        # raw bytes of the columns a lookup reads: the store volume one
        # lookup answers from (its effective scan rate numerator)
        self.user_bytes = self._column_raw(["url", "text"])

    def _column_raw(self, columns) -> int:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        t = ds.dataset(f"{self.root}/footer", format="parquet").to_table(
            columns=["column", "raw_bytes"])
        return int(pc.sum(t.filter(pc.field("column").isin(columns))
                          ["raw_bytes"]).as_py())

    def warm(self) -> None:
        self.probe_root = self.root
        self.last_bytes = byte_metrics(self.footer)
        # lookup times keep falling over the first ~6 lookups of a
        # process (JIT of the planning path), so warm up past that
        for i in range(-WARM_LOOKUPS, 0):
            ok, why = self.check(i, self.run(i))
            if not ok:
                self.problems.append(f"warm-up lookup: {why}")

    def url(self, i) -> tuple:
        page_id, present = self.keys[i % len(self.keys)]
        if page_id not in self.urls:
            self.urls[page_id] = gen.page_url(page_id, self.seed)
        return page_id, present, self.urls[page_id]

    def run(self, i):
        from varint_rvv_spark.operators.decode import scan_encoded
        from varint_rvv_spark.sources.tables import read_chunks

        _, _, url = self.url(i)
        t0 = time.perf_counter()
        found = scan_encoded(
            read_chunks(self.spark, self.store_written(self.root),
                        ["url", "text"]),
            ["url", "text"], PAGES_SCHEMA, eq={"url": url})
        prune_s = time.perf_counter() - t0
        return found.collect(), prune_s

    def check(self, i, state):
        rows, _ = state
        page_id, present, url = self.url(i)
        if not present:
            return not rows, f"absent key returned {len(rows)} rows"
        if len(rows) != 1 or rows[0]["url"] != url:
            return False, f"page {page_id}: {len(rows)} rows"
        if rows[0]["text"].encode("utf-8") != gen.page_text(page_id,
                                                             self.seed):
            return False, f"page {page_id}: text differs from the source"
        return True, ""

    def trace_setup(self) -> None:
        """url → chunk map of the store, for the useful-chunk ratio."""
        from varint_rvv_spark.codecs import blob as B

        self.url_chunk = {}
        for r in read_store_rows(self.root, column="url").to_pylist():
            values, _, _ = B.decode_blob(r["payload"])
            data = bytes(values.data)
            off = values.offsets
            for k in range(len(values)):
                self.url_chunk[data[off[k]:off[k + 1]].decode()] = (
                    r["chunk_id"])

    def layer_extra(self, i, state) -> dict:
        from varint_rvv_spark.operators.decode import prune_chunks_multi
        from varint_rvv_spark.sources.tables import read_chunks

        _, prune_s = state
        _, _, url = self.url(i)
        kept = {r.chunk_id for r in prune_chunks_multi(
            read_chunks(self.spark, self.root, ["url", "text"]),
            eq={"url": url}).select("chunk_id").distinct().collect()}
        total = self.footer["chunk_ids"]
        return {"decode.prune_ms": prune_s * 1e3,
                "decode.chunks_kept": float(len(kept)),
                "decode.kept_ratio": len(kept) / total,
                "decode.ids_pushed": float(len(kept) if len(kept) <= 256
                                           else 0),
                "_hits": float(self.url_chunk.get(url) in kept),
                "_kept": float(len(kept))}


WORKLOADS = {w.name: w for w in (PagesIngest, LineitemRoundtrip,
                                 PagesLookup)}
