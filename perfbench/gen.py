"""Seeded benchmark inputs and the benchmark's own reference values.

Everything here is a pure function of the seed: the pages slices come
from the engine's public generator (`sources.pages.gen_pages_numpy`),
the lineitem table from a TPC-H-shaped numpy generator kept in this
file, so a run needs no data outside its own temporary directory.

The reference values (row counts, byte counts, integer sums and plain
LEB128 sizes) are computed here with numpy and pyarrow only, never
with the engine's codecs, so they can check the engine's outputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
PAGES_VARLEN = ["url", "html", "text", "lang"]

LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate"]
LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp")
# the columns the engine stores as integers: their plain LEB128 size is
# the reference encoder's output that the engine must not exceed
LINEITEM_INT_COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey",
                        "l_linenumber", "l_shipdate"]
# lineitem sums the per-op aggregate is checked against
LINEITEM_SUMS = ["n_rows", "sum_orderkey", "sum_partkey", "sum_suppkey",
                 "sum_linenumber", "sum_shipdate_s", "sum_quantity",
                 "sum_price_cents", "sum_discount_pct", "sum_tax_pct",
                 "n_returned", "n_open"]

_DAY_US = 86_400_000_000
_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00Z
_CUTOFF_US = 803_347_200_000_000      # 1995-06-17T00:00:00Z


def leb128_hist(values: np.ndarray) -> np.ndarray:
    """Counts of plain LEB128 lengths 1..10 for `values` read as uint64.

    Written from the format definition (7 payload bits per byte, high
    bit = continuation, as in the reference encoder varint_encode.c),
    independent of the engine's own length kernel."""
    u = np.ascontiguousarray(values).astype(np.uint64, copy=False)
    lens = np.ones(u.shape[0], dtype=np.int64)
    for k in range(1, 10):
        lens += u >= np.uint64(1 << (7 * k))
    return np.bincount(lens, minlength=11)[1:]


def leb128_bytes(hist) -> int:
    return int(sum((i + 1) * int(c) for i, c in enumerate(hist)))


# ---------------------------------------------------------------- pages

def pages_table(ids: np.ndarray, seed: int) -> pa.Table:
    """The engine's deterministic pages rows for `ids`, as an Arrow
    table with the PAGES_SCHEMA types (warc_ts is a UTC timestamp)."""
    from varint_rvv_spark.codecs.composite import varlen_to_pa
    from varint_rvv_spark.sources.pages import gen_pages_numpy

    g = gen_pages_numpy(ids, seed)
    return pa.table({
        "url": pa.array(g["url"], type=pa.string()),
        "warc_ts": pa.array(g["warc_ts"], type=pa.timestamp("us", tz="UTC")),
        "html": varlen_to_pa(g["html"]).cast(pa.binary()),
        "text": varlen_to_pa(g["text"]).cast(pa.binary()).cast(pa.string()),
        "lang": pa.array(g["lang"], type=pa.string()),
    })


def page_url(page_id: int, seed: int) -> str:
    from varint_rvv_spark.sources.pages import gen_pages_numpy

    return str(gen_pages_numpy(np.array([page_id], dtype=np.uint64),
                               seed)["url"][0])


def page_text(page_id: int, seed: int) -> bytes:
    from varint_rvv_spark.sources.pages import gen_pages_numpy

    t = gen_pages_numpy(np.array([page_id], dtype=np.uint64), seed)["text"]
    return bytes(t.data[int(t.offsets[0]):int(t.offsets[1])])


def write_pages(dirpath: str, n_pages: int, rows_per_file: int,
                rows_per_chunk: int, seed: int) -> dict:
    """Write pages 0..n_pages-1 as parquet files of `rows_per_file` rows
    (one Spark scan partition each) and return the benchmark's own
    counts: rows, expected scan-mode chunks, raw bytes in the engine's
    raw-size convention, and the warc_ts LEB128 histogram."""
    os.makedirs(dirpath)
    rows = chunks = raw = 0
    hist = np.zeros(10, dtype=np.int64)
    for f, lo in enumerate(range(0, n_pages, rows_per_file)):
        ids = np.arange(lo, min(lo + rows_per_file, n_pages),
                        dtype=np.uint64)
        tbl = pages_table(ids, seed)
        pq.write_table(tbl, f"{dirpath}/part-{f:05d}.parquet",
                       compression="none")
        n = len(ids)
        n_chunks = -(-n // rows_per_chunk)
        rows += n
        chunks += n_chunks
        # raw size as the engine counts it: 8 B per numeric value; a
        # varlen chunk is its data bytes plus (n + 1) int64 offsets
        raw += 8 * n
        for c in PAGES_VARLEN:
            raw += (pa.compute.sum(pa.compute.binary_length(tbl[c]))
                    .as_py() + 8 * n + 8 * n_chunks)
        ts = tbl["warc_ts"].cast(pa.int64()).to_numpy()
        hist += leb128_hist(ts)
    return {"rows": rows, "chunks": chunks, "raw_bytes": raw,
            "int_hist": {"warc_ts": hist}}


# ------------------------------------------------------------- lineitem

def lineitem_arrays(n_rows: int, seed: int) -> dict:
    """TPC-H-shaped lineitem columns as numpy arrays.

    Follows the dbgen value domains: sparse order keys (8 of every 32),
    1-7 lines per order, parts 1..200000·SF, suppliers 1..10000·SF,
    retail-price-derived extended prices, ship dates 1-121 days after
    an order date in 1992-1998, and the return-flag / line-status rules
    around 1995-06-17."""
    rng = np.random.default_rng(seed)
    sf = n_rows / 600_000
    n_parts = max(int(200_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_orders = n_rows // 2 + 8  # 1-7 lines each: always enough rows
    lines = rng.integers(1, 8, n_orders)
    lines = lines[: int(np.searchsorted(np.cumsum(lines), n_rows)) + 1]
    order_idx = np.repeat(np.arange(len(lines)), lines)[:n_rows]
    starts = np.concatenate(([0], np.cumsum(lines)[:-1]))
    linenumber = (np.arange(n_rows) - starts[order_idx] + 1).astype(np.int32)
    orderkey = (order_idx // 8) * 32 + order_idx % 8 + 1
    partkey = rng.integers(1, n_parts + 1, n_rows)
    suppkey = (partkey + linenumber * (n_supp // 4 + 1)) % n_supp + 1
    quantity = rng.integers(1, 51, n_rows)
    retail_cents = 90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)
    price_cents = quantity * retail_cents
    discount_pct = rng.integers(0, 11, n_rows)
    tax_pct = rng.integers(0, 9, n_rows)
    order_day = rng.integers(0, 2405, len(lines))[order_idx]
    ship_us = (_EPOCH_1992_US
               + (order_day + rng.integers(1, 122, n_rows)) * _DAY_US)
    receipt_us = ship_us + rng.integers(1, 31, n_rows) * _DAY_US
    returned = np.where(rng.random(n_rows) < 0.5, "R", "A")
    returnflag = np.where(receipt_us <= _CUTOFF_US, returned, "N")
    linestatus = np.where(ship_us > _CUTOFF_US, "O", "F")
    return {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": suppkey.astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity.astype(np.float64),
        "l_extendedprice": price_cents / 100.0,
        "l_discount": discount_pct / 100.0,
        "l_tax": tax_pct / 100.0,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": ship_us.astype(np.int64),
        "_price_cents": price_cents, "_discount_pct": discount_pct,
        "_tax_pct": tax_pct,
    }


def write_lineitem(dirpath: str, n_rows: int, n_files: int,
                   n_chunks: int, seed: int) -> dict:
    """Write lineitem as `n_files` parquet files and return the
    reference aggregate, raw byte count and integer LEB128 histograms."""
    os.makedirs(dirpath)
    a = lineitem_arrays(n_rows, seed)
    tbl = pa.table({
        c: (pa.array(a[c], type=pa.timestamp("us", tz="UTC"))
            if c == "l_shipdate" else pa.array(a[c]))
        for c in LINEITEM_COLUMNS})
    step = -(-n_rows // n_files)
    for f in range(n_files):
        pq.write_table(tbl.slice(f * step, step),
                       f"{dirpath}/part-{f:05d}.parquet",
                       compression="zstd")
    sums = {
        "n_rows": n_rows,
        "sum_orderkey": int(a["l_orderkey"].sum()),
        "sum_partkey": int(a["l_partkey"].sum()),
        "sum_suppkey": int(a["l_suppkey"].sum()),
        "sum_linenumber": int(a["l_linenumber"].sum(dtype=np.int64)),
        "sum_shipdate_s": int((a["l_shipdate"] // 1_000_000).sum()),
        "sum_quantity": int(a["l_quantity"].sum()),
        "sum_price_cents": int(a["_price_cents"].sum()),
        "sum_discount_pct": int(a["_discount_pct"].sum()),
        "sum_tax_pct": int(a["_tax_pct"].sum()),
        "n_returned": int((a["l_returnflag"] == "R").sum()),
        "n_open": int((a["l_linestatus"] == "O").sum()),
    }
    # raw size as the engine counts it: fixed-width values at their
    # width; the two 1-byte flag columns as data plus int64 offsets
    raw = sum(a[c].dtype.itemsize * n_rows for c in LINEITEM_COLUMNS
              if c not in ("l_returnflag", "l_linestatus", "l_shipdate"))
    raw += 8 * n_rows + 2 * (n_rows + 8 * n_rows + 8 * n_chunks)
    hists = {c: leb128_hist(a[c]) for c in LINEITEM_INT_COLUMNS}
    return {"rows": n_rows, "chunks": n_chunks, "raw_bytes": raw,
            "sums": sums, "int_hist": hists}
