"""Seeded benchmark inputs, staging, and content fingerprints.

Everything here is driver-side pyarrow/numpy: the engine receives only
the staged parquet files these functions write.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_go_spark.codec import content_crc
from parquet_go_spark.fixtures import make_transcripts

LINEITEM_KEYS = ("l_orderkey", "l_linenumber")
TRANSCRIPT_KEYS = ("conv_id", "turn_idx")


def transcripts(n_conv: int, seed: int) -> pa.Table:
    return make_transcripts(n_conv, seed).combine_chunks()


def lineitem(n_orders: int, seed: int) -> pa.Table:
    """TPC-H lineitem-shaped table: int64 keys, four decimal-valued
    doubles, two one-letter flags and a day-granular timestamp. Order
    keys are a seeded subset of ``[0, 4·n_orders)``; each order has 1-7
    lines numbered from 1, so (l_orderkey, l_linenumber) is unique."""
    rng = np.random.default_rng(seed)
    okeys = np.sort(rng.choice(4 * n_orders, n_orders, replace=False))
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    first = np.repeat(np.cumsum(lines) - lines, lines)
    partkey = rng.integers(0, 20_000, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100
    ship = np.datetime64("1995-01-02", "us") + (
        rng.integers(0, 2_500, n) * 86_400_000_000).astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(np.repeat(okeys, lines), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - first + 1, pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * retail, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def stage_slices(tbl: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Split ``tbl`` row-wise into ``n_files`` parquet files with small
    row groups, so the Spark scan has parallel splits."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-tbl.num_rows // n_files)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(tbl.slice(i * step, step), p, row_group_size=1 << 15)
        paths.append(p)
    return paths


def stage_key_groups(tbl: pa.Table, out_dir: str, n_files: int,
                     seed: int) -> list[str]:
    """Split a key-sorted ``tbl`` into ``n_files`` contiguous key ranges,
    rows shuffled within each file: pre-grouped input for the direct
    path, whose tasks sort their own files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    step = -(-tbl.num_rows // n_files)
    paths = []
    for i in range(n_files):
        part = tbl.slice(i * step, step)
        part = part.take(pa.array(rng.permutation(part.num_rows)))
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, p)
        paths.append(p)
    return paths


def reference_bytes(tbl: pa.Table, path: str) -> int:
    """Bytes of pyarrow's default (snappy + dictionary) Parquet file."""
    pq.write_table(tbl, path)
    return os.path.getsize(path)


def normalize(tbl: pa.Table) -> pa.Table:
    """Make a Spark-returned table comparable with the source: strip
    the session time zone and read timestamps as int64 micros, and use
    32-bit string offsets."""
    cols = []
    for name in tbl.column_names:
        c = tbl.column(name)
        t = c.type
        if pa.types.is_timestamp(t):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_large_string(t):
            c = c.cast(pa.string())
        cols.append(c.combine_chunks())
    return pa.table(cols, names=tbl.column_names)


def sort_by(tbl: pa.Table, keys) -> pa.Table:
    return tbl.take(pc.sort_indices(tbl, sort_keys=[(k, "ascending")
                                                    for k in keys]))


def fingerprint(tbl: pa.Table, keys=None) -> tuple[int, dict[str, int]]:
    """(row count, {column: content CRC}) of ``tbl`` sorted by ``keys``
    (all columns when None: multiset equality for projections)."""
    tbl = normalize(tbl)
    tbl = sort_by(tbl, keys or tbl.column_names)
    return tbl.num_rows, {n: content_crc(tbl.column(n).combine_chunks())
                          for n in tbl.column_names}
