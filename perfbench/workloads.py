"""The benchmark workloads: inputs, the write call, and read mixes.

Every workload runs the same phases (see run.py), so every end-to-end
metric exists on each; they differ in input shape, write path and how
the chunks line up with the read mix's window column:

- transcript_shuffle: text-heavy transcripts through the default
  shuffle path of ``table.write_table``. Chunks are hash-assigned, so
  ``ts`` windows prune nothing and every read decodes every chunk's
  predicate column (blob-level row filtering does the selection).
- lineitem_direct: a numeric lineitem-shaped table through
  ``table.write_table_direct`` (no exchange, no text). Chunks are
  order-key ranges, so ``l_orderkey`` windows prune to one or two
  chunks from the manifest.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import inputs
from parquet_go_spark import table as T
from parquet_go_spark.manifest import stat_value

# one read-mix cycle: windowed and projected reads and manifest-only
# calls, in a fixed order so every run has the same mix (full-table reads
# are timed apart, for decode_mb_s)
READ_CYCLE = ("narrow", "count", "wide", "stats", "narrow", "column")
NARROW_FRAC = 1 / 200   # window width as a share of the key's range
WIDE_FRAC = 1 / 20
_EPOCH = datetime.datetime(1970, 1, 1)


@dataclass
class Dataset:
    table: pa.Table          # source rows, as generated
    files: list[str]         # staged engine input
    raw_bytes: int           # Arrow bytes of the source
    ref_bytes: int           # pyarrow default Parquet file of the source


@dataclass(frozen=True)
class ReadOp:
    kind: str
    column: str | None = None     # projected/stats column
    columns: tuple = ()           # projection of windowed reads
    lo: object = None             # window bounds on the mix's key column
    hi: object = None


@dataclass(frozen=True)
class ReadMix:
    key: str                      # window column
    narrow_cols: tuple
    wide_cols: tuple
    column_cycle: tuple
    stats_cycle: tuple


class Workload:
    name: str
    keys: tuple
    mix: ReadMix

    def generate(self, seed: int) -> pa.Table:
        raise NotImplementedError

    def stage(self, tbl: pa.Table, seed: int, out_dir: str) -> list[str]:
        raise NotImplementedError

    def writer(self, spark, ds: Dataset):
        """Plan the engine write of ``ds.files``; returns
        ``write(table_dir) -> result``, which makes exactly the
        ``table.write_table*`` call."""
        raise NotImplementedError

    def setup(self, spark, seed: int, work: str) -> Dataset:
        tbl = self.generate(seed)
        files = self.stage(tbl, seed, os.path.join(work, "input"))
        return Dataset(tbl, files, tbl.nbytes, inputs.reference_bytes(
            tbl, os.path.join(work, "ref.parquet")))

    # -- read mix ---------------------------------------------------------

    def read_ops(self, ds: Dataset, seed: int, n: int) -> list[ReadOp]:
        rng = np.random.default_rng([seed, 7])
        kcol = ds.table.column(self.mix.key)
        if pa.types.is_timestamp(kcol.type):
            kcol = kcol.cast(pa.int64())
        kmin, kmax = pc.min(kcol).as_py(), pc.max(kcol).as_py()
        ops, n_col, n_stats = [], 0, 0
        for i in range(n):
            kind = READ_CYCLE[i % len(READ_CYCLE)]
            if kind in ("narrow", "wide"):
                frac = NARROW_FRAC if kind == "narrow" else WIDE_FRAC
                width = max(1, int((kmax - kmin) * frac))
                lo = int(rng.integers(kmin, max(kmin + 1, kmax - width)))
                cols = (self.mix.narrow_cols if kind == "narrow"
                        else self.mix.wide_cols)
                ops.append(ReadOp(kind, columns=cols, lo=self._key_value(ds, lo),
                                  hi=self._key_value(ds, lo + width)))
            elif kind == "column":
                ops.append(ReadOp(kind, column=self.mix.column_cycle[
                    n_col % len(self.mix.column_cycle)]))
                n_col += 1
            elif kind == "stats":
                ops.append(ReadOp(kind, column=self.mix.stats_cycle[
                    n_stats % len(self.mix.stats_cycle)]))
                n_stats += 1
            else:
                ops.append(ReadOp(kind))
        return ops

    def _key_value(self, ds: Dataset, v: int):
        if pa.types.is_timestamp(ds.table.schema.field(self.mix.key).type):
            return _EPOCH + datetime.timedelta(microseconds=v)
        return v

    def run_read(self, spark, table_dir: str, op: ReadOp):
        """One read of the mix; returns what the caller receives."""
        if op.kind == "count":
            return T.count_rows(table_dir)
        if op.kind == "stats":
            return T.column_stats(table_dir, op.column)
        if op.kind == "column":
            return T.read_table(spark, table_dir, columns=[op.column]).toArrow()
        return T.read_table(
            spark, table_dir, columns=list(op.columns),
            predicates={self.mix.key: (op.lo, op.hi)}, push_row_filter=True,
        ).toArrow()

    def check_read(self, ds: Dataset, op: ReadOp, got) -> str | None:
        """None when ``got`` matches a pyarrow evaluation of ``op`` on
        the source, else a description of the mismatch."""
        src = ds.table
        if op.kind == "count":
            want = src.num_rows
        elif op.kind == "stats":
            col = src.column(op.column)
            numeric = (pa.types.is_integer(col.type)
                       or pa.types.is_floating(col.type))
            if pa.types.is_timestamp(col.type):  # stats hold int micros
                col = col.cast(pa.int64())
            want = {"count": len(col), "null_count": col.null_count,
                    "min": stat_value(pc.min(col).as_py()),
                    "max": stat_value(pc.max(col).as_py())}
            if numeric:
                want["sum"] = pc.sum(col).as_py()
            got_sum = got.get("sum")
            if "sum" in want and got_sum is not None and pa.types.is_floating(col.type):
                if abs(got_sum - want["sum"]) <= 1e-9 * max(1.0, abs(want["sum"])):
                    got = {**got, "sum": want["sum"]}
            got = {k: got.get(k) for k in want}
        elif op.kind == "column":
            want = inputs.fingerprint(src.select([op.column]))
            got = inputs.fingerprint(got)
        else:
            k = src.column(self.mix.key)
            lo = pa.scalar(op.lo, k.type)
            hi = pa.scalar(op.hi, k.type)
            mask = pc.and_(pc.greater_equal(k, lo), pc.less_equal(k, hi))
            want = inputs.fingerprint(src.filter(mask).select(list(op.columns)))
            got = inputs.fingerprint(got)
        return None if got == want else f"{op}: got {got!r}, want {want!r}"


class TranscriptShuffle(Workload):
    name = "transcript_shuffle"
    keys = inputs.TRANSCRIPT_KEYS
    n_conv = 10_000         # ~51 MB raw; 16 chunks of ~3 MB
    n_files = 32
    num_chunks = 16
    mix = ReadMix(key="ts", narrow_cols=("text",), wide_cols=("role", "tool"),
                  column_cycle=("role", "tool", "turn_idx", "ts"),
                  stats_cycle=("turn_idx", "ts"))
    def generate(self, seed):
        return inputs.transcripts(self.n_conv, seed)

    def stage(self, tbl, seed, out_dir):
        return inputs.stage_slices(tbl, out_dir, self.n_files)

    def writer(self, spark, ds):
        df = spark.read.parquet(*ds.files)
        return lambda out: T.write_table(df, out, key_cols=self.keys,
                                         num_chunks=self.num_chunks)


class LineitemDirect(Workload):
    name = "lineitem_direct"
    keys = inputs.LINEITEM_KEYS
    n_orders = 150_000      # ~600k rows, ~47 MB raw; one chunk per file
    n_files = 16
    mix = ReadMix(key="l_orderkey", narrow_cols=("l_extendedprice",),
                  wide_cols=("l_returnflag", "l_linestatus"),
                  column_cycle=("l_quantity", "l_discount", "l_shipdate",
                                "l_returnflag"),
                  stats_cycle=("l_quantity", "l_extendedprice", "l_partkey"))
    def generate(self, seed):
        return inputs.lineitem(self.n_orders, seed)

    def stage(self, tbl, seed, out_dir):
        return inputs.stage_key_groups(tbl, out_dir, self.n_files, seed)

    def writer(self, spark, ds):
        return lambda out: T.write_table_direct(spark, ds.files, out,
                                                key_cols=self.keys)



WORKLOADS = {w.name: w for w in (TranscriptShuffle(), LineitemDirect())}
