"""Layered benchmark of the columnar-encode engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``;
every operation's output is checked against the source. The last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of one traced pass (see layers.py).

Every workload runs the same phases, so every end-to-end metric exists
on each; the workload sets the input, the write path and the read mix:

1. set-up: the Spark start, then SETUP_REPS repetitions (median kept) of
   input generation, staging and the reference Parquet write;
2. warm-up (untimed): one write at local[N], N = this host's CPU count,
   and a full-content check of its table, which is also the first
   (cold) full read;
3. writes at local[N] for ENCODE_SHARE of ``--seconds`` (at least
   MIN_SAMPLES); they give encode_mb_s;
4. full-table reads of the last table for DECODE_SHARE of ``--seconds``
   (at least MIN_DECODES); they give decode_mb_s;
5. the read mix on the same table: READS_PER_S reads per second of
   ``--seconds``, at least MIN_READS, so the tail percentile is the same
   on every run;
6. SINGLE_WRITES writes at local[1], after starting the new context's
   Python worker with the engine imported (the JVM is already warm).
   They give encode_mb_s_1core and scaling_eff, printed on the ``#``
   lines but not in the JSON result (see LAYERS.md).

Work files live under ``.perfbench/`` at the repository root and are
removed at exit; the compiled kernel stays in ``.perfbench/tmp/`` and
traces in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
ENCODE_SHARE = 0.3
DECODE_SHARE = 0.2
MIN_SAMPLES = 3          # timed writes, whatever the budget
MIN_DECODES = 6          # timed full reads, whatever the budget
READS_PER_S = 1.5        # the rest of --seconds, at ~0.6 s per Spark read
MIN_READS = 30           # floor of the read mix
SINGLE_WRITES = 1        # local[1] writes (not gated, so kept few)
TAIL_MIN_BEYOND = 10     # samples the reported tail must leave above it


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with
    at least TAIL_MIN_BEYOND samples above it (the maximum when there
    are fewer samples than that)."""
    s = sorted(values)
    k = max(1, len(s) - TAIL_MIN_BEYOND)
    return s[k - 1], 100 * k / len(s)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


class Run:
    """One benchmark invocation: counts operations and failures."""

    def __init__(self, workload, seed: int, seconds: float, work: str):
        self.wl, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.attempted = self.failed = 0
        self._n_tables = 0
        # traced runs set this to ``around(what, fn) -> fn()`` to wrap
        # each operation (spans, Spark job metrics)
        self.around = None

    def new_table_dir(self) -> str:
        self._n_tables += 1
        return os.path.join(self.work, "tables", f"t{self._n_tables:04d}")

    def op(self, what: str, fn, check=None):
        """Run one operation; ``check(result)`` (untimed) returns an error
        string or None. Returns (seconds, result), or (None, None) when
        the operation raised or its check failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.around(what, fn) if self.around else fn()
            dt = time.perf_counter() - t0
            err = check(result) if check else None
        except Exception:  # an engine failure is a benchmark outcome
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        if err:
            self.failed += 1
            print(f"FAILED {what}: {err}", file=sys.stderr)
            return None, None
        return dt, result

    # -- the operations ---------------------------------------------------

    def write(self, spark, ds):
        write = self.wl.writer(spark, ds)
        out = self.new_table_dir()
        want = ds.table.num_rows
        dt, info = self.op(
            "write", lambda: write(out),
            lambda r: None if r["n_rows"] == want
            else f"wrote {r['n_rows']} rows, want {want}")
        return dt, info, out

    def full_read(self, spark, ds, table_dir):
        from parquet_go_spark import table as T

        want = ds.table.num_rows
        dt, _ = self.op(
            "full read", lambda: T.read_table(spark, table_dir).count(),
            lambda n: None if n == want else f"read {n} rows, want {want}")
        return dt

    def content_check(self, spark, ds, table_dir) -> None:
        """Decoded rows equal the source under key order (content CRC
        per column and row count)."""
        import inputs
        from parquet_go_spark import table as T

        want = inputs.fingerprint(ds.table, self.wl.keys)
        self.op("content check",
                lambda: T.read_table(spark, table_dir).toArrow(),
                lambda t: None if inputs.fingerprint(t, self.wl.keys) == want
                else "decoded table differs from the source")

    def read_mix(self, spark, ds, table_dir, n: int) -> list[tuple[str, float]]:
        """(kind, seconds) of each read of the mix that succeeded."""
        lat = []
        for op in self.wl.read_ops(ds, self.seed, n):
            dt, _ = self.op(f"read {op}",
                            lambda: self.wl.run_read(spark, table_dir, op),
                            lambda got: self.wl.check_read(ds, op, got))
            if dt is not None:
                lat.append((op.kind, dt))
        return lat


def timed_loop(budget_s: float, step, min_n: int = MIN_SAMPLES) -> None:
    """Call ``step()`` at least ``min_n`` times and until ``budget_s``
    has passed."""
    t0, n = time.perf_counter(), 0
    while n < min_n or time.perf_counter() - t0 < budget_s:
        step()
        n += 1


def setup_phase(run: Run, spark):
    """SETUP_REPS set-ups; returns (last dataset, per-rep seconds)."""
    times, ds = [], None
    for rep in range(SETUP_REPS):
        d = os.path.join(run.work, f"setup{rep}")
        t0 = time.perf_counter()
        ds = run.wl.setup(spark, run.seed, d)
        times.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(d, ignore_errors=True)
    return ds, times


def measure(run: Run, host) -> tuple[dict, dict]:
    """The untraced run: ({metric: (value, unit, note)}, notes)."""
    cores = host.host_cores()
    S = run.seconds
    phases: dict[str, float] = {}

    @contextmanager
    def phase(name):
        t0 = time.perf_counter()
        yield
        phases[name] = round(time.perf_counter() - t0, 2)

    enc, dec, enc1, infos = [], [], [], []
    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = host.start_spark(f"local[{cores}]", run.work)
        session_s = time.perf_counter() - t0
        try:
            with phase("setup"):
                ds, setups = setup_phase(run, spark)
            with phase("warm-up"):  # Python workers, JIT, kernel load
                _, _, warm = run.write(spark, ds)
                run.content_check(spark, ds, warm)
                shutil.rmtree(warm, ignore_errors=True)
            tables = []

            def write():
                dt, info, out = run.write(spark, ds)
                if dt is not None:
                    enc.append(dt)
                    infos.append(info)
                    tables.append(out)
                    if len(tables) > 1:
                        shutil.rmtree(tables.pop(0), ignore_errors=True)

            def full_read():
                dt = run.full_read(spark, ds, tables[-1])
                if dt is not None:
                    dec.append(dt)

            with phase("encode"):
                timed_loop(ENCODE_SHARE * S, write)
            with phase("decode"):
                timed_loop(DECODE_SHARE * S, full_read, MIN_DECODES)
            with phase("read mix"):
                lat = run.read_mix(spark, ds, tables[-1], max(
                    MIN_READS, math.ceil(READS_PER_S * S)))
        finally:
            spark.stop()

        spark = host.start_spark("local[1]", run.work)
        try:
            def single():
                dt, _, out = run.write(spark, ds)
                if dt is not None:
                    enc1.append(dt)
                shutil.rmtree(out, ignore_errors=True)

            with phase("encode 1 core"):
                host.start_python_workers(spark, 1)
                for _ in range(SINGLE_WRITES):
                    single()
        finally:
            spark.stop()

    mb = ds.raw_bytes / 1e6
    enc_bytes = [i["enc_bytes"] for i in infos]
    lat = [dt for _, dt in lat]
    tail_s, tail_p = tail(lat)
    enc_mb_s = mb / statistics.median(enc)
    enc1_mb_s = mb / statistics.median(enc1)
    metrics = {
        "setup_s": (session_s + statistics.median(setups), "s",
                    f"Spark start {session_s:.3f} s + median of {samples_str(setups)}"),
        "encode_mb_s": (enc_mb_s, "MB/s",
                        f"local[{cores}], median of {samples_str(enc)}"),
        "decode_mb_s": (mb / statistics.median(dec), "MB/s",
                        f"full reads, median of {samples_str(dec)}"),
        "encoded_bytes": (enc_bytes[0], "B",
                          f"local[{cores}], {infos[0]['n_chunks']} chunks; "
                          f"same on every write: {len(set(enc_bytes)) == 1}"),
        "size_vs_reference": (enc_bytes[0] / ds.ref_bytes, "ratio",
                              f"{enc_bytes[0]} B / {ds.ref_bytes} B"),
        "read_p50_ms": (1e3 * percentile(lat, 50), "ms", f"n={len(lat)}"),
        "read_tail_ms": (1e3 * tail_s, "ms", f"p{tail_p:.1f}, n={len(lat)}"),
        "peak_rss_mb": (rss.peak / 1e6, "MB", "driver + JVM + Python workers"),
    }
    # printed, not gated: on a shared host their run-to-run spread is
    # wider than any bound BENCHMARK.json may set (see LAYERS.md)
    notes = {
        "encode_mb_s_1core": f"{enc1_mb_s:.6f} MB/s  local[1], median of "
                             f"{samples_str(enc1)}",
        "scaling_eff": f"{enc_mb_s / (cores * enc1_mb_s):.6f} ratio  "
                       f"1 -> {cores} cores",
        "input": f"{ds.table.num_rows} rows, {ds.raw_bytes} raw bytes",
        "phase_s": phases,
    }
    return metrics, notes


def samples_str(samples: list[float]) -> str:
    return "[" + ", ".join(f"{x:.3f}" for x in samples) + "] s"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "parquet_go_spark", "__init__.py")):
        print(f"engine package parquet_go_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import host

    # tmp outlives the run: it holds the engine's compiled kernel, built
    # on the first run in a checkout; work is this run's and is removed
    base = os.path.join(ROOT, ".perfbench")
    host.prepare_process_env(ROOT, os.path.join(base, "tmp"))
    import workloads  # imports the engine, which builds its kernel

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    run = Run(workloads.WORKLOADS[args.workload], args.seed, args.seconds, work)
    try:
        if args.trace:
            import layers

            metrics, notes = layers.traced_run(run, host)
        else:
            metrics, notes = measure(run, host)
    finally:
        host.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} "
          f"trace={args.trace} attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / max(1, run.attempted):.4f}")
    for k, v in notes.items():
        print(f"#   {k}: {v}")
    for name, (value, unit, beside) in metrics.items():
        print(f"{name:<40} {value:>18.6f} {unit:<6} {beside}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
