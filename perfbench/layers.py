"""The traced run: per-layer metrics measured from outside the engine.

Three sources, all wrapped in this process (no engine source changes):

1. driver-side wrappers around the ``table.*`` calls, the manifest
   commit/load calls and ``decode.prune_entries``;
2. Spark's own job and stage metrics per operation (collector.py);
3. an in-process replay of the task work: the benchmark rebuilds the
   encode/decode task functions with the engine's own ``make_*_fn``
   factories, feeds them the partitions Spark fed its tasks (one call
   per task), and wraps ``plan``/``codec`` where ``encode`` and
   ``decode`` bind them, so trial encodes count as their own calls.

Which end-to-end metric each layer metric should move is in
perfbench/LAYERS.md. Tracing overhead is the traced write and full read
minus the median of UNTRACED_PAIRS untraced ones of the same run.
"""

from __future__ import annotations

import os
import statistics

import pyarrow as pa
import pyarrow.compute as pc

from collector import StatusCollector
from tracer import Tracer
from workloads import READ_CYCLE

CODEC_NAMES = ("alp", "bss", "delta", "deltap", "dict", "for", "fsst",
               "pfor", "plain", "prefix", "rle")
TRACED_READS = 2 * len(READ_CYCLE)
WARMUP_PAIRS = 2
UNTRACED_PAIRS = 3         # the baseline the tracing overhead is taken from

METRICS = {  # name -> unit, in output order
    "table.scan_exchange_run_s": "s",
    "table.shuffle_bytes": "B",
    "table.spill_bytes": "B",
    "table.encode_stage_run_s": "s",
    "table.encode_task_skew": "ratio",
    "table.decode_stage_run_s": "s",
    "table.driver_s": "s",
    "table.failed_tasks": "count",
    "manifest.commit_s": "s",
    "manifest.load_s": "s",
    "manifest.entries": "count",
    "decode.prune_s": "s",
    "decode.chunks_read": "count",
    "decode.chunks_total": "count",
    "decode.read_ratio": "ratio",
    "decode.bytes_read": "B",
    "decode.rows_decoded_per_row_returned": "ratio",
    "decode.task_s": "s",
    "decode.task_self_s": "s",
    "encode.task_s": "s",
    "encode.task_self_s": "s",
    "encode.chunk_write_s": "s",
    "encode.chunks": "count",
    "encode.rows": "count",
    "plan.profile_s": "s",
    "plan.choose_s": "s",
    "plan.columns": "count",
    **{f"codec.encode_s.{c}": "s" for c in CODEC_NAMES},
    "codec.trial_encodes": "count",
    "codec.trial_encode_s": "s",
    "codec.encode_useful_ratio": "ratio",
    **{f"codec.decode_s.{c}": "s" for c in CODEC_NAMES},
    "codec.crc_s": "s",
    "kernels.native_loaded": "flag",
    "trace.encode_overhead_s": "s",
    "trace.decode_overhead_s": "s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class DriverHooks:
    """Driver-side wrappers for the traced Spark operations, plus the
    capture of what each ``mapInArrow`` stage was given (the staged
    DataFrame and the task-function factory arguments) for the replay."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.op = None       # label of the operation being traced
        self.factories: list[tuple[str, str, tuple, dict, object]] = []
        self.frames: list[tuple[object, object]] = []

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from parquet_go_spark import decode as D
        from parquet_go_spark import encode as E
        from parquet_go_spark import manifest as M
        from parquet_go_spark import table as T

        tr = self.tracer
        for name in ("write_table", "write_table_direct", "count_rows",
                     "column_stats"):
            tr.wrap(T, name, f"table.{name}")
        tr.wrap(T, "read_table", "table.read_table",
                before=lambda s, a, k: s.attrs.update(
                    columns=k.get("columns"), predicates=k.get("predicates")))
        tr.wrap(T, "prune_entries", "decode.prune_entries",
                on_call=lambda s, a, k, r: s.attrs.update(
                    n_in=len(a[0]), kept=r))
        tr.wrap(M, "commit", "manifest.commit")
        tr.wrap(M, "commit_shards", "manifest.commit_shards")
        tr.wrap(M, "load", "manifest.load",
                on_call=lambda s, a, k, r: s.attrs.update(
                    entries=len(r["entries"]) if r else 0))
        tr.wrap(M, "load_refs", "manifest.load_refs")

        def factory(kind):
            return lambda s, a, k, r: self.factories.append(
                (kind, self.op, a, k, r))
        tr.wrap(T, "make_encode_fn", "table.make_encode_fn",
                on_call=factory("encode"))
        tr.wrap(E, "make_direct_encode_fn", "table.make_direct_encode_fn",
                on_call=factory("direct"))
        tr.wrap(T, "make_decode_fn", "table.make_decode_fn",
                on_call=factory("decode"))
        tr.wrap(DataFrame, "mapInArrow", "spark.mapInArrow",
                before=lambda s, a, k: self.frames.append((a[0], a[1])))

    def staged(self, op: str):
        """(factory kind, staged DataFrame, factory args, kwargs) of the
        first ``mapInArrow`` stage built during operation ``op``."""
        for kind, in_op, args, kwargs, fn in self.factories:
            if in_op == op:
                for df, func in self.frames:
                    if func is fn:
                        return kind, df, args, kwargs
        raise LookupError(f"no mapInArrow stage captured during {op!r}")


def _partitions(df) -> list[list[pa.RecordBatch]]:
    """The rows of each Spark partition of ``df``, in partition order,
    as Arrow batches of Spark's default maxRecordsPerBatch."""
    from pyspark.sql import functions as F

    col = "_perfbench_pid"
    tbl = df.withColumn(col, F.spark_partition_id()).toArrow()
    pid = tbl.column(col)
    tbl = tbl.drop_columns([col])
    parts = []
    for p in sorted(pc.unique(pid).to_pylist()):
        part = tbl.filter(pc.equal(pid, p))
        parts.append(part.to_batches(max_chunksize=65_536))
    return parts


def replay(tracer: Tracer, hooks: DriverHooks, replay_dir: str):
    """Re-run the traced write's encode tasks and the traced full read's
    decode tasks in this process, one call per Spark task."""
    from parquet_go_spark import decode as D
    from parquet_go_spark import encode as E
    from parquet_go_spark.codec import blob_info

    kind, enc_df, enc_args, enc_kwargs = hooks.staged("write")
    _, dec_df, dec_args, dec_kwargs = hooks.staged("full")
    enc_parts, dec_parts = _partitions(enc_df), _partitions(dec_df)
    factory = (E.make_encode_fn if kind == "encode"
               else E.make_direct_encode_fn)
    encode_fn = factory(replay_dir, *enc_args[1:], **enc_kwargs)
    decode_fn = D.make_decode_fn(*dec_args, **dec_kwargs)

    pending: list = []   # codec.encode spans of the column being encoded

    def encoded(s, a, k, blob):
        s.attrs["codec"] = a[1]
        s.attrs["_blob"] = blob
        pending.append(s)

    def column_done(s, a, k, result):
        blob = result[0]
        for e in pending:
            e.attrs["kept"] = e.attrs.pop("_blob") is blob
        pending.clear()

    tr = tracer
    tr.wrap(E, "_encode_or_reuse", "encode.chunk",
            before=lambda s, a, k: s.attrs.update(rows=a[0].num_rows))
    tr.wrap(E, "_encode_one_column", "encode.column", on_call=column_done)
    tr.wrap(E, "profile_array", "plan.profile")
    tr.wrap(E, "choose_codec", "plan.choose")
    tr.wrap(E, "encode_array", "codec.encode", on_call=encoded)
    tr.wrap(E, "content_crc", "codec.crc")
    tr.wrap(E, "_write_chunk_file", "encode.chunk_write")
    tr.wrap(D, "decode_array", "codec.decode",
            before=lambda s, a, k: s.attrs.update(
                codec=blob_info(a[0])["codec"]))
    try:
        with tr.span("replay") as root:
            for batches in enc_parts:
                with tr.span("encode.task"):
                    for _ in encode_fn(iter(batches)):
                        pass
            for batches in dec_parts:
                with tr.span("decode.task"):
                    for _ in decode_fn(iter(batches)):
                        pass
    finally:
        tr.unwrap_all()
    return root


def layer_metrics(tracer: Tracer, calls: list, replay_root,
                  native_loaded: bool, overhead: dict) -> dict:
    """Per-layer metrics from the spans, the Spark call metrics and the
    replay subtree."""
    spans = tracer.spans
    selfs = tracer.self_times()
    by_id = {s.id: s for s in spans}
    replayed = {s.id for s in tracer.subtree(replay_root)}

    def total(name, pool=None):
        return sum(s.dur for s in spans if s.name == name
                   and (pool is None or s.id in pool))

    def named(name, pool=None):
        return [s for s in spans if s.name == name
                and (pool is None or s.id in pool)]

    m = {k: 0.0 for k in METRICS}
    writes = [cm for label, cm in calls if label == "write"]
    reads = [cm for label, cm in calls if label in ("full", "read")]
    for cm in writes:
        for st in cm.stages:
            m["table.shuffle_bytes"] += st.shuffle_write_bytes
            m["table.spill_bytes"] += st.spill_bytes
            if st.udf:
                m["table.encode_stage_run_s"] += st.run_s
                m["table.encode_task_skew"] = max(
                    m["table.encode_task_skew"],
                    _ratio(st.task_run_max_s, st.task_run_p50_s))
            else:
                m["table.scan_exchange_run_s"] += st.run_s
    for cm in reads:
        m["table.decode_stage_run_s"] += sum(st.run_s for st in cm.stages
                                             if st.udf)
    for _, cm in calls:
        m["table.driver_s"] += cm.driver_s
        m["table.failed_tasks"] += sum(st.failed_tasks for st in cm.stages)

    m["manifest.commit_s"] = (total("manifest.commit")
                              + total("manifest.commit_shards"))
    m["manifest.load_s"] = sum(  # outermost loads (load calls load_refs)
        s.dur for s in spans
        if s.name in ("manifest.load", "manifest.load_refs")
        and not by_id[s.parent].name.startswith("manifest."))
    m["manifest.entries"] = max([s.attrs["entries"]
                                 for s in named("manifest.load")] or [0])

    rows_decoded = rows_returned = 0
    for rt in named("table.read_table"):
        cols = rt.attrs.get("columns")
        preds = rt.attrs.get("predicates") or {}
        for pr in (s for s in spans if s.parent == rt.id
                   and s.name == "decode.prune_entries"):
            kept = pr.attrs["kept"]
            m["decode.prune_s"] += pr.dur
            m["decode.chunks_total"] += pr.attrs["n_in"]
            m["decode.chunks_read"] += len(kept)
            for e in kept:
                proj = set(cols or e["columns"]) | set(preds)
                m["decode.bytes_read"] += sum(
                    e["columns"][c]["enc_bytes"] for c in proj
                    if c in e["columns"])
                rows_decoded += e["n_rows"]
        op = by_id.get(rt.parent)
        if op is not None:
            rows_returned += op.attrs.get("rows_returned", 0)
    m["decode.read_ratio"] = _ratio(m["decode.chunks_read"],
                                    m["decode.chunks_total"])
    m["decode.rows_decoded_per_row_returned"] = _ratio(rows_decoded,
                                                       rows_returned)

    rp = replayed
    m["decode.task_s"] = total("decode.task", rp)
    m["decode.task_self_s"] = sum(selfs[s.id] for s in named("decode.task", rp))
    m["encode.task_s"] = total("encode.task", rp)
    m["encode.task_self_s"] = sum(
        selfs[s.id] for s in spans if s.id in rp
        and s.name in ("encode.task", "encode.chunk", "encode.column"))
    m["encode.chunk_write_s"] = total("encode.chunk_write", rp)
    chunks = named("encode.chunk", rp)
    m["encode.chunks"] = len(chunks)
    m["encode.rows"] = sum(s.attrs["rows"] for s in chunks)
    m["plan.profile_s"] = total("plan.profile", rp)
    m["plan.choose_s"] = total("plan.choose", rp)
    m["plan.columns"] = len(named("plan.profile", rp))
    encodes = named("codec.encode", rp)
    for s in encodes:
        if s.attrs.get("kept"):
            m[f"codec.encode_s.{s.attrs['codec']}"] += s.dur
        else:
            m["codec.trial_encodes"] += 1
            m["codec.trial_encode_s"] += s.dur
    m["codec.encode_useful_ratio"] = _ratio(
        len(encodes) - m["codec.trial_encodes"], len(encodes))
    for s in named("codec.decode", rp):
        m[f"codec.decode_s.{s.attrs['codec']}"] += s.dur
    m["codec.crc_s"] = total("codec.crc", rp)
    m["kernels.native_loaded"] = 1.0 if native_loaded else 0.0
    m["trace.encode_overhead_s"] = overhead["encode"]
    m["trace.decode_overhead_s"] = overhead["decode"]
    return m


def _native_loaded(spark) -> bool:
    """Whether the compiled kernels loaded in this process and in a
    Spark Python worker (a silent numpy fallback changes every fsst
    number)."""
    from parquet_go_spark.kernels import native

    def probe(_):
        from parquet_go_spark.kernels import native as n

        return n.available()

    in_worker = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    return native.available() and all(in_worker)


def traced_run(run, host):
    """One set-up, WARMUP_PAIRS + UNTRACED_PAIRS untraced write + full
    read pairs, one traced pair and a traced read mix, then the replay."""
    wl = run.wl
    cores = host.host_cores()
    tracer = Tracer(run_id=f"{wl.name}-seed{run.seed}-pid{os.getpid()}")
    spark = host.start_spark(f"local[{cores}]", run.work)
    try:
        ds = wl.setup(spark, run.seed, os.path.join(run.work, "setup"))
        enc0, dec0 = [], []
        for i in range(WARMUP_PAIRS + UNTRACED_PAIRS):
            dt, _, out = run.write(spark, ds)
            dd = run.full_read(spark, ds, out)
            if i >= WARMUP_PAIRS and dt is not None and dd is not None:
                enc0.append(dt)
                dec0.append(dd)

        collector = StatusCollector(spark)
        hooks = DriverHooks(tracer)
        calls: list = []

        def around(what, fn):
            label = what.split(" ")[0]
            hooks.op = label
            with tracer.span(f"op.{label}") as sp:
                result, cm = collector.run(label, fn)
            if isinstance(result, pa.Table):
                sp.attrs["rows_returned"] = result.num_rows
            elif label == "full":
                sp.attrs["rows_returned"] = result
            calls.append((label, cm))
            return result

        hooks.install()
        run.around = around
        try:
            _, _, traced_dir = run.write(spark, ds)
            run.full_read(spark, ds, traced_dir)
            run.read_mix(spark, ds, traced_dir, TRACED_READS)
        finally:
            run.around = None
            tracer.unwrap_all()
        write_cm = next(cm for label, cm in calls if label == "write")
        read_cm = next(cm for label, cm in calls if label == "full")
        overhead = {"encode": write_cm.wall_s - statistics.median(enc0),
                    "decode": read_cm.wall_s - statistics.median(dec0)}
        root = replay(tracer, hooks, os.path.join(run.work, "replay"))
        native_loaded = _native_loaded(spark)
    finally:
        spark.stop()

    metrics = layer_metrics(tracer, calls, root, native_loaded, overhead)
    out_dir = os.path.join(os.path.dirname(run.work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-seed{run.seed}.json")
    tracer.dump(path, extra={
        "spark_calls": [{"label": label, "wall_s": cm.wall_s,
                         "jobs_s": cm.jobs_s, "n_jobs": cm.n_jobs,
                         "stages": [vars(st) for st in cm.stages]}
                        for label, cm in calls],
        "metrics": metrics,
    })
    selfs = tracer.self_times()
    by_name: dict[str, float] = {}
    for s in tracer.subtree(root):
        by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.id]
    notes = {
        "trace_file": path,
        "rows": ds.table.num_rows,
        "spans": len(tracer.spans),
        "replay_wall_s": round(root.dur, 4),
        "replay_self_s_by_layer": {k: round(v, 4) for k, v in
                                   sorted(by_name.items(),
                                          key=lambda kv: -kv[1])},
        "untraced_encode_s": [round(x, 4) for x in enc0],
        "untraced_decode_s": [round(x, 4) for x in dec0],
        "spark_jobs": sum(cm.n_jobs for _, cm in calls),
        "median_op_driver_s": round(statistics.median(
            cm.driver_s for _, cm in calls), 4),
    }
    return {k: (metrics[k], u, "") for k, u in METRICS.items()}, notes
