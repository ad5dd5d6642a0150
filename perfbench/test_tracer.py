from __future__ import annotations

import json
import os
import time

import pytest


def test_self_times_subtract_children():
    from tracer import Tracer

    tr = Tracer("t")
    with tr.span("root") as root:
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("b"):
                time.sleep(0.01)
        with tr.span("c"):
            time.sleep(0.01)
    selfs = tr.self_times()
    by = {s.name: s for s in tr.spans}
    assert by["b"].parent == by["a"].id and by["a"].parent == root.id
    assert selfs[by["a"].id] == pytest.approx(by["a"].dur - by["b"].dur)
    assert sum(selfs[s.id] for s in tr.subtree(root)) == pytest.approx(root.dur)


def test_wrap_times_calls_and_restores():
    import types

    from tracer import Tracer

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer("t")
    tr.wrap(mod, "f", "mod.f", on_call=lambda s, a, k, r: s.attrs.update(r=r))
    assert mod.f(1) == 2
    tr.unwrap_all()
    assert mod.f is orig
    assert [(s.name, s.attrs["r"]) for s in tr.spans] == [("mod.f", 2)]


def _tiny(name):
    import workloads

    wl = type(workloads.WORKLOADS[name])()
    if name == "transcript_shuffle":
        wl.n_conv, wl.n_files, wl.num_chunks = 300, 4, 4
    else:
        wl.n_orders, wl.n_files = 3_000, 4
    return wl


# per-layer metrics whose source runs on every workload: each must read
# above 0, so a wrapper that stops firing (say, after the engine rebinds
# the wrapped name) fails here rather than reporting a silent 0
NONZERO_ALL = (
    "table.scan_exchange_run_s", "table.encode_stage_run_s",
    "table.decode_stage_run_s", "table.driver_s",
    "manifest.commit_s", "manifest.load_s", "manifest.entries",
    "decode.prune_s", "decode.chunks_read", "decode.chunks_total",
    "decode.read_ratio", "decode.bytes_read",
    "decode.rows_decoded_per_row_returned", "decode.task_s",
    "decode.task_self_s", "encode.task_s", "encode.task_self_s",
    "encode.chunk_write_s", "encode.chunks", "encode.rows",
    "plan.profile_s", "plan.choose_s", "plan.columns",
    "codec.encode_s.dict", "codec.decode_s.dict",
    "codec.encode_s.deltap", "codec.decode_s.deltap",
    "codec.encode_useful_ratio", "codec.crc_s",
)
NONZERO = {
    "transcript_shuffle": NONZERO_ALL + (
        "table.shuffle_bytes", "codec.encode_s.fsst", "codec.decode_s.fsst"),
    "lineitem_direct": NONZERO_ALL + (
        "codec.encode_s.alp", "codec.decode_s.alp",
        "codec.trial_encodes", "codec.trial_encode_s"),
}


@pytest.mark.parametrize("name", ["transcript_shuffle", "lineitem_direct"])
def test_traced_run_emits_every_layer_metric(work, name):
    """A traced run on a tiny input: spans nest, replay self times sum to
    the replay wall time, every per-layer metric is emitted (and listed
    in BENCHMARK.json), and each one whose source runs on the workload
    reads above 0."""
    import host
    import layers
    import run as runmod

    wl = _tiny(name)
    r = runmod.Run(wl, seed=3, seconds=1, work=os.path.join(work, name))
    os.makedirs(r.work)
    metrics, notes = layers.traced_run(r, host)
    assert r.failed == 0 and r.attempted > 0

    with open(os.path.join(runmod.ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(metrics) == set(layers.METRICS) == listed

    m = {k: v for k, (v, _, _) in metrics.items()}
    assert [k for k in NONZERO[name] if not m[k] > 0] == []
    assert m["encode.chunks"] == 4 and m["manifest.entries"] == 4
    assert m["encode.rows"] == notes["rows"]
    assert m["encode.task_self_s"] < m["encode.task_s"]
    assert m["decode.task_self_s"] < m["decode.task_s"]
    assert m["decode.chunks_read"] <= m["decode.chunks_total"]
    assert m["codec.encode_useful_ratio"] <= 1
    assert m["table.encode_task_skew"] >= 1
    assert m["kernels.native_loaded"] in (0.0, 1.0)
    assert m["table.failed_tasks"] == 0
    if name == "transcript_shuffle":
        assert m["codec.encode_s.alp"] == 0
    else:
        assert m["codec.encode_s.fsst"] == 0
        # the direct path ships file lists, not rows, through its exchange
        assert m["table.shuffle_bytes"] < 100_000
        assert m["decode.read_ratio"] < 1     # key-range chunks prune

    with open(notes["trace_file"]) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            assert p["start_s"] <= s["start_s"] <= s["end_s"] <= p["end_s"]
    root = next(s for s in spans if s["name"] == "replay")
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    todo, total = [root], 0.0
    while todo:
        s = todo.pop()
        total += s["self_s"]
        todo += kids.get(s["id"], [])
    assert total == pytest.approx(root["end_s"] - root["start_s"], rel=1e-6)
