"""Benchmark self-tests: generator determinism, metric names against
BENCHMARK.json, span self-time accounting and the host guard of the
comparator. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

import pytest

from perfbench import compare, gen, spec, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators ------------------------------------------------------------


def test_pgn_batch_same_seed_same_bytes():
    a, ta = gen.pgn_batch(7, 200)
    b, tb = gen.pgn_batch(7, 200)
    assert a == b and ta == tb


def test_pgn_batch_other_seed_other_data():
    a, _ = gen.pgn_batch(7, 200)
    b, _ = gen.pgn_batch(8, 200)
    assert a != b


def test_pgn_batch_plants_the_fixture_mix():
    text, info = gen.pgn_batch(3, 2000)
    shares = info["shares"]
    # FIXTURES.md §2: ~5% each missing field, bad result, re-versioned id
    # and combined dirt, ~10% single dirty field
    for k in ("missing_share", "bad_result_share", "reversion_share", "combined_share"):
        assert 0.03 < shares[k] < 0.07, k
    assert 0.08 < shares["dirty_share"] < 0.12
    assert 0 < shares["no_site_share"] < 0.04
    assert text.count("[Event ") == info["blocks"] == 2000
    # a re-versioned id appears once in the truth, at its last version
    assert len(info["latest"]) == 2000 - round(
        2000 * (shares["reversion_share"] + shares["no_site_share"])
    )


def test_pgn_truth_keeps_valid_rows_and_deletes_the_rest():
    ok = {"white": "a", "black": "b", "result": "1-0", "elo_white": 1, "moves": "1. e4"}
    truth = gen.pgn_truth({"g1": dict(ok, result="*"), "g2": ok, "g3": dict(ok, black=" ")}, 1, 0.0)
    assert set(truth["valid"]) == {"g2"}
    assert truth["deleted"] == 2
    assert truth["users"] == {"a", "b"}
    assert truth["flags"] == {"g2": True}


def test_documents_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / f"{n}.parquet") for n in "abc")
    sa = gen.documents(5, 500, a)
    sb = gen.documents(5, 500, b)
    gen.documents(6, 500, c)
    assert sa == sb
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        da, db, dc = fa.read(), fb.read(), fc.read()
    assert da == db
    assert da != dc
    assert sa["exact_share"] > 0.03 and sa["near_share"] > 0.03 and sa["hot_share"] > 0.01


def test_documents_base_corpus_has_the_reference_shape(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "d.parquet")
    gen.documents(5, 2000, path)
    st = gen.corpus_stats(pq.read_table(path, columns=["text"]).column(0).to_pylist())
    # the testdata table: 10-100 tokens, 30 words plus "dup", ~5% " dup" copies
    assert st["tokens_min_max"] == [10, 101] and st["vocabulary"] == 31
    assert 0.03 < st["near_share"] < 0.07
    assert 0.04 < st["bigram_df_mean_share"] < 0.07


# -- metric names ------------------------------------------------------------


def test_benchmark_json_is_generated_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.manifest()


def test_workload_counters_and_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    layer_names = {m["name"] for m in manifest["per_layer"]}
    assert {w["name"] for w in manifest["workloads"]} == set(workloads.WORKLOADS)
    assert {n for n, _, _ in spec.END_TO_END} == {m["name"] for m in manifest["end_to_end"]}
    for wl in workloads.WORKLOADS.values():
        assert set(wl.COUNTERS) <= layer_names, wl.name


def test_layer_metrics_emit_only_declared_names(monkeypatch):
    from perfbench import run

    tr = trace.Tracer()
    for layer in spec.SPAN_LAYERS:
        with tr.span(layer, "f"):
            pass
    with tr.span("queries", "q:build"):
        pass

    class FakeWorkload:
        name, COUNTERS = "fake", ("sources.pgn.games_out",)

        def layer_counters(self, tracer):
            return {"sources.pgn.games_out": 5.0}

    costs = dict(jobs=1, shuffle_bytes=2, spill_bytes=0, gc_s=0.1, input_bytes=3)
    monkeypatch.setattr(trace, "job_costs", lambda sc: defaultdict(lambda: costs))
    out = run.layer_metrics(tr, None, FakeWorkload())
    assert set(out) == {n for n, _ in spec.per_layer()}
    # both root `queries` spans read input; only the `:build` one counts jobs
    assert out["queries.eager_jobs"] == 1 and out["tables.scan_bytes"] == 6
    assert out["sources.pgn.games_out"] == 5.0


# -- spans -----------------------------------------------------------------


def test_self_time_children_never_exceed_parent():
    tr = trace.Tracer()
    with tr.span("a", "root") as root:
        time.sleep(0.02)
        with tr.span("b", "child") as c1:
            time.sleep(0.03)
            with tr.span("c", "grandchild"):
                time.sleep(0.01)
        with tr.span("b", "child2") as c2:
            time.sleep(0.01)
    assert c1.parent is root and c2.parent is root
    kids = [s for s in tr.spans if s.parent is root]
    assert sum(s.duration for s in kids) <= root.duration
    assert 0 < tr.overhead_s < root.duration
    self_t = tr.self_times()
    assert all(v >= 0 for v in self_t.values())
    assert sum(self_t.values()) == pytest.approx(root.duration, abs=1e-9)
    assert self_t["a"] == pytest.approx(root.duration - c1.duration - c2.duration)


def test_wrapper_calls_through_without_an_active_tracer():
    calls = []

    def f(x):
        calls.append(x)
        return x + 1

    w = trace._wrap(f, "layer")
    assert trace.ACTIVE is None
    assert w(1) == 2
    tr = trace.Tracer(capture=("test_wrapper_calls_through_without_an_active_tracer.<locals>.f",))
    trace.ACTIVE = tr
    try:
        assert w(2) == 3
    finally:
        trace.ACTIVE = None
    assert calls == [1, 2]
    assert [s.layer for s in tr.spans] == ["layer"]
    assert list(tr.captured.values()) == [[3]]


# -- comparator --------------------------------------------------------------


def _rec(workload, host="h", nproc=4, cpu=1.0):
    metrics = {n: 1.0 for n, _, _ in spec.END_TO_END} | {"cpu_s": cpu}
    return {"workload": workload, "trace": 0, "metrics": metrics,
            "host": {"host": host, "nproc": nproc}}


def test_comparator_refuses_other_hosts_and_core_counts():
    assert compare.host_mismatch([_rec("w"), _rec("w")]) == []
    assert compare.host_mismatch([_rec("w"), _rec("w", nproc=8)]) == ["nproc"]
    assert compare.host_mismatch([_rec("w"), _rec("w", host="x")]) == ["host"]


def test_comparator_flags_changes_beyond_the_bound():
    lines = compare.compare([_rec("w", cpu=1.0)] * 3, [_rec("w", cpu=2.0)] * 3)
    cpu = next(line for line in lines if " cpu_s " in line)
    assert cpu.endswith("WORSE")
    assert all(line.endswith("ok") for line in lines if " cpu_s " not in line)
