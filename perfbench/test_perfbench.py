"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The last test runs every workload once per mode through ``run.py`` (a few
minutes on a 4-core box).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import probes  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _plan(seed):
    docs = inputs.corpus(120, seed)
    return inputs.batch_plan(docs.url, docs.text, 2, 4, seed)


def test_same_seed_same_inputs():
    assert inputs.request_stream(7, 200) == inputs.request_stream(7, 200)
    assert _plan(7) == _plan(7)


def test_different_seed_different_inputs():
    assert inputs.request_stream(7, 200) != inputs.request_stream(8, 200)
    assert _plan(7) != _plan(8)


def test_stream_repeats_popular_queries():
    stream = inputs.request_stream(3, 500)
    pool = set(inputs.query_pool(3))
    assert set(stream) <= pool
    top = max(stream.count(q) for q in set(stream))
    assert top > 500 / len(pool) * 3  # Zipf head well above uniform


def test_batches_are_url_ascending_and_delete_their_own_urls():
    plan = _plan(5)
    urls = [u for b in plan for u in b.urls]
    assert urls == sorted(urls) and len(set(urls)) == 120
    for b in plan:
        assert set(b.deletes) <= set(b.urls) and len(b.deletes) == 4


def test_gate_counts_a_wrong_result():
    import workloads
    from pageindex_spark.oracle.bm25 import OracleIndex

    oracle = OracleIndex([("u/a", "x y"), ("u/b", "x"), ("u/c", "y z x x")])
    want = workloads.oracle_topk(oracle, "x", 10)
    assert [u for _r, u, _s in want] == ["u/b", "u/c", "u/a"]
    rows = [{"rank": r, "url": u, "score": (s6 + 0.5) / 1e6} for r, u, s6 in want]
    ok = workloads.Outcome()
    workloads.check_results(ok, oracle, [("x", rows)])
    assert ok.failed == 0
    rows[1], rows[2] = {**rows[1], "url": "u/a"}, {**rows[2], "url": "u/c"}
    bad = workloads.Outcome()
    workloads.check_results(bad, oracle, [("x", rows)])
    assert bad.failed == 1 and bad.detail["mismatches"] == ["x"]
    # tombstoned urls drop out of the expected ranking
    assert [u for _r, u, _s in workloads.oracle_topk(oracle, "x", 10, {"u/b"})] == [
        "u/c", "u/a"]


def test_self_time_subtracts_children():
    tr = probes.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id
    selfs = tr.self_times()
    assert selfs[outer.span_id] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )
    assert selfs[inner.span_id] == pytest.approx(inner.end - inner.start)


def test_build_stage_log_sums_chunks():
    with probes.build_stage_log() as stages:
        for line in (
            "[build_index] extract_write: 1.5s", "[build_index] segments_chunk0: 2.0s",
            "[build_index] segments_chunk1: 0.5s", "[build_index] compact_meta1: 0.25s",
            "[build_index] gc: removed runs_raw staging",
        ):
            print(line, file=sys.stderr)
    assert stages == {"extract_write": 1.5, "segments": 2.5, "compact_meta": 0.25}


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(
        "__pycache__", ".pytest_cache"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_every_metric_is_emitted_with_its_unit():
    """Runs each workload in both modes and checks the last line against
    BENCHMARK.json; every per-layer metric is exercised by some workload."""
    exercised = set()
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                SPEC["command"] + ["--workload", w["name"], "--seed", "11",
                                   "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            assert p.returncode == 0, p.stderr[-2000:]
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            context = json.loads(lines[-2])["context"]
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] == (result["failed"] == 0)
            assert result["attempted"] >= 1
            section = SPEC["per_layer" if trace else "end_to_end"]
            assert {m["name"]: m["unit"] for m in section} == {
                k: v["unit"] for k, v in result["metrics"].items()
            }
            if trace:
                exercised |= set(result["metrics"]) - set(context["layers_not_exercised"])
            else:
                assert all(v["value"] > 0 for v in result["metrics"].values())
    assert exercised == {m["name"] for m in SPEC["per_layer"]}
