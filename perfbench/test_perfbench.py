"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q            # fast checks
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_perfbench.py -q   # + smoke runs

The smoke runs start Spark (about a minute each) and exercise every
workload at the ``--smoke`` size, untraced and traced, against the metric
lists in ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_tail_needs_ten_samples_beyond():
    assert run.tail(list(range(9))) == (None, None)
    assert run.tail([float(i) for i in range(20)])[0] == 50.0
    assert run.tail([float(i) for i in range(1000)])[0] == 99.0
    assert run.tail([float(i) for i in range(10_000)])[0] == 99.9


def test_metric_lists_match_the_code():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == trace.PER_LAYER_UNITS
    assert [w["name"] for w in BENCH["workloads"]] == ["query_local", "update_mixed"]


def test_self_time_subtracts_children():
    spans = [[1, "a", 0.0, 10.0, -1], [1, "b", 1.0, 4.0, 0], [1, "c", 5.0, 6.0, 0], [1, "d", 2.0, 3.0, 1]]
    assert trace.self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_jobs_attributed_by_group_then_window():
    ops = [{"id": 1, "group": "g1", "w0": 0, "w1": 10}, {"id": 2, "group": None, "w0": 20, "w1": 30}]
    jobs = {0: {"group": "g1", "submit": 50}, 1: {"group": None, "submit": 25}, 2: {"group": None, "submit": 40}}
    trace.attribute_jobs(jobs, ops)
    assert [jobs[i]["op"] for i in range(3)] == [1, 2, None]


def test_build_stage_of_call_sites():
    import goobi_viewer_indexer_spark

    lib = os.path.dirname(goobi_viewer_indexer_spark.__file__)
    path = os.path.join(lib, "plans", "build.py")
    with open(path) as f:
        src = f.read().splitlines()

    def line_of(needle: str) -> int:
        return next(i for i, s in enumerate(src, 1) if needle in s)

    assert trace.build_stage(lib, f"plans/build.py:{line_of('.parquet(dstats_path)')}") == "0"
    assert trace.build_stage(lib, f"plans/build.py:{line_of('.parquet(dlp_path)')}") == "05"
    assert trace.build_stage(lib, f"plans/build.py:{line_of('.parquet(ts_path)')}") == "3"
    assert trace.build_stage(lib, f"plans/build.py:{line_of('final.write')}") == "2"
    assert trace.build_stage(lib, "operators/search.py:10") is None


def test_install_and_restore_leave_every_name_as_it_was():
    from py4j.clientserver import ClientServerConnection

    from goobi_viewer_indexer_spark.operators import search, wand
    from goobi_viewer_indexer_spark.plans import maintenance, txn

    watched = [(search, "tokenize_py"), (wand, "score_topk"), (wand.TermList, "decode_block"),
               (search.InvertedIndex, "__init__"), (maintenance, "add_docs"), (txn, "txn_commit"),
               (ClientServerConnection, "send_command")]
    before = [getattr(o, a) for o, a in watched]
    t = trace.Tracer(types.SimpleNamespace(sparkContext=None), "/nonexistent")
    trace.install(t)
    assert all(getattr(o, a) is not b for (o, a), b in zip(watched, before))
    t.restore()
    assert all(getattr(o, a) is b for (o, a), b in zip(watched, before))


def test_fails_without_the_library(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_local", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1 to start Spark")
@pytest.mark.parametrize("workload", ["query_local", "update_mixed"])
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_run(workload, traced):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(traced), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = BENCH["per_layer"] if traced else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
