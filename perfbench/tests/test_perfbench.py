"""The benchmark's own tests, at a tiny size for each workload.

Run from the repository root::

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import pyarrow.compute as pc
import pytest

import gen
import run
import workloads
from reference import Checks, Reference

ROOT = os.path.dirname(run.HERE)
TINY = 0.01


def _ref(tmp_path, seed=5, n_docs=400, corrupt=True, day1_frac=0.1):
    days = gen.generate(seed, n_docs, 1, 8, day1_frac=day1_frac)
    paths = gen.write_logical(days, str(tmp_path / "logical"), 3)
    import pyarrow.parquet as pq

    routing = str(tmp_path / "routing.parquet")
    pq.write_table(gen.routing_table(), routing)
    return days, Reference(paths, routing, corrupt)


def test_generator_is_seeded():
    a = gen.generate(7, 300, 1, 16, day1_frac=0.05)
    b = gen.generate(7, 300, 1, 16, day1_frac=0.05)
    c = gen.generate(8, 300, 1, 16, day1_frac=0.05)
    assert [t.equals(u) for t, u in zip(a, b)] == [True, True]
    assert not a[0].equals(c[0])


def test_generator_shape():
    base, day1 = gen.generate(3, 2000, 1, 16, day1_frac=0.05)
    assert pc.min(base["n_tok"]).as_py() >= 1
    assert pc.max(base["n_tok"]).as_py() <= 16
    assert base["tokens"].to_pylist()[0].__len__() == base["n_tok"][0].as_py()
    # event_seq unique across days; day-1 files never reuse day-0 file ids
    seqs = base["event_seq"].to_pylist() + day1["event_seq"].to_pylist()
    assert len(seqs) == len(set(seqs))
    assert not set(base["file_id"].to_pylist()) & set(day1["file_id"].to_pylist())
    hot = pc.mean(pc.equal(base["table_key"], "src0#0")).as_py()
    assert 0.42 < hot < 0.5
    assert 0.9 < day1.num_rows / (0.05 * base.num_rows) < 1.1


def test_reference_soft_delete_matches_a_loop(tmp_path):
    """The DuckDB window form of the archive flag agrees with a plain loop
    over each run's events in event_seq order."""
    days, ref = _ref(tmp_path)
    routing = {r["table_key"]: r for r in gen.routing_table().to_pylist()}
    expected = defaultdict(int)
    for run_i, t in enumerate(days):
        flag = {}
        for e in sorted(t.to_pylist(), key=lambda e: e["event_seq"]):
            if (e["doc_num"] * 5 + e["r"]) % 211 == 7:
                continue  # truncated line, quarantined
            sink = routing[f"{e['source']}#{e['bucket']}"]
            if sink["ignored"]:
                continue
            key = (sink["database_name"], sink["table_name"])
            if e["sign"] is not None:
                flag[key] = e["sign"]
            if e["op"] == "Delete" and flag.get(key) == 1:
                continue
            expected[run_i] += 1
    for run_i in range(len(days)):
        assert ref.n_routed_rows(run_i) == 2 * expected[run_i]
    ref.close()


def test_wrong_expected_count_raises_error_rate(tmp_path):
    _, ref = _ref(tmp_path)
    checks = Checks()
    checks.equal("rows_failed", ref.n_corrupt(0), ref.n_corrupt(0))
    assert checks.error_rate == 0
    checks.equal("rows_failed", ref.n_corrupt(0) + 1, ref.n_corrupt(0))
    assert checks.failed == 1 and checks.error_rate == 0.5
    checks.run("raises", lambda: 1 / 0)
    assert checks.failed == 2 and checks.attempted == 3
    ref.close()


@pytest.mark.parametrize("name", ["ingest_narrow", "ingest_wide", "daily_cycle"])
def test_workload_tiny(spark, tmp_path, name):
    """Set-up, one repetition and one traced replay of every workload pass
    every reference check; a wrong expected count then fails."""
    # daily_cycle needs a few hundred docs for every divergence class
    scale = 0.05 if name == "daily_cycle" else TINY
    wl = workloads.make(name, spark, str(tmp_path), seed=11, scale=scale)
    checks = Checks()
    wl.setup(checks)
    state = wl.rep()
    wl.check(checks, state)
    assert checks.failures == [] and checks.attempted >= 7

    import probes

    tr = probes.Tracer(spark, "t")
    traced = wl.traced(tr)
    wl.check_traced(checks, traced)
    assert checks.failures == []
    counts = traced["counts"]
    assert counts["route.rows_out"] == wl.ref.n_routed_rows(
        1 if name == "daily_cycle" else 0)
    names = {s["name"] for s in tr.spans}
    assert {"workload", "parse", "enrich", "route", "table.write"} <= names
    assert all(s["trace_id"] == "t" for s in tr.spans)
    row = run.layer_row(
        state,
        {"io": dict.fromkeys(("cpu_ms", "task_ms", "disk_spill_b"), 0),
         "gc_s": 0.0, "peak_rss_mb": 1.0},
        traced, tr,
    )
    assert set(row) == set(run.PER_LAYER)

    # negative: a wrong expected count must raise the error rate
    wrong = Checks()
    real = wl.ref.n_routed_rows
    wl.ref.n_routed_rows = lambda r: real(r) + 1
    wl.check(wrong, state)
    assert wrong.failed == 1 and wrong.error_rate > 0
    wl.cleanup(state)
    wl.cleanup(traced)
    wl.close()


def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_cli_prints_one_result_line(tmp_path):
    """The command line the benchmark is run with, at a tiny size."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_narrow",
         "--seed", "2", "--seconds", "0", "--trace", "1",
         "--scale", str(TINY), "--work-dir", str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == set(run.PER_LAYER)
    assert os.path.exists(tmp_path / "spans" / "ingest_narrow-2.json")
    assert not [d for d in os.listdir(tmp_path) if d.startswith("work-")]


def test_cli_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_narrow",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
