"""The benchmark's own tests.

    python3 -m pytest benchmark/test_benchmark.py -q

The smoke tests start Spark (about a minute per workload and mode).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import ops  # noqa: E402
from layertrace import _union_within, final_plan_counts, self_times  # noqa: E402
from run import tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_op_list_is_a_function_of_the_seed(workload):
    n = 3 * ops.round_size(workload)
    a = json.dumps(ops.op_list(workload, 11, n)).encode()
    b = json.dumps(ops.op_list(workload, 11, n)).encode()
    c = json.dumps(ops.op_list(workload, 12, n)).encode()
    assert a == b
    assert a != c


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_round_has_the_same_mix(workload):
    size = ops.round_size(workload)
    lst = ops.op_list(workload, 5, 2 * size)
    kind = lambda op: op.split()[0] if workload == "sql_adhoc" else op  # noqa: E731
    assert sorted(map(kind, lst[:size])) == sorted(map(kind, lst[size:]))


def test_every_statement_has_a_template_kind():
    lst = ops.op_list("sql_adhoc", 9, 3 * ops.round_size("sql_adhoc"))
    kinds = {ops.sql_kind(stmt) for stmt in lst}
    assert kinds == set(ops.LIGHT_KINDS + ops.HEAVY_KINDS)


def test_generated_tables_are_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        datagen.generate(str(tmp_path / d), seed, 0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    same, diff, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert same == names and not diff
    same, _, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert "lineitem.parquet" not in same


def test_tail_has_ten_samples_beyond_once_there_are_enough():
    val, q, beyond = tail([float(i) for i in range(200)])
    assert q == 95.0 and beyond == 10
    val, q, beyond = tail([float(i) for i in range(20)])
    assert q == 75.0 and beyond == 5 and val == pytest.approx(14.25)


def test_job_union_is_clipped_to_the_op():
    assert _union_within([(0, 2), (1, 3), (5, 6), (9, 12)], 0.5, 10) == pytest.approx(4.5)


def test_self_time_subtracts_children():
    spans = [
        {"name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "queries.build", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "operators.serve", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == {"op": 7.0, "queries.build": 2.0, "operators.serve": 1.0}


def test_plan_counts_read_the_final_plan_only():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) HashAggregate(keys=[k#1])
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#1, 4)
            +- *(1) Project [k#1]
               :- ReusedExchange [k#1], Exchange hashpartitioning(k#1, 4)
               +- FileScan parquet [k#1] Batched: true
+- == Initial Plan ==
   HashAggregate(keys=[k#1])
   +- Exchange hashpartitioning(k#1, 4)
      +- FileScan parquet [k#1] Batched: true
"""
    got = final_plan_counts(plan)
    assert got["plans.exchanges"] == 1
    assert got["plans.reused_exchanges"] == 1
    assert got["plans.parquet_scans"] == 1
    assert got["plans.rdd_scans"] == 0


def test_spec_names_are_unique_and_bounded():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert {m["name"] for m in SPEC["end_to_end"]} >= {"setup_s"}
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_at_sf0_001(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join("benchmark", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        with open(os.path.join(ROOT, ".bench_out", f"trace-{workload}-s3.json")) as f:
            trace_out = json.load(f)
        for op in trace_out["ops"]:
            spark = op["spark"]
            assert spark["spark.job_s"] + spark["driver.gap_s"] == pytest.approx(op["wall"])
        setup = [s for s in trace_out["spans"] if s["name"] == "setup"]
        parts = [s for s in trace_out["spans"] if s["parent"] is not None
                 and trace_out["spans"][s["parent"]]["name"] == "setup"]
        assert sum(s["end"] - s["start"] for s in parts) == pytest.approx(
            sum(s["end"] - s["start"] for s in setup), rel=0.01
        )
    assert not os.listdir(os.path.join(ROOT, ".bench_runs"))
