"""Smoke tests of the benchmark itself.

Every workload runs with two of its ops on the sf0.001 fixtures, once
untraced and once traced.  Each invocation must print the metrics of
BENCHMARK.json with their units, pass the oracle check, and leave no
process behind: the test process is a child subreaper, so a JVM,
pyspark daemon or worker orphaned by the benchmark would be re-parented
here and show up.

Run from the repository root (takes a few minutes):

    python3 -m pytest usagebench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import proctree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]

#: The seven end-to-end metrics every untraced run reports in its record.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_op": "s",
    "fail_ratio": "ratio",
    "wrong_results": "count",
}

#: Per-layer metrics every traced run reports.
PER_LAYER = {
    "session.start_s", "session.stop_s", "session.peak_rss_mb",
    "registry.load_all_ops_s",
    "operators.build_s", "operators.build_jobs",
    "io.load_table.calls", "io.load_table_s", "io.register_views_s",
    "io.spread.calls", "io.spread.repartitioned",
    "materialize.calls", "materialize.builds", "materialize.hit_ratio",
    "materialize.build_s",
    "streams.drain_s", "streams.batches", "streams.input_rows", "streams.state_rows",
    "plans.plan_s", "plans.exchanges", "plans.broadcast_joins",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.single_task_stages",
    "exec.task_cpu_s", "exec.shuffle_bytes", "exec.spill_bytes", "exec.noop_s",
    "fetch.topandas_s", "fetch.rows", "fetch.transfer_s",
    "tracing.overhead",
}

SMOKE_SF = "0.001"


@pytest.fixture(scope="module", autouse=True)
def subreaper():
    proctree.become_subreaper()


def leftovers(token: str) -> list[str]:
    """Processes still carrying ``token`` in their environment, and any
    zombie or live process re-parented to this test process."""
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if token.encode() in fh.read():
                    found.append(f"{entry} (environ)")
        except OSError:
            pass
    found += [f"{pid} (child)" for pid in proctree.descendants()]
    return found


def invoke(cwd: str, *args: str) -> subprocess.CompletedProcess:
    """Run the benchmark command from ``cwd`` and assert that no process
    it started outlives it."""
    token = f"usagebench-test-{uuid.uuid4()}"
    cmd = [sys.executable, *SPEC["command"][1:], *args]
    proc = subprocess.run(
        cmd, cwd=cwd, env={**os.environ, "USAGEBENCH_TEST_TOKEN": token},
        capture_output=True, text=True, timeout=300,
    )
    assert leftovers(token) == [], "a benchmark process outlived the invocation"
    return proc


_RUNS: dict[tuple, tuple[dict, dict]] = {}


def bench(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    """(record, result) of a smoke run of ``workload``, cached per args."""
    key = (workload, trace, seed)
    if key not in _RUNS:
        ops = ",".join(WORKLOADS[workload].ops[:2])
        proc = invoke(
            ROOT, "--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--ops", ops, "--sf", SMOKE_SF,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
        _RUNS[key] = record, result
    return _RUNS[key]


def test_spec_names_the_workloads():
    assert set(WORKLOAD_NAMES) <= set(WORKLOADS)
    assert {m["name"] for m in SPEC["end_to_end"]} <= set(END_TO_END)
    assert {m["name"] for m in SPEC["per_layer"]} <= PER_LAYER


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_untraced_run_reports_end_to_end_metrics(workload):
    record, result = bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    e2e = record["end_to_end"]
    assert {k: v["unit"] for k, v in e2e.items()} == END_TO_END
    assert e2e["wrong_results"]["value"] == 0
    assert e2e["fail_ratio"]["value"] == 0
    assert all(c["status"] == "PASS" for c in record["check"].values())
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["sf"] == float(SMOKE_SF) and record["seed"] == 1
    assert record["cpus"] >= 1 and record["driver_mem"] and record["pyspark"]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_traced_run_reports_every_layer_metric(workload):
    record, result = bench(workload, trace=1)
    assert result["correct"] is True and result["failed"] == 0
    assert set(record["per_layer"]) == PER_LAYER
    assert set(record["per_op_layers"]) == set(record["ops"])
    assert record["per_layer"]["tracing.overhead"]["value"] > 0
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    assert os.path.isfile(os.path.join(ROOT, record["trace_file"]))


def test_pipeline_trace_sees_memo_and_streams():
    layers = bench("pipeline", trace=1)[0]["per_layer"]
    assert layers["materialize.calls"]["value"] > 0
    assert layers["materialize.builds"]["value"] > 0
    assert layers["streams.batches"]["value"] > 0
    assert layers["exec.jobs"]["value"] > 0


def test_seed_changes_only_op_order():
    # Seeds 1 and 5 put the two smoke ops in opposite first-pass order.
    one, _ = bench("report", trace=0, seed=1)
    two, _ = bench("report", trace=0, seed=5)
    assert one["ops"] == two["ops"]
    for order in one["pass_orders"] + two["pass_orders"]:
        assert sorted(order) == sorted(one["ops"])
    assert one["pass_orders"][0] != two["pass_orders"][0]
    assert one["check"] == two["check"]


def test_refuses_to_run_without_the_repository(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files there is
    no engine to measure: exit non-zero and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns(".run", "__pycache__"),
        )
    proc = invoke(
        str(tmp_path), "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
        "--seconds", "1", "--trace", "0",
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
