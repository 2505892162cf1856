"""Smoke tests of the benchmark itself (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs ``perfbench/run.py`` as a harness would, with a 1-second
window, at the benchmark's own size (sf0.001, the engine's test fixture).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# Runnable by hand, not part of BENCHMARK.json.
EXTRA_WORKLOADS = ["validate_incremental"]

# Per-layer metrics that must be non-zero where the workload runs the layer.
EXERCISED = {
    "validate_full": [
        "profilepass.busy_s", "profilepass.mb_per_s", "profilepass.out_per_in",
        "fused.busy_s", "drift.busy_s", "violations.busy_s", "violations.rows_emitted",
        "verdicts.busy_s", "policy.busy_s", "report.busy_s", "checkpoint.busy_s",
        "checkpoint.ledger_files", "incremental.fingerprint_s", "write_amp",
    ],
    "validate_incremental": [
        "profilepass.busy_s", "fused.busy_s", "drift.busy_s", "violations.busy_s",
        "checkpoint.busy_s", "incremental.fingerprint_s", "incremental.carried_frac",
        "incremental.rows_rescanned", "write_amp",
    ],
    "ingest_records": ["ingest.payload_s", "ingest.rules_s", "ingest.jobs_per_request"],
}
ALWAYS = ["cold_run_s", "peak_rss_mb", "session.start_s", "datagen.gen_s", "sources.input_mb", "spark.jobs",
          "spark.tasks", "spark.executor_s", "spark.core_util", "driver.cpu_s",
          "ops.samples", "trace.spans"]


def _run(workload: str, trace: int, *extra: str, cwd: Path = ROOT) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    res = json.loads(stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    return res


def _check_metrics(res: dict, specs: list[dict]) -> dict[str, float]:
    assert set(res["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    return {k: v["value"] for k, v in res["metrics"].items()}


def test_spec_names_the_workloads_the_benchmark_has():
    sys.path.insert(0, str(ROOT / "perfbench"))
    from run import END_TO_END, PER_LAYER
    from workloads import WORKLOADS as IMPLEMENTED

    assert set(WORKLOADS) | set(EXTRA_WORKLOADS) == set(IMPLEMENTED)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS + EXTRA_WORKLOADS)
def test_end_to_end_metrics_emitted_and_correct(workload):
    rc, out = _run(workload, 0)
    assert rc == 0
    res = _result(out)
    values = _check_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0
    assert all(v > 0 for v in values.values()), values


@pytest.mark.parametrize("workload", WORKLOADS + EXTRA_WORKLOADS)
def test_traced_run_emits_per_layer_metrics(workload):
    rc, out = _run(workload, 1)
    assert rc == 0
    res = _result(out)
    values = _check_metrics(res, SPEC["per_layer"])
    assert res["correct"] and values["failed_frac"] == 0
    zero = [k for k in ALWAYS + EXERCISED[workload] if not values[k] > 0]
    assert not zero, zero
    assert (ROOT / ".perfbench" / "traces" / f"{workload}-s3.json").exists()


def test_wrong_expected_value_is_counted_as_failed():
    rc, out = _run("ingest_records", 1, "--wrong-expected")
    assert rc == 0
    res = _result(out)
    assert not res["correct"] and res["failed"] == res["attempted"]
    assert res["metrics"]["failed_frac"]["value"] > 0


def test_exits_nonzero_without_engine_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(WORKLOADS[0], 0, cwd=tmp_path)
    assert rc != 0 and out.strip() == ""
