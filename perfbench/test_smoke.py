"""Smoke test of the benchmark: every workload on tiny inputs, untraced and
traced, must check clean (``fail_ratio == 0``) and print every metric.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_all_workloads(trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke",
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= len(WORKLOADS)
    fail_ratio = result["failed"] / result["attempted"]
    assert fail_ratio == 0, proc.stdout
    assert result["correct"] is True
    expected = PER_LAYER if trace else END_TO_END
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        f"{w}.{m}": unit for w in WORKLOADS for m, unit in expected.items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    # each workload prints its own figures and fail_ratio by name
    for w in WORKLOADS:
        assert any(line.startswith(w) and " fail_ratio " in line for line in lines)


def _boom(*args, **kwargs):
    raise RuntimeError("forced failure")


# patches that make every operation of one kind fail
FAULTS = {
    "batch_queries": "import collections, __spark_entry__\n"
    "__spark_entry__.queries = lambda: collections.defaultdict(lambda: _boom)",
    "online_serving": "import feathub_spark\n"
    "feathub_spark.LocalFeatureService.get_online_features = _boom",
    "stream_features": "import feathub_spark\n"
    "feathub_spark.SparkProcessor.get_stream_dataframe = _boom",
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_failed_operations_are_counted(workload):
    """A run whose operations fail still prints its result line, with the
    failures counted, instead of crashing on an empty sample."""
    script = "\n".join([
        "import sys",
        f"sys.path.insert(0, {HERE!r})",
        "import run",
        "from test_smoke import _boom",
        "run._prepare_environment()",
        FAULTS[workload],
        f"sys.exit(run.main(['--smoke', '--workload', {workload!r}, '--seconds', '1']))",
    ])
    proc = subprocess.run(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert 1 <= result["failed"] <= result["attempted"]
    assert set(result["metrics"]) == set(END_TO_END)
    assert any(" fail_ratio " in line for line in proc.stdout.splitlines())
