"""End-to-end test of the benchmark command on a small trace: it passes
with the true reference answers and fails when one expected catalog
row is corrupted. A second test checks that stopping Spark leaves no
process behind: neither the driver JVM nor its Python workers.

Starts Spark (about 20 s per case):

    python3 -m pytest perfbench/tests/test_command.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRIPT = """
import dataclasses, sys
sys.path.insert(0, {root!r})
from perfbench import check, run, workloads

name = "lens_interactive"
workloads.WORKLOADS[name] = dataclasses.replace(
    workloads.WORKLOADS[name], data=("trace", 0.02))
workloads.MIN_PASSES, workloads.WARMUP_S = 1, 0.0
if {corrupt!r}:
    true_catalog = check.expect_catalog

    def corrupted(con):
        exp = true_catalog(con)
        key = sorted(exp)[0]
        exp[key] = exp[key][:-1] + (exp[key][-1] + 1,)  # n_events off by one
        return exp

    check.expect_catalog = corrupted
sys.exit(run.main(["--workload", name, "--seed", "9", "--seconds", "0"]))
"""


@pytest.mark.parametrize("corrupt", [False, True])
def test_command_fails_on_corrupted_expected_result(corrupt):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT, corrupt=corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if corrupt:
        assert proc.returncode == 1
        assert result["correct"] is False
        assert result["failed"] >= 1
    else:
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert result["correct"] is True
        assert result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {"setup_s", "pass_s", "op_p50_s", "peak_rss_mb"}


STOP_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads

run.pin_environment()
from etl_lens_spark import get_spark

spark = get_spark(app_name="perfbench-stop-test")
# a Python RDD stage starts the worker daemon and its forked workers
spark.sparkContext.parallelize(range(8), 2).map(lambda x: x + 1).count()
started = workloads.process_tree()[1:]
workloads.stop_spark(spark)
alive = [p for p in started
         if (st := workloads._proc_state(p)) is not None and st[0] not in "ZX"]
print(json.dumps({{"started": started, "alive": alive}}))
"""


def test_stop_spark_ends_jvm_and_workers():
    proc = subprocess.run(
        [sys.executable, "-c", STOP_SCRIPT.format(root=ROOT)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(out["started"]) >= 2  # the JVM and the worker daemon
    assert out["alive"] == []
