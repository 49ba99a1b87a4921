"""Guards on the repo's own tooling: the bench loop's output contract,
the slow-tier nodeid list, and citations of ``tools/*.py`` scripts."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_slow_nodeids_name_existing_tests():
    """Every line of tests/slow_nodeids.txt names a test file that
    exists and a test function (or class method) defined in it — a
    stale line would silently skip nothing and hide the drift."""
    stale, trees = [], {}
    with open(os.path.join(ROOT, "tests", "slow_nodeids.txt")) as f:
        lines = [
            s.strip() for s in f if s.strip() and not s.startswith("#")
        ]
    for nodeid in lines:
        path, *names = nodeid.split("::")
        full = os.path.join(ROOT, path)
        if not os.path.isfile(full):
            stale.append(nodeid)
            continue
        if full not in trees:
            with open(full) as f:
                trees[full] = ast.parse(f.read()).body
        scope = trees[full]
        for name in (n.split("[", 1)[0] for n in names):
            node = next(
                (
                    n
                    for n in scope
                    if isinstance(
                        n,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    )
                    and n.name == name
                ),
                None,
            )
            if node is None:
                stale.append(nodeid)
                break
            scope = node.body
    assert lines and not stale, f"stale slow nodeids: {stale}"


def test_cited_tools_scripts_exist():
    """Every ``tools/<name>.py`` named in code, tools, bench.py, the
    README or the verify skill's run notes exists (history docs are
    exempt: they mark removed scripts in place)."""
    cite = re.compile(r"(?<![\w/.])tools/(\w+\.py)")
    files = [os.path.join(ROOT, p) for p in ("bench.py", "README.md")]
    files += glob.glob(
        os.path.join(ROOT, ".*", "skills", "verify", "SKILL.md")
    )
    for top in ("etl_lens_spark", "tools"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            files += [os.path.join(dirpath, f) for f in filenames]
    missing = []
    for path in files:
        with open(path, errors="replace") as f:
            for lineno, line in enumerate(f, 1):
                for script in cite.findall(line):
                    if not os.path.isfile(os.path.join(ROOT, "tools", script)):
                        rel = os.path.relpath(path, ROOT)
                        missing.append(f"{rel}:{lineno}: tools/{script}")
    assert not missing, "dangling tools/ citations:\n" + "\n".join(missing)


@pytest.mark.slow
def test_bench_named_queries_contract(sf_dir):
    """``bench.py <names>`` (the A/B form) times exactly the named
    headliners and prints the detail line, then the contract line with
    a full run's keys; only split queries report untimed setup."""
    split, unsplit = "lake_stats_only_agg", "q1_pricing_summary"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, "bench.py", split, unsplit],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    detail, final = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(detail) == {
        "detail",
        "runs",
        "calibration_runs",
        "calibration_end_runs",
        "split_queries",
        "untimed_setup_sec",
    }
    assert detail["detail"] == "bench_runs"
    assert set(final) == {
        "metric",
        "value",
        "unit",
        "queries",
        "calibration_sec",
        "calibration_end_sec",
        "calibration_drift",
        "self_invalidating",
        "sf",
    }
    assert final["metric"] == "headline_queries_total_sec"
    assert set(final["queries"]) == {split, unsplit}
    assert {n: len(r) for n, r in detail["runs"].items()} == {
        split: 2,
        unsplit: 2,
    }
    assert detail["split_queries"] == [split]
    assert set(detail["untimed_setup_sec"]) == {split}
    assert len(detail["untimed_setup_sec"][split]) == 2


def test_bench_rejects_unknown_query():
    proc = subprocess.run(
        [sys.executable, "bench.py", "no_such_query"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
