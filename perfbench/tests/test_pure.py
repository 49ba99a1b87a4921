"""Tests of the benchmark's pure parts: generator determinism, the
percentile rule, event-log parsing, span self-time arithmetic and the
output checkers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402
from perfbench.trace import Span, layer_times, parse_event_log, union_length  # noqa: E402
from perfbench.workloads import percentile  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def _digest(path: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(path))
    }


@pytest.mark.parametrize("kind,size", [("trace", 0.01), ("star", 0.001)])
def test_generator_is_deterministic_per_seed(tmp_path, kind, size):
    a, _ = gen.dataset(str(tmp_path / "a"), kind, 3, size)
    b, _ = gen.dataset(str(tmp_path / "b"), kind, 3, size)
    c, _ = gen.dataset(str(tmp_path / "c"), kind, 4, size)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert all(da[f] != dc[f] for f in da if f.startswith(("events", "lineitem", "documents")))


def test_generator_output_is_cached(tmp_path):
    path, _ = gen.dataset(str(tmp_path), "star", 1, 0.001)
    stamp = os.path.getmtime(os.path.join(path, "lineitem.parquet"))
    again, _ = gen.dataset(str(tmp_path), "star", 1, 0.001)
    assert again == path
    assert os.path.getmtime(os.path.join(path, "lineitem.parquet")) == stamp


def test_planted_near_duplicates_are_recorded(tmp_path):
    path, manifest = gen.dataset(str(tmp_path), "star", 2, 0.01)
    con = check.connect(path, ("documents",))
    texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    pairs = manifest["near_dup_pairs"]
    assert len(pairs) == int(len(texts) * gen.NEAR_DUP_SHARE)
    for a, b in pairs:
        sa, sb = check._shingles(texts[a]), check._shingles(texts[b])
        assert len(sa & sb) / len(sa | sb) > 0.8


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3, 6, 7, 8, 9, 10]
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 100) == 10
    assert percentile(xs, 1) == 1
    assert percentile([7.5], 90) == 7.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_event_log_parsing_on_recorded_log():
    with open(LOG) as f:
        jobs = parse_event_log(f)
    assert jobs, "recorded log has jobs"
    for job in jobs.values():
        assert job["jobs"] == 1
        assert job["end"] >= job["start"]
        assert job["tasks"] >= job["stages"] >= 1
        assert job["group"] is not None and job["group"].isdigit()
    assert sum(j["scan_rows"] for j in jobs.values()) > 0
    assert sum(j["python_worker_s"] for j in jobs.values()) > 0
    assert sum(j["python_bytes_to_worker"] for j in jobs.values()) > 0
    assert sum(j["shuffle_write_bytes"] for j in jobs.values()) > 0
    assert sum(j["shuffle_read_bytes"] for j in jobs.values()) > 0


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0
    assert union_length([(3, 4)], 0, 2) == 0


def test_layer_self_time_arithmetic():
    spans = [
        Span(0, "op:q", None, 0.0, 10.0),
        Span(1, "queries.construct", 0, 1.0, 4.0),
        Span(2, "queries.action", 0, 4.0, 9.0),
    ]
    # a construct-time job of 1 s and an action job of 4 s, one of whose
    # seconds overlaps another job
    jobs = {
        1: [{"start": 2.0, "end": 3.0}],
        2: [{"start": 4.5, "end": 7.5}, {"start": 6.5, "end": 8.5}],
    }
    got = layer_times(spans, jobs)
    assert got == {"op": 2.0, "queries.construct": 2.0, "queries.action": 1.0, "spark": 5.0}
    assert sum(got.values()) == spans[0].dur


def _row(**kw):
    return SimpleNamespace(**kw)


def test_query_checker_rejects_corrupted_result():
    class FakeDF:
        columns = ["k", "v"]
        schema = SimpleNamespace(fields=[
            SimpleNamespace(name="k", dataType=SimpleNamespace(simpleString=lambda: "bigint")),
            SimpleNamespace(name="v", dataType=SimpleNamespace(simpleString=lambda: "double")),
        ])

        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    rows = [(1, 0.5), (2, 1.25)]
    expected = {"rows": 2, "types": {"k": "bigint", "v": "double"},
                "hash": check.canon_rows(["k", "v"], rows)}
    assert check.compare_query(FakeDF(list(reversed(rows))), expected) == 2
    with pytest.raises(check.CheckError, match="hash"):
        check.compare_query(FakeDF([(1, 0.5), (2, 1.26)]), expected)
    with pytest.raises(check.CheckError, match="rowcount"):
        check.compare_query(FakeDF(rows[:1]), expected)
    with pytest.raises(check.CheckError, match="schema"):
        check.compare_query(FakeDF(rows), dict(expected, types={"k": "int", "v": "double"}))


def test_click_and_catalog_checkers_reject_corrupted_rows():
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 0, 0, 1, 5)
    us = 1_704_067_201_000_005
    rows = [_row(event_id=1, ts=ts, user_id=7, value=1.5, props='{"a": 1}')]
    check.compare_click(rows, [(1, us, 7, 1.5, '{"a": 1}')])
    with pytest.raises(check.CheckError):
        check.compare_click(rows, [(1, us, 7, 1.5, '{"a": 2}')])
    cat = [_row(event_type="E", first_ts=ts, first_event_id=1, schema_keys=["a"], n_events=3)]
    check.compare_catalog(cat, {"E": ("E", us, 1, "a", 3)})
    with pytest.raises(check.CheckError):
        check.compare_catalog(cat, {"E": ("E", us, 1, "a", 4)})


def test_minhash_checker_needs_planted_pairs_and_real_similarity():
    base = " ".join(["w%d" % i for i in range(40)])
    near = base.replace("w20", "x20")
    other = " ".join(["z%d" % i for i in range(40)])
    texts = {0: base, 1: near, 2: other}
    hit = [_row(doc_a=0, doc_b=1, est_jaccard=0.85)]
    assert check.compare_minhash(hit, texts, [[0, 1]]) == 1
    with pytest.raises(check.CheckError, match="missed"):
        check.compare_minhash([], texts, [[0, 1]])
    with pytest.raises(check.CheckError, match="exact"):
        check.compare_minhash(hit + [_row(doc_a=0, doc_b=2, est_jaccard=0.6)], texts, [[0, 1]])
