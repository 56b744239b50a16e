"""Tests of the benchmark harness itself, at a tiny size.

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon() -> pd.DataFrame:
    return pd.DataFrame({
        "url": ["a", "b", "c", "d"],
        "component_id": [1, 1, 3, 4],
        "rank": [1, 2, 1, 1],
        "is_canonical": [True, False, True, True],
    })


def _truth() -> pd.DataFrame:
    return pd.DataFrame({
        "url": ["a", "b", "c", "d"],
        "text": ["x y z"] * 4,
        "truth_cluster": [1, 1, 3, 3],
        "truth_kind": ["exact", "exact", "exact", "exact"],
    })


def test_canonical_hash_ignores_order_and_sees_one_flipped_row():
    canon = _canon()
    assert checks.canonical_hash(canon) == checks.canonical_hash(canon.iloc[::-1])
    corrupt = canon.copy()
    corrupt.loc[1, "is_canonical"] = True
    assert checks.canonical_hash(corrupt) != checks.canonical_hash(canon)


def test_recall_counts_split_clusters():
    canon = _canon()
    assert checks.dup_pair_recall(_truth(), canon) == (0.5, 2)  # c and d split
    canon.loc[3, "component_id"] = 3
    assert checks.dup_pair_recall(_truth(), canon) == (1.0, 2)


def test_union_find_labels_components_by_min_member():
    labels = checks.union_find(np.arange(6), np.array([4, 1, 5]), np.array([1, 2, 3]))
    assert labels.tolist() == [0, 1, 1, 3, 1, 3]


def _batch(recall: float) -> workloads.BatchCrawl:
    wl = workloads.BatchCrawl(lambda: None, "/nonexistent", 1, 4, run.tree_cpu_s)
    wl.reference, wl.recall = "4:00", recall
    return wl


def test_batch_check_trips_on_corrupt_output_and_low_recall():
    good = workloads.Op(1.0, canonical_hash="4:00")
    assert _batch(1.0).check([good, good], {"canonical": "4:00"}) == []
    bad = workloads.Op(1.0, canonical_hash="4:01")
    assert len(_batch(1.0).check([good, bad], None)) == 1
    assert len(_batch(1.0).check([good], {"canonical": "4:02"})) == 1
    assert len(_batch(0.98).check([good], None)) == 1


def test_scope_stats_assigns_jobs_by_submission_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_500, "Stage IDs": [2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9_000, "Stage IDs": [3]},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
             "Task Info": {"Launch Time": 0, "Finish Time": 500},
             "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                              "Disk Bytes Spilled": 0}}
            for sid in (0, 1, 2, 3)
        ],
    ]
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text("\n".join(json.dumps(e) for e in events))
    stats = trace.scope_stats(str(tmp_path), [("a", 0.5, 2.0), ("b", 2.0, 4.0)], cores=2)
    assert stats["a"]["jobs"] == 1 and stats["a"]["task_s"] == 1.0
    assert stats["a"]["shuffle_write_mb"] == 2.0 and stats["a"]["core_busy"] == 1.0 / 3.0
    assert stats["b"]["jobs"] == 1 and stats["b"]["task_s"] == 0.5  # job 2 is outside


def test_benchmark_json_declares_what_the_harness_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == trace.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS) == run.NAMES


# ---------------------------------------------------------------------------
# end to end, tiny inputs


@pytest.fixture
def tiny(monkeypatch):
    env = dict(os.environ)
    for name, value in {
        "CRAWL_DOCS": 1_500, "CRAWL_FRESH": 50, "QUERY_DOCS": 200,
        "QUERY_EVENTS": 2_000, "QUERY_ORDERS": 1_000,
    }.items():
        monkeypatch.setattr(workloads, name, value)
    monkeypatch.setattr(run, "SETUP_REPEATS", 1)
    monkeypatch.setattr(trace, "KERNEL_DOCS", 100)
    yield
    os.environ.clear()
    os.environ.update(env)


def _run(capsys, workload: str, trace_flag: int) -> tuple[int, list[str], dict]:
    rc = run.main(["--workload", workload, "--seed", "424242", "--seconds", "0.1",
                   "--trace", str(trace_flag)])
    lines = capsys.readouterr().out.strip().splitlines()
    return rc, lines, json.loads(lines[-1])


def _printed(lines: list[str], name: str, unit: str) -> bool:
    return any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)


@pytest.mark.parametrize("workload,trace_flag", [("batch_crawl", 1), ("query_leaves", 0)])
def test_run_prints_every_metric_with_its_unit(tiny, capsys, workload, trace_flag):
    rc, lines, result = _run(capsys, workload, trace_flag)
    assert rc == 0 and result["correct"] and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    for name, unit in run.END_TO_END + [("wall_s", "s"), ("docs_per_s", "1/s"), ("fail_ratio", "ratio")]:
        assert _printed(lines, name, unit), name
    declared = trace.PER_LAYER if trace_flag else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(declared)
    if trace_flag:
        for name, unit in trace.PER_LAYER:
            assert _printed(lines, name, unit), name
        assert result["metrics"]["incremental.parity"]["value"] == 1.0


def test_corrupted_canonical_output_fails_the_run(tiny, capsys, monkeypatch):
    real_op = workloads.BatchCrawl.op

    def corrupt(self, i):
        op = real_op(self, i)
        op.canonical_hash = "0:corrupt"
        return op

    monkeypatch.setattr(workloads.BatchCrawl, "op", corrupt)
    rc, lines, result = _run(capsys, "batch_crawl", 0)
    assert rc == 1 and not result["correct"]
    assert any(line.startswith("CHECK FAILED: op 0: canonical 0:corrupt") for line in lines)
