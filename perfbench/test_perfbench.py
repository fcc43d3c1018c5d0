"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

import inputs
import run
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def _table(rows):
    return pa.table({"l_orderkey": [r[0] for r in rows], "n_items": [r[1] for r in rows]})


def test_digest_ignores_row_and_column_order():
    a = _table([(1, 3), (2, None), (5, 1)])
    b = pa.table({"n_items": [1, 3, None], "l_orderkey": [5, 1, 2]})
    assert workloads.digest(a) == workloads.digest(b)
    assert workloads.digest(a) != workloads.digest(_table([(1, 3), (2, 0), (5, 1)]))


def test_corrupted_expected_digest_counts_as_failure():
    result = _table([(1, 3), (2, 4)])
    good = workloads.digest(result)
    wl = workloads.CurateCorpus()
    for expected, failed in ((good, 0), ("0" * 64, 1)):
        tally = run.Tally()
        st = {"inp": {"oracle": {"curate_corpus": expected}}}
        tally.record(wl, st, run.Outcome(lambda: result))
        assert (tally.attempted, tally.failed) == (1, failed)


def test_raising_job_counts_as_failure():
    tally = run.Tally()
    tally.record(workloads.CurateCorpus(), {}, run.Outcome(lambda: 1 / 0))
    assert (tally.attempted, tally.failed) == (1, 1)


def test_fp_band_and_row_accounting():
    n, p = 10_000, 0.05
    rows = [{"false_positives": 250, "total_tests": n // 2}] * 2
    assert workloads.fp_band_problems(rows, p, n) == []
    assert workloads.fp_band_problems(rows, p, n + 1)  # a test row went missing
    high = [{"false_positives": 400, "total_tests": n // 2}] * 2
    assert workloads.fp_band_problems(high, p, n)  # 800 vs 500 +- 87


def test_popcount():
    assert workloads.popcount([0, 1, -1]) == 65


@pytest.mark.parametrize("make", [
    lambda s: inputs.imdb_ratings(s, 500),
    lambda s: inputs.tpch_slice(s, 200),
    lambda s: inputs.documents(s, 60),
])
def test_inputs_are_a_function_of_the_seed(make):
    a, b, c = make(3), make(3), make(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_tpch_slice_shape():
    t = inputs.tpch_slice(1, 300)
    okeys = t["orders"].column("o_orderkey").to_pylist()
    assert len(set(okeys)) == 300
    li = t["lineitem"].to_pylist()
    assert {r["l_orderkey"] for r in li} == set(okeys)
    assert len({(r["l_orderkey"], r["l_linenumber"]) for r in li}) == len(li)


def test_parse_event_log_attributes_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "build#0.1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "probe#0.2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 3_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = tracing.parse_event_log(str(tmp_path))
    assert groups["build#0.1"] == {
        "jobs": 1, "tasks": 2, "executor_cpu_s": 2.0, "shuffle_write_mb": 1.0, "spill_mb": 3.0
    }
    assert (groups["probe#0.2"]["jobs"], groups["probe#0.2"]["tasks"]) == (1, 1)


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark must exit non-zero and
    print no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
