"""Self-tests of the benchmark's own logic (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import eventlog  # noqa: E402
import fixtures  # noqa: E402
from harness import (arrow_result_key, result_key, tail,  # noqa: E402
                     tree_cpu_seconds)


def _task(stage, run_ms, cpu_ns=1_000_000, py_sent=0, **extra):
    metrics = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
               "JVM GC Time": 1,
               "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                        "Local Bytes Read": 10,
                                        "Fetch Wait Time": 2},
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
               "Input Metrics": {"Bytes Read": 30},
               "Output Metrics": {"Bytes Written": 0},
               "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5}
    metrics.update(extra)
    acc = [{"ID": 1, "Name": "data sent to Python workers",
            "Update": str(py_sent), "Value": "0"},
           {"ID": 2, "Name": "number of output rows", "Update": 99}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc}, "Task Metrics": metrics}


def _job(job_id, group, start, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": start, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def _end(job_id, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id,
            "Completion Time": t}


SYNTHETIC = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, "w:a#0", 1000, [0, 1]),
    _task(0, 100, py_sent=64), _task(0, 300, py_sent=36), _task(1, 50),
    _end(0, 1500),
    _job(1, "w:b#0", 1600, [1, 2]),        # stage 1 is reused (skipped)
    _task(2, 40),
    _end(1, 1800),
    _job(2, "other", 1700, [3]), _task(3, 10), _end(2, 1750),
]


def test_fold_attributes_tasks_to_jobs_and_groups():
    f = eventlog.fold(SYNTHETIC)
    a, b = f.jobs[0], f.jobs[1]
    assert (a.group, b.group) == ("w:a#0", "w:b#0")
    assert a.counters["tasks"] == 3 and b.counters["tasks"] == 1
    assert a.counters["run_ms"] == 450
    assert a.counters["cpu_ms"] == pytest.approx(3.0)
    assert a.counters["shuffle_read_bytes"] == 30
    assert a.counters["shuffle_write_bytes"] == 60
    assert a.counters["fetch_wait_ms"] == 6
    assert a.counters["spill_bytes"] == 15
    assert a.counters["input_bytes"] == 90
    assert a.counters["python_bytes_sent"] == 100
    assert [j.group for j in f.select("w:")] == ["w:a#0", "w:b#0"]


def test_busy_time_merges_overlapping_jobs():
    f = eventlog.fold(SYNTHETIC)
    jobs = list(f.jobs.values())
    # [1000,1500] and [1600,1800] with [1700,1750] inside the second
    assert eventlog.busy_ms(jobs, 900, 2000) == 700
    assert eventlog.busy_ms(jobs, 1400, 1650) == 150


def test_task_skew_is_slowest_over_mean():
    f = eventlog.fold(SYNTHETIC)
    # only stage 0 has more than one task: max 300 over mean 200
    assert eventlog.task_skew(f, f.select("w:")) == pytest.approx(1.5)


def test_rolling_event_log_directory_is_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in SYNTHETIC]
    (d / "events_2_local-1").write_text("\n".join(lines[5:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    (d / "appstatus_local-1").write_text("")
    f = eventlog.fold(eventlog.read_events(str(tmp_path)))
    assert f.jobs[0].counters["tasks"] == 3 and f.jobs[1].end_ms == 1800


@pytest.mark.parametrize("n, q, want", [
    (100, 0.95, (0.90, 90)),      # ten beyond p90, not p95
    (300, 0.95, (0.95, 285)),     # enough samples for p95 itself
    (300, 0.90, (0.90, 270)),
    (12, 0.90, (2 / 12, 2)),      # twelve samples support only p17
    (10, 0.95, (0.0, 0.0)),       # no percentile has ten beyond it
])
def test_tail_reports_highest_percentile_with_ten_beyond(n, q, want):
    pct, value, count = tail(list(range(1, n + 1))[::-1], q)
    assert (pct, value, count) == (*want, n)
    if pct:
        assert sum(x > value for x in range(1, n + 1)) >= 10


def test_cpu_time_counts_children_that_have_ended():
    import subprocess
    before = tree_cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert tree_cpu_seconds(os.getpid()) - before >= 0.45


def test_result_check_catches_a_planted_wrong_result():
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    oracle = result_key(["k", "v", "t"], [(2, 0.5, ts), (1, 1 / 3, ts)])
    spark_side = pa.table({
        "t": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
        "v": [1 / 3 + 1e-15, 0.5],          # engine noise below 9 digits
        "k": [1, 2]})
    assert arrow_result_key(spark_side) == oracle
    wrong = spark_side.set_column(1, "v", pa.array([0.34, 0.5]))
    assert arrow_result_key(wrong) != oracle
    missing = spark_side.slice(0, 1)
    assert arrow_result_key(missing) != oracle


def test_fixtures_are_seeded_and_sized():
    a, b, c = (fixtures.make_tables(s) for s in (7, 7, 8))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    for name, rows in fixtures.ROWS.items():
        assert a[name].num_rows == c[name].num_rows == rows
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_lineitem_lines_are_numbered_per_order():
    li = fixtures.make_tables(7)["lineitem"].to_pydict()
    keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
    assert len(set(keys)) == len(keys)
    per_order: dict[int, list[int]] = {}
    for k, n in keys:
        per_order.setdefault(k, []).append(n)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_order.values())


# how far a seed's figure may lie from the test fixture's (relative)
SHAPE_TOLERANCE = {"words_p50": 0.1, "near_dup_clusters": 0.1,
                   "largest_cluster": 0.5, "cell_min": 0.5, "cell_max": 0.5,
                   "cell_pairs": 0.05, "cell_verified_pairs": 0.3,
                   "semdedup_kept": 0.1}


@pytest.mark.parametrize("seed", [1, 2])
def test_generated_tables_have_the_test_fixtures_shape(seed, tmp_path):
    import shape
    fixtures.write_tables(seed, str(tmp_path))
    got = shape.shape(str(tmp_path))
    assert set(got) == set(fixtures.REFERENCE)
    for name, want in fixtures.REFERENCE.items():
        if name in fixtures.DEPARTURES:
            continue
        tol = SHAPE_TOLERANCE.get(name, 0.0)
        assert abs(got[name] - want) <= tol * want, (name, got[name], want)
    assert got["lineitem_key_share"] == 1.0


def test_benchmark_json_names_every_printed_metric():
    import run
    import tracing
    with open(os.path.join(ROOT, "BENCHMARK.json"),
              encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        tracing.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["dataflow", "llm_ops"]
