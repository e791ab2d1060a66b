"""Tests of the benchmark's own logic (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from tracing import Span  # noqa: E402


# ---- self time and coverage ------------------------------------------------


def test_self_time_subtracts_union_of_children():
    parent = Span(1, None, "build", 0.0, 10.0)
    children = [
        Span(2, 1, "a", 1.0, 3.0),
        Span(3, 1, "b", 2.0, 5.0),   # overlaps a: counted once
        Span(4, 1, "c", 7.0, 8.0),
        Span(5, 1, "d", 9.0, 12.0),  # runs past the parent: clipped
    ]
    assert tracing.self_time(parent, children) == pytest.approx(4.0)
    assert tracing.self_time(parent, []) == pytest.approx(10.0)


def test_covered_ignores_intervals_outside_the_window():
    assert tracing.covered([(0, 1), (5, 6)], 2, 4) == 0.0
    assert tracing.covered([(0, 3), (3, 5)], 1, 4) == pytest.approx(3.0)


# ---- percentile rule --------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_percentile([float(i) for i in range(1, 101)], 90) == 90.0
    assert stats.tail_percentile([float(i) for i in range(1, 100)], 90) is None
    assert stats.tail_percentile([], 90) is None


def test_nearest_rank():
    assert stats.nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.nearest_rank([5.0], 90) == 5.0


# ---- event log --------------------------------------------------------------


def _task(stage, run_ms=100, cpu_ns=0, gc_ms=0, accum=(), **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": 0, "Finish Time": run_ms + 30, "Getting Result Time": 0,
            "Accumulables": [{"Name": n, "Update": str(u)} for n, u in accum],
        },
        "Task Metrics": {
            "Executor Deserialize Time": 10, "Executor Run Time": run_ms,
            "Result Serialization Time": 0, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": metrics.get("spill", 0),
            "Input Metrics": {"Bytes Read": metrics.get("in_bytes", 0),
                              "Records Read": metrics.get("in_rows", 0)},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": metrics.get("remote", 0),
                                     "Local Bytes Read": metrics.get("local", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
        },
    }


def _job(jid, start, end, stages, span=None):
    props = {tracing.SPAN_PROPERTY: str(span)} if span is not None else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": int(start * 1000),
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int(end * 1000)},
    ]


def _synthetic_log() -> list[str]:
    events = []
    events += _job(0, 100.6, 100.9, [0], span=3)  # load_table's schema read
    events += _job(1, 101.5, 103.0, [1], span=4)  # operator loop
    events += _job(2, 102.0, 102.5, [2])          # pool thread: no span
    events += _job(3, 104.5, 109.5, [3, 4], span=5)
    events += _job(4, 90.0, 91.0, [5], span=None)  # warm-up, outside window
    events += [
        _task(0, run_ms=200, cpu_ns=150_000_000, gc_ms=10, in_bytes=1000, in_rows=100),
        _task(1), _task(2),
        _task(3, run_ms=1000, accum=[(tracing.PY_SENT, 500), (tracing.PY_RETURNED, 300)]),
        _task(4, remote=10, local=20, sw=40, spill=5),
        _task(5, run_ms=9999),
    ]
    events.append({"Event": "SparkListenerStageCompleted",
                   "Stage Info": {"Stage ID": 0, "Number of Tasks": 1}})
    events.append({"Event": "SparkListenerApplicationEnd", "Timestamp": 0})
    return [json.dumps(e) for e in events]


def _spans() -> list[Span]:
    return [
        Span(1, None, "op", 100.0, 110.0),
        Span(2, 1, "build", 100.0, 104.0),
        Span(3, 2, "session.load_table", 100.5, 101.0),
        Span(4, 2, "operators.graph_algos.bfs", 101.0, 103.5),
        Span(5, 1, "execute", 104.0, 110.0),
    ]


def test_event_log_parser_reads_jobs_and_tasks():
    log = tracing.parse_event_log(_synthetic_log())
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert log.jobs[0].span == 3 and log.jobs[2].span is None
    assert log.jobs[3].stages == [3, 4] and log.jobs[3].end == pytest.approx(109.5)
    assert len(log.tasks) == 6
    t0 = log.tasks[0]
    assert t0["run_s"] == pytest.approx(0.2) and t0["cpu_s"] == pytest.approx(0.15)
    assert t0["delay_s"] == pytest.approx(0.02)  # 230 ms - 10 deserialize - 200 run
    assert log.tasks[3]["py_sent"] == 500 and log.tasks[3]["py_returned"] == 300


def test_layer_table_from_synthetic_trace():
    log = tracing.parse_event_log(_synthetic_log())
    table = tracing.layer_table(_spans(), log, (100.0, 110.0), rows_out=50)
    assert table["session.load_table.calls"] == 1
    assert table["session.load_table.s"] == pytest.approx(0.5)
    assert table["session.load_table.jobs"] == 1
    assert table["plans.build.s"] == pytest.approx(4.0)
    assert table["plans.build.self_s"] == pytest.approx(1.0)
    assert table["plans.build.jobs"] == 2
    assert table["operators.graph_algos.s"] == pytest.approx(2.5)
    assert table["operators.jobs"] == 1
    assert table["schedule.jobs"] == 4          # the warm-up job is outside the window
    assert table["schedule.stages"] == 5
    assert table["schedule.tasks"] == 5
    # op lasts 10 s; jobs cover 0.3 + 1.5 (job 2 lies inside job 1) + 5.0
    assert table["schedule.outside_jobs_s"] == pytest.approx(3.2)
    assert table["trace.unattributed_jobs"] == 1
    assert table["python.bytes_to_workers"] == 500
    assert table["python.bytes_from_workers"] == 300
    assert table["python.stage_run_s"] == pytest.approx(1.0)
    assert table["execute.input_bytes"] == 1000
    assert table["execute.shuffle_read_bytes"] == 30
    assert table["execute.shuffle_write_bytes"] == 40
    assert table["execute.spill_bytes"] == 5
    assert table["execute.rows_read_per_row_out"] == pytest.approx(2.0)
    assert table["streaming.events.s"] == 0.0


# ---- inputs -----------------------------------------------------------------


def test_generated_tables_follow_the_seed(tmp_path):
    a = datagen.write(str(tmp_path / "a"), 0.001, seed=5)
    b = datagen.write(str(tmp_path / "b"), 0.001, seed=5)
    c = datagen.write(str(tmp_path / "c"), 0.001, seed=6)
    assert a == b
    assert a["lineitem"] != c["lineitem"]
    assert set(a) == set(datagen.TABLES)


def _content_digest(table: pa.Table) -> str:
    import check

    return check.frame_digest(table.column_names, [tuple(r.values()) for r in table.to_pylist()])[0]


#: content digests of the inputs for seed 7, so that a change to the
#: generator, numpy or pyarrow that changes what a seed draws shows here
PINNED_TABLES = {
    "region": "fe5ee1399f713b5842784e242f710f14",
    "nation": "111c37317a857e7a05f09678ac8031e0",
    "customer": "0e7ea86fc75d813d00872c2d9e4c651c",
    "supplier": "b377d7400808f1da7f9d991b67f9b1fa",
    "part": "6fb9a67dc51d6e9f9290b0f57e9076f4",
    "orders": "2d9cdc33601c6fc758b8807d67fb759d",
    "lineitem": "a5ff29bcf818930f10700c38eaf40fe3",
    "events": "2c7a1b92a32526ee6f59a3b02f8aba5c",
    "documents": "814ad5e9a7e78347e914887b780c992e",
    "embeddings": "171661a5b39da0e02ded13ff30cd89be",
}
PINNED_BATCHES = {
    "orders": "a2d370170e31f2144b49948521a6535e",
    "lineitem": "7ef7eb6b03be8e9a1d040ee71a5f6470",
}


def test_inputs_are_pinned(tmp_path):
    got = {name: _content_digest(t) for name, t in datagen.generate(0.001, seed=7).items()}
    assert got == PINNED_TABLES
    datagen.write(str(tmp_path / "data"), workloads.SF, seed=7)
    batches = workloads.make_batches(str(tmp_path / "data"), str(tmp_path / "b"), seed=7)
    got = {
        t: _content_digest(pa.concat_tables([pq.read_table(b[t]) for b in batches]))
        for t, _ in workloads.LOAD_TABLES
    }
    assert got == PINNED_BATCHES


def test_load_conflicts_are_only_the_planned_ones(tmp_path):
    """Inside a batch a key repeats only in the deliberate duplicate
    copies, which repeat the whole row."""
    datagen.write(str(tmp_path / "data"), workloads.SF, seed=3)
    batches = workloads.make_batches(str(tmp_path / "data"), str(tmp_path / "b"), seed=3)
    for b in batches:
        for t, keys in workloads.LOAD_TABLES:
            rows = pq.read_table(b[t]).drop_columns([workloads.ORDER_COL])
            n_keys = rows.group_by(list(keys)).aggregate([]).num_rows
            n_distinct = rows.group_by(rows.column_names).aggregate([]).num_rows
            assert n_keys == n_distinct
            dup_share = 1 - n_keys / rows.num_rows
            assert 0.04 < dup_share < 0.05


def test_changed_input_is_detected(tmp_path):
    data = str(tmp_path / "d")
    datagen.write(data, 0.001, seed=1)
    datagen.verify(data)
    with open(os.path.join(data, "orders.parquet"), "ab") as f:
        f.write(b"x")
    with pytest.raises(datagen.ChecksumMismatch, match="orders"):
        datagen.verify(data)
    os.remove(os.path.join(data, "events.parquet"))
    with pytest.raises(datagen.ChecksumMismatch, match="events"):
        datagen.verify(data)


def test_load_check_follows_on_conflict_do_nothing(tmp_path):
    import check

    def write(path, rows):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows), path)

    b0 = str(tmp_path / "b0.parquet")
    b1 = str(tmp_path / "b1.parquet")
    write(b0, [{"k": 1, "v": "a", "_seq": 0}, {"k": 1, "v": "dup", "_seq": 1},
               {"k": 2, "v": "b", "_seq": 2}])
    write(b1, [{"k": 2, "v": "redelivered", "_seq": 3}, {"k": 3, "v": "c", "_seq": 4}])
    good = [{"k": 1, "v": "a", "_seq": 0}, {"k": 2, "v": "b", "_seq": 2},
            {"k": 3, "v": "c", "_seq": 4}]
    table, csv = str(tmp_path / "t"), str(tmp_path / "csv")
    write(os.path.join(table, "part-0.parquet"), good)
    os.makedirs(csv)
    pacsv.write_csv(pa.Table.from_pylist(good), os.path.join(csv, "part-0.csv"))
    assert check.load_mismatches([b0, b1], ["k"], "_seq", table, csv, [2, 1]) == []

    problems = check.load_mismatches([b0, b1], ["k"], "_seq", table, csv, [2, 2])
    assert any("append counts" in p for p in problems)
    write(os.path.join(table, "part-0.parquet"), good[:1] + [
        {"k": 2, "v": "redelivered", "_seq": 3}] + good[2:])
    problems = check.load_mismatches([b0, b1], ["k"], "_seq", table, csv, [2, 1])
    assert any("not in actual" in p for p in problems)
    problems = check.load_mismatches([b0, b1], ["k"], "_seq", str(tmp_path / "none"), csv, [2, 1])
    assert problems and "unreadable" in problems[0]


def test_refuses_to_run_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ is refused."""
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_sf0.1",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert "not a movie_etl_spark checkout" in proc.stderr
