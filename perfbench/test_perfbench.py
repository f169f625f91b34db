"""Self-tests of the benchmark's event-log parser and checksum helpers
on tiny fixtures. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import argparse
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import read_violations, rows_checksum  # noqa: E402
from eventlog import Span, attribute  # noqa: E402
from run import Bench, timed_op  # noqa: E402


def _task(stage: int, cpu_ns: int, shuffle: int, spill: int, records: int) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": records},
        },
    })


def _job(job: int, stages: list[int], group: str | None, t_ms: int) -> str:
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
        "Submission Time": t_ms, "Properties": props,
    })


def test_attribute_by_job_group_then_by_window():
    lines = [
        json.dumps({"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
        _job(0, [0, 1], "scan", 5_000),      # group wins over the window
        _task(0, 2_000_000_000, 100, 0, 10),
        _task(1, 1_000_000_000, 0, 7, 5),
        _job(1, [2], "stream-run-id", 2_500),  # foreign group: by window
        _task(2, 500_000_000, 40, 0, 0),
        _job(2, [3], None, 9_999),            # outside every span
        _task(3, 9_000_000_000, 900, 900, 900),
        _job(3, [1, 4], "scan", 5_100),       # stage 1 reused: counted once
        _task(4, 0, 0, 0, 1),
    ]
    scan, query = Span("scan", 4_000, 6_000), Span("query", 2_000, 3_000)
    attribute(lines, [scan, query])
    assert scan.totals == {
        "cpu_s": 3.0, "shuffle_write_bytes": 100,
        "spill_bytes": 7, "input_records": 16,
    }
    assert query.totals["cpu_s"] == 0.5
    assert query.totals["shuffle_write_bytes"] == 40


def test_rows_checksum_ignores_order_and_counts_duplicates():
    rows = [(1, "a", None), (2, "b", 0.1), (3, "c", float("nan"))]
    assert rows_checksum(rows) == rows_checksum(list(reversed(rows)))
    assert rows_checksum(rows)[0] == 3
    assert rows_checksum(rows + rows[:1]) != rows_checksum(rows)
    assert rows_checksum(rows + rows[:1])[0] == 4
    assert rows_checksum([(1, "a", None)]) != rows_checksum([(1, "a", "None")])
    assert rows_checksum([("ab", "c")]) != rows_checksum([("a", "bc")])


def test_read_violations_recovers_partition_id(tmp_path):
    schema = ("doc_id", "constraint_id", "field", "message")
    for pid, doc in ((3, "d1"), (12, "d2")):
        part = tmp_path / f"partition_id={pid}"
        part.mkdir()
        pq.write_table(
            pa.table({c: [f"{c}-{doc}"] for c in schema}), str(part / "part-0.parquet")
        )
    got = sorted(read_violations(str(tmp_path)))
    assert got == [
        (3, "doc_id-d1", "constraint_id-d1", "field-d1", "message-d1"),
        (12, "doc_id-d2", "constraint_id-d2", "field-d2", "message-d2"),
    ]


def test_timed_op_counts_an_op_or_check_that_raises_as_failed(tmp_path):
    class Raises:
        def op(self):
            raise ValueError("op")

    class CheckRaises:
        def op(self):
            return "out"

        def finish(self, out, label):
            raise ValueError("check")

    bench = Bench(argparse.Namespace(seed=0), str(tmp_path))
    for wl in (Raises(), CheckRaises()):
        dt, n_docs, ok = timed_op(bench, wl, "op")
        assert dt >= 0 and n_docs is None and not ok
    assert (bench.info["attempted"], bench.info["failed"]) == (2, 2)
    assert len(bench.failures) == 2
