"""Tests of the benchmark's pure logic; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import core  # noqa: E402
from inputs import line_hash  # noqa: E402


def test_median_after_warmup_discard():
    walls = [9.0, 5.0, 3.0, 2.0, 4.0]
    timed = core.timed_walls(walls, warmup=2)
    assert timed == [3.0, 2.0, 4.0]
    assert core.median(timed) == 3.0
    assert core.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_warmup_that_leaves_no_job_is_an_error():
    with pytest.raises(ValueError):
        core.timed_walls([1.0, 2.0], warmup=2)


def test_failed_frac():
    assert core.failed_frac(8, 0) == 0.0
    assert core.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        core.failed_frac(0, 0)
    with pytest.raises(ValueError):
        core.failed_frac(3, 4)


def test_union_length_merges_overlaps():
    assert core.union_length([]) == 0.0
    assert core.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert core.union_length([(0, 10), (2, 3)]) == 10.0


def _span(i, name, start, end, parent):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "job", 0.0, 10.0, None),
        _span(1, "call", 0.0, 6.0, 0),
        _span(2, "action", 6.0, 10.0, 0),
        # two overlapping Spark jobs inside the call count once
        _span("j1", "spark.job", 1.0, 3.0, 1),
        _span("j2", "spark.job", 2.0, 4.0, 1),
        # a child reaching past its parent is clipped to the parent
        _span("j3", "spark.job", 9.0, 12.0, 2),
    ]
    st = core.self_times(spans)
    assert st["job"] == 0.0
    assert st["call"] == 3.0
    assert st["action"] == 3.0
    assert st["spark.job"] == 2.0 + 2.0 + 3.0


def test_innermost_span():
    spans = [_span(0, "job", 0.0, 10.0, None), _span(1, "call", 1.0, 4.0, 0)]
    assert core.innermost(spans, 2.0) == 1
    assert core.innermost(spans, 5.0) == 0
    assert core.innermost(spans, 11.0) is None


@pytest.mark.parametrize(
    "text, value",
    [
        ("6,000", 6000.0),
        ("12 ms", 0.012),
        ("1.3 s", 1.3),
        ("2.0 m", 120.0),
        ("661.1 KiB", 661.1 * 1024),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n1312.5 KiB (23.1 KiB, 23.4 KiB, "
         "23.9 KiB (stage 76.0: task 232))", 1312.5 * 1024),
        ("total (min, med, max (stageId: taskId))\n4.1 s (449 ms, 1.2 s, 1.3 s (stage "
         "0.0: task 1))", 4.1),
        ("(1.4, 1.4, 1.4 (stage 6.0: task 3))", None),
        (None, None),
    ],
)
def test_parse_metric(text, value):
    got = core.parse_metric(text)
    assert got == pytest.approx(value) if value is not None else got is None


def _node(name, desc="", **metrics):
    return {"name": name, "desc": desc, "metrics": {k.replace("_", " "): v for k, v in metrics.items()}}


CANNED = [
    {
        "description": "text at NativeMethodAccessorImpl.java:0",
        "nodes": [
            _node("Execute InsertIntoHadoopFsRelationCommand", written_output="1.0 MiB",
                  number_of_written_files="2", job_commit_time="10 ms", task_commit_time="5 ms"),
            _node("Sort", sort_time="400 ms", spill_size="0.0 B"),
            _node("Exchange", "Exchange rangepartitioning(word#2 ASC)",
                  shuffle_bytes_written="2.0 MiB", shuffle_records_written="1,000",
                  fetch_wait_time="3 ms"),
            _node("HashAggregate", "HashAggregate(keys=[word#2], functions=[count(1)])",
                  time_in_aggregation_build="100 ms", peak_memory="90.0 MiB"),
            _node("Exchange", "Exchange hashpartitioning(word#2, 4)",
                  shuffle_bytes_written="3.0 MiB", shuffle_records_written="2,000"),
            _node("HashAggregate", "HashAggregate(keys=[word#2], functions=[partial_count(1)])",
                  time_in_aggregation_build="1.5 s", peak_memory="65.0 MiB",
                  number_of_output_rows="2,000", spill_size="1.0 KiB"),
            _node("Generate", "Generate explode(split(value#0))", number_of_output_rows="10,000"),
            _node("Scan text ", "FileScan text [value#0]", size_of_files_read="4.0 MiB",
                  number_of_output_rows="500"),
        ],
    },
    {
        "description": "toPandas at bench.py:1",
        "nodes": [
            _node("MapInPandas", time_to_run_Python_workers="2.0 s",
                  time_to_start_Python_workers="100 ms",
                  time_to_initialize_Python_workers="3.0 s",
                  data_sent_to_Python_workers="1.0 KiB",
                  data_returned_from_Python_workers="2.0 KiB"),
            _node("Exchange", "Exchange RoundRobinPartitioning(16)",
                  shuffle_records_written="16", shuffle_bytes_written="8.0 KiB"),
            _node("BroadcastExchange", data_size="1.0 MiB"),
        ],
    },
]


def test_aggregate_executions_over_canned_list():
    agg = core.aggregate_executions(CANNED)
    mib = 2**20
    assert agg["scan.bytes"] == 4 * mib
    assert agg["scan.rows"] == 500
    assert agg["generate.rows"] == 10_000
    assert agg["agg.partial_rows"] == 2_000
    assert agg["agg.build_s"] == pytest.approx(1.6)
    assert agg["agg.peak_mem_bytes"] == 90 * mib  # the largest node, not a sum
    assert agg["spill.bytes"] == 1024
    assert agg["exchange.count"] == 3  # BroadcastExchange is not a shuffle
    assert agg["exchange.shuffle_bytes"] == 5 * mib + 8 * 1024
    assert agg["exchange.shuffle_records"] == 3_016
    assert agg["exchange.fetch_wait_s"] == pytest.approx(0.003)
    assert agg["exchange.range_bytes"] == 2 * mib
    assert agg["exchange.roundrobin_records"] == 16
    assert agg["sort.time_s"] == pytest.approx(0.4)
    assert agg["sink.bytes"] == mib
    assert agg["sink.files"] == 2
    assert agg["sink.commit_s"] == pytest.approx(0.015)
    assert agg["python.run_s"] == 2.0
    assert agg["python.start_s"] == pytest.approx(0.1)
    assert agg["python.init_s"] == 3.0
    assert agg["python.bytes_to"] == 1024
    assert agg["python.bytes_from"] == 2048


def test_aggregate_of_nothing_is_all_zero():
    assert set(core.aggregate_executions([]).values()) == {0.0}


def test_proc_stat_parsing_and_descendants():
    # the command name may hold spaces and parentheses
    line = "42 (java (x) y) S 7 42 42 0 -1 4194560 1 0 0 0 150 30 5 2 20 0 1 0"
    st = core.parse_proc_stat(line)
    assert (st["pid"], st["state"], st["ppid"], st["pgrp"]) == (42, "S", 7, 42)
    assert st["ticks"] == 150 + 30 + 5 + 2
    stats = [{"pid": p, "ppid": pp} for p, pp in [(1, 0), (7, 1), (42, 7), (43, 42), (99, 1)]]
    assert core.descendants(stats, 7) == {7, 42, 43}


def test_line_hash_ignores_order():
    assert line_hash(["a -> 1", "b -> 2"]) == line_hash(["b -> 2", "a -> 1"])
    assert line_hash(["a -> 1", "b -> 2"]) != line_hash(["a -> 1", "b -> 3"])
