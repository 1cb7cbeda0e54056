"""Tests for the benchmark's event-log parser.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog


def _lines(*events):
    return [json.dumps(e) for e in events]


def test_parse_maps_stage_accumulables_to_job_groups():
    lines = _lines(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "0:op"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}, "Properties": {"spark.jobGroup.id": "0:op"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"ID": 2, "Name": "internal.metrics.executorCpuTime", "Value": 10**9},
                {"ID": 3, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 2**20},
                {"ID": 4, "Name": "internal.metrics.peakExecutionMemory", "Value": 2**21},
            ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # A second job of the same group, overlapping the first in time.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "0:op"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 4000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Number of Tasks": 4, "Accumulables": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4100},
    )
    groups = eventlog.parse(lines)
    op = groups["0:op"]
    assert (op.jobs, op.stages, op.tasks, op.single_task_stages) == (2, 1, 1, 1)
    assert op.failed_tasks == 1
    assert op.executor_run_s == pytest.approx(1.5)
    assert op.executor_cpu_s == pytest.approx(1.0)
    assert op.shuffle_write_mb == pytest.approx(1.0)
    assert op.peak_exec_mem_mb == pytest.approx(2.0)
    assert op.jobs_wall_s == pytest.approx(2.5)  # [1.0, 3.5] covered once
    other = groups[eventlog.UNGROUPED]
    assert (other.jobs, other.stages, other.tasks) == (1, 1, 4)


def test_parse_event_log_of_a_tiny_spark_job(tmp_path):
    from pyspark.sql import SparkSession

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + str(events))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("0:shuffle", "shuffle")
        rows = (
            spark.range(0, 10_000, numPartitions=2)
            .selectExpr("id % 7 AS k").groupBy("k").count().collect()
        )
        sc.setJobGroup("0:plain", "plain")
        n = len(spark.range(0, 100, numPartitions=2).collect())
    finally:
        spark.stop()
    assert len(rows) == 7 and n == 100
    (log_file,) = os.listdir(events)
    groups = eventlog.parse_file(str(events / log_file))
    shuffle, plain = groups["0:shuffle"], groups["0:plain"]
    assert shuffle.stages >= 2 and shuffle.tasks >= 3 and shuffle.failed_tasks == 0
    assert shuffle.shuffle_write_mb > 0 and shuffle.shuffle_read_mb > 0
    assert plain.jobs >= 1 and plain.stages >= 1 and plain.shuffle_write_mb == 0
    assert shuffle.jobs_wall_s > 0 and plain.jobs_wall_s > 0
    assert shuffle.executor_cpu_s > 0
