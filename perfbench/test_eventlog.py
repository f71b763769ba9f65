"""Tests for the event-log fold.

    python3 -m pytest perfbench/test_eventlog.py -q

The fixtures are trimmed from traced sessions of Spark 4.1.2: the job
start events and task-end events of two job groups each, with the fields
the fold does not read removed. ``eventlog_cli.jsonl`` holds a verdict sink
write and a standalone table-check pass (shuffles); ``eventlog_payload.jsonl``
holds a verdict collect and a standalone payload-check pass (Python
crossing). The totals below were recounted from the files with a separate
loop over the same fields.
"""

import os

import eventlog

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

EXPECTED = {
    "eventlog_cli.jsonl": {
        "it1:sinks.write_verdicts": {
            "jobs": 2, "tasks": 5, "run_ms": 1653, "input_rows": 50000,
            "input_bytes": 35699, "shuffle_write_bytes": 679,
            "shuffle_read_bytes": 679, "py_sent_bytes": 0,
            "py_received_bytes": 0},
        "itL0:table_checks": {
            "jobs": 26, "tasks": 64, "run_ms": 4089, "input_rows": 51048,
            "input_bytes": 5941766, "shuffle_write_bytes": 601014,
            "shuffle_read_bytes": 601014, "py_sent_bytes": 0,
            "py_received_bytes": 0},
    },
    "eventlog_payload.jsonl": {
        "it1:validate.verdicts": {
            "jobs": 2, "tasks": 5, "run_ms": 2044, "input_rows": 800,
            "input_bytes": 29054, "shuffle_write_bytes": 684,
            "shuffle_read_bytes": 684, "py_sent_bytes": 343656,
            "py_received_bytes": 1024},
        "itL0:audio": {
            "jobs": 2, "tasks": 5, "run_ms": 2455, "input_rows": 800,
            "input_bytes": 29054, "shuffle_write_bytes": 268,
            "shuffle_read_bytes": 268, "py_sent_bytes": 345992,
            "py_received_bytes": 1024},
    },
}


def test_fixtures_fold_into_known_group_totals():
    for name, want_groups in EXPECTED.items():
        groups = eventlog.fold_file(os.path.join(FIXTURES, name))
        assert groups.keys() == want_groups.keys(), name
        for group, want in want_groups.items():
            got = {k: groups[group][k] for k in want}
            assert got == want, (name, group)


def test_table_check_pass_reads_a_skewed_shuffle_stage():
    groups = eventlog.fold_file(os.path.join(FIXTURES, "eventlog_cli.jsonl"))
    assert eventlog.task_skew(groups["itL0:table_checks"]) > 1.0
    assert eventlog.task_skew(groups["it1:sinks.write_verdicts"]) >= 1.0


def test_ungrouped_jobs_fold_under_empty_name():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],'
        ' "Properties": {}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info":'
        ' {"Launch Time": 10, "Finish Time": 15}, "Task Metrics":'
        ' {"Executor CPU Time": 2000000, "Input Metrics":'
        ' {"Bytes Read": 7, "Records Read": 3}}}',
    ]
    g = eventlog.fold(lines)[""]
    assert (g["jobs"], g["tasks"], g["cpu_ms"], g["input_rows"],
            g["input_bytes"]) == (1, 1, 2.0, 3, 7)


def test_stage_is_charged_to_the_first_job_listing_it():
    lines = [
        '{"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],'
        ' "Properties": {"spark.jobGroup.id": "a"}}',
        '{"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],'
        ' "Properties": {"spark.jobGroup.id": "b"}}',
    ] + [f'{{"Event": "SparkListenerTaskEnd", "Stage ID": {s},'
         f' "Task Metrics": {{"Executor Run Time": 1}}}}' for s in (0, 1, 2)]
    groups = eventlog.fold(lines)
    assert groups["a"]["run_ms"] == 2 and groups["b"]["run_ms"] == 1


def test_task_skew_reads_the_widest_shuffle_stage():
    t = eventlog.merge([])
    t["stage_task_ms"].update({1: [10, 10, 10, 40], 2: [5, 50]})
    t["stage_shuffle_read"].update({1: 100, 2: 100})
    assert eventlog.task_skew(t) == 4.0
    assert eventlog.task_skew(eventlog.merge([])) == 1.0
