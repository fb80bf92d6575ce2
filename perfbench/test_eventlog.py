"""Event-log reader tests on hand-written logs.

Run with ``python3 -m pytest perfbench``."""

from __future__ import annotations

import os

import eventlog

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _parse(name: str) -> dict[str, eventlog.GroupMetrics]:
    return eventlog.parse_file(os.path.join(FIXTURES, name))


def test_shared_stage_counts_once_for_the_group_that_ran_it():
    groups = _parse("shared_stage.jsonl")
    a, b = groups["a"], groups["b"]
    # stage 0 is listed by a job of each group but was submitted by group
    # a only; group b's job skipped it
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 3)
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)
    assert a.cpu_ns == 1_600_000_000
    assert b.cpu_ns == 250_000_000
    assert a.run_ms == 2050 and a.duration_ms == 1200 + 1100 + 200
    assert a.gc_ms == 10
    assert a.shuffle_write_bytes == 3072 and a.shuffle_read_bytes == 3072
    assert b.shuffle_read_bytes == 3072 and b.spill_bytes == 4096


def test_truncated_tail_line_is_skipped():
    # the fixture's last line is a task of stage 2 cut off mid-write
    assert _parse("shared_stage.jsonl")["b"].tasks == 1


def test_python_worker_metrics_are_read_by_display_name():
    g = _parse("python_udf.jsonl")["udf"]
    assert g.python_boot_ms == 983 + 17
    assert g.python_init_ms == 745 + 5
    assert g.python_run_ms == 2959 + 41
    assert g.python_sent_bytes == 911416 + 1000
    assert g.python_recv_bytes == 108632 + 368
    assert g.cpu_ns == 500_000_000 and g.tasks == 2


def test_group_metrics_add():
    total = eventlog.GroupMetrics()
    for g in _parse("shared_stage.jsonl").values():
        total.add(g)
    assert (total.jobs, total.stages, total.tasks) == (2, 3, 4)
