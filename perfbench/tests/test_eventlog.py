"""Tests of the benchmark's event-log parser, span tracer and metric list.

Run with ``python3 -m pytest perfbench/tests -q``; no Spark session is
started. ``data/eventlog_sample.jsonl`` follows Spark 4.1's event-log
schema, trimmed to the fields the parser reads: two job groups, a stage
reused by a later job, a Python-UDF stage, a failed job outside any group
and a half-written last line, as a live log can end.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
from spans import Tracer  # noqa: E402

SAMPLE = HERE / "data" / "eventlog_sample.jsonl"
T0 = 1_700_000_000  # the sample's application start, epoch seconds
A, B = "perfbench-call1-0", "perfbench-call1-1"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(SAMPLE)


def test_jobs_and_groups(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert [log.jobs[j].group for j in (0, 1, 2)] == [A, B, None]
    assert [log.jobs[j].ok for j in (0, 1, 2)] == [True, True, False]
    assert {s: st.group for s, st in log.stages.items()} == {0: A, 1: A, 2: B, 3: None}


def test_summary_of_one_group(log):
    s = eventlog.summarize(log, {A}, T0 + 0.5, T0 + 3.0)
    assert s["jobs"] == 1 and s["failed_jobs"] == 0 and s["tasks"] == 5
    assert s["executor_cpu_s"] == pytest.approx(1.0)
    assert s["executor_noncpu_s"] == pytest.approx(2.26 - 1.0)
    assert s["shuffle_write_mb"] == pytest.approx(5.0)
    assert s["spill_mb"] == pytest.approx(1.0)
    assert s["gc_s"] == pytest.approx(0.03)
    # stage 1 has the most run time; its tasks took 1000, 200 and 200 ms
    assert s["task_skew"] == pytest.approx(5.0)
    # job 0 ran 1.0-2.5 s into the app: 1.0 s of the window had no job
    assert s["driver_only_s"] == pytest.approx(1.0)
    assert s["python_sent_mb"] == pytest.approx(1.0)
    assert s["python_returned_mb"] == pytest.approx(0.1)


def test_reused_stage_is_counted_once(log):
    s = eventlog.summarize(log, {A, B}, T0, T0 + 4.0)
    assert s["jobs"] == 2 and s["tasks"] == 6
    assert s["executor_cpu_s"] == pytest.approx(1.55)
    assert s["shuffle_write_mb"] == pytest.approx(6.0)
    only_b = eventlog.summarize(log, {B}, T0 + 3.0, T0 + 3.6)
    assert only_b["tasks"] == 1 and only_b["driver_only_s"] == pytest.approx(0.0)


def test_failed_job_without_group(log):
    s = eventlog.summarize(log, {None}, T0 + 5.0, T0 + 5.1)
    assert s["jobs"] == 1 and s["failed_jobs"] == 1


def test_rolling_layout_reads_files_in_order(tmp_path):
    lines = SAMPLE.read_text().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # events_10 sorts before events_2 as text; the parser orders numerically
    (d / "events_2_local-1").write_text("".join(lines[12:]))
    (d / "events_1_local-1").write_text("".join(lines[:12]))
    (d / "appstatus_local-1.inprogress").write_text("")
    rolled = eventlog.parse(d)
    whole = eventlog.parse(SAMPLE)
    assert rolled == whole
    shutil.rmtree(d)


def test_span_self_time_and_restore():
    mod = types.ModuleType("perfbench_fake")

    def inner():
        time.sleep(0.02)

    def outer():
        time.sleep(0.02)
        mod.inner()

    mod.inner, mod.outer = inner, outer
    sys.modules["perfbench_fake"] = mod
    try:
        tr = Tracer("t")
        tr.patch("perfbench_fake", "outer", "fake.outer")
        tr.patch("perfbench_fake", "inner", "fake.inner")
        with tr.span("top"):
            mod.outer()
        tr.restore()
        assert mod.outer is outer and mod.inner is inner
    finally:
        del sys.modules["perfbench_fake"]
    top, o, i = tr.spans
    assert [s.name for s in tr.spans] == ["top", "fake.outer", "fake.inner"]
    assert (o.parent, i.parent) == (top.sid, o.sid)
    assert len({s.group for s in tr.spans}) == 3
    # self times telescope to the top span's wall time
    assert sum(tr.self_time(s) for s in tr.spans) == pytest.approx(top.wall)
    assert tr.self_time(i) >= 0.02 and tr.self_time(o) >= 0.02
    assert [s.name for s in tr.subtree(o)] == ["fake.outer", "fake.inner"]


def test_benchmark_json_matches_the_driver():
    import run

    spec = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _, _ in run.per_layer_names()]
    assert [(m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (u, b) for _, u, b in run.per_layer_names()
    ]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert len(spec["per_layer"]) <= 128
