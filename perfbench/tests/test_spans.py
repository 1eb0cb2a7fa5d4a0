import json

import pytest

import spans
from spans import Span, Tracer, parse_event_log


def test_self_time_subtracts_the_union_of_child_intervals():
    tr = Tracer()
    tr.spans = [
        Span("op", 0.0, 10.0),
        Span("build", 1.0, 3.0, parent=0),
        Span("io.read_parquet", 2.0, 5.0, parent=0),  # overlaps build
        Span("exec", 7.0, 8.0, parent=0),
        Span("io.read_parquet", 1.5, 2.5, parent=1),
    ]
    assert tr.self_times() == pytest.approx([5.0, 1.0, 3.0, 1.0, 1.0])


def test_child_time_outside_the_parent_is_not_subtracted():
    tr = Tracer()
    tr.spans = [Span("op", 0.0, 4.0), Span("exec", 3.0, 6.0, parent=0)]
    assert tr.self_times()[0] == pytest.approx(3.0)


def test_nested_spans_record_parents_and_context():
    tr = Tracer()
    tr.context = {"pass": 2}
    with tr.span("op", op="q"):
        with tr.span("build"):
            pass
        with tr.span("exec"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("op", None), ("build", 0), ("exec", 0)]
    assert all(s.attrs["pass"] == 2 for s in tr.spans)
    assert tr.spans[0].attrs["op"] == "q"
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx(
        (tr.spans[0].end - tr.spans[0].start)
        - sum(s.end - s.start for s in tr.spans[1:]))
    assert tr.overhead_s >= 0.0


def test_instrument_wraps_and_restores_the_public_functions():
    from revtron_utils_spark import engine, io, tables
    from revtron_utils_spark.streaming import incremental

    before = (io.read_parquet, engine.read_parquet, engine.Engine.upsert,
              tables.VersionedTable.merge, incremental.IncrementalSyncer.sync_window)
    with spans.instrument(Tracer(), spans.IoCounters(), spans.TableCounters()):
        assert io.read_parquet is not before[0]
        assert engine.Engine.upsert is not before[2]
    after = (io.read_parquet, engine.read_parquet, engine.Engine.upsert,
             tables.VersionedTable.merge, incremental.IncrementalSyncer.sync_window)
    assert after == before


def test_io_counters_count_a_repeated_frame_as_a_hit():
    c = spans.IoCounters()
    a, b = object(), object()
    for path, frame in [("x", a), ("x", a), ("y", b), ("x", b), ("x", b)]:
        c.saw(path, frame)
    assert (c.calls, c.frame_hits) == (5, 2)


def _events(*evs):
    return "\n".join(json.dumps(e) for e in evs) + "\n"


def test_event_log_totals_per_phase_for_the_named_passes(tmp_path):
    def job(jid, group, desc, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group, "spark.job.description": desc}}

    def task(sid, launch, finish, run_ms=5, shuffle_read=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Read Metrics": {"Local Bytes Read": shuffle_read},
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}

    def stage(sid, ntasks, submit, done):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Number of Tasks": ntasks,
                               "Submission Time": submit, "Completion Time": done}}

    log = tmp_path / "app"
    log.write_text(_events(
        job(0, "q:build", "pass1", [0]), task(0, 0, 10), stage(0, 1, 0, 20),
        job(1, "q:exec", "pass1", [1, 2]),
        task(1, 0, 100), task(1, 0, 100), task(1, 0, 400, shuffle_read=7),
        stage(1, 3, 0, 500),
        task(2, 0, 10), stage(2, 1, 600, 650),
        job(2, "q:exec", "pass0", [3]), task(3, 0, 10), stage(3, 1, 0, 10),
        job(3, "bench:untimed", "pass1", [4]), task(4, 0, 10), stage(4, 1, 0, 10),
    ))
    out = parse_event_log(log, {"pass1"})
    build, exe = out["phases"]["build"], out["phases"]["exec"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert (exe["jobs"], exe["stages"], exe["tasks"]) == (1, 2, 4)
    assert exe["shuffle_read_bytes"] == 7
    assert exe["single_task_stage_s"] == pytest.approx(0.05)
    assert exe["executor_run_s"] == pytest.approx(0.02)
    assert out["phases"]["untimed"]["jobs"] == 1  # its own phase, not exec
    # longest exec stage is stage 1: slowest task 0.4 s over median 0.1 s
    assert out["straggler_ratios"] == [pytest.approx(4.0)]
