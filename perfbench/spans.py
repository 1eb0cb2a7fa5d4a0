"""Per-layer tracing for the benchmark, recorded from outside the engine.

Spans are opened in the benchmark's own code: around each op and its
build/exec phases, and around calls into the engine's public functions,
which ``instrument`` wraps for the length of a traced run. Spans stay in
memory and are written out once, at the end. A layer's self time is its
spans' duration minus the part of that interval their child spans cover.

Spark-side counts (jobs, stages, tasks, shuffle bytes, spill, executor
time) come from the Spark event log, which a traced run enables. Each
Spark job carries the job group of the phase that launched it
(``<op>:build``, ``<op>:exec`` or ``<op>:write``) and, as its
description, the pass that ran it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterator


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans on one thread. ``overhead_s`` accumulates
    the time spent inside the tracer's own bookkeeping."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        #: attributes stamped on every span opened from now on
        self.context: dict[str, Any] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        t0 = time.perf_counter()
        sp = Span(
            name, 0.0,
            parent=self._stack[-1] if self._stack else None,
            attrs={**self.context, **attrs},
        )
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            self._stack.pop()
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def self_times(self) -> list[float]:
        """Self time of every span, indexed like ``spans``."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        return [
            (sp.end - sp.start) - _covered(children.get(i, []), sp.start, sp.end)
            for i, sp in enumerate(self.spans)
        ]

    def dump(self, path: Path) -> None:
        selfs = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                [
                    {
                        "name": sp.name,
                        "start_s": round(sp.start - t0, 6),
                        "end_s": round(sp.end - t0, 6),
                        "self_s": round(st, 6),
                        "parent": sp.parent,
                        **sp.attrs,
                    }
                    for sp, st in zip(self.spans, selfs)
                ]
            )
        )


class NullTracer:
    """Stand-in for untraced runs: spans cost one generator frame."""

    enabled = False
    overhead_s = 0.0
    context: dict[str, Any] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        yield None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------- wrappers


class IoCounters:
    """Counts for ``io.read_parquet``: a frame-cache hit is a call that
    returns the same frame object as the previous call on that path."""

    def __init__(self) -> None:
        self.calls = 0
        self.frame_hits = 0
        self._last: dict[str, int] = {}

    def saw(self, path: str, frame: Any) -> None:
        self.calls += 1
        if self._last.get(path) == id(frame):
            self.frame_hits += 1
        self._last[path] = id(frame)


class TableCounters:
    """Files and bytes that versioned-table commits add, and how many of
    a merge's base files it carried over unread."""

    def __init__(self) -> None:
        self.files_written = 0
        self.bytes_written = 0
        self.merge_base_files = 0
        self.merge_carried_files = 0


def _manifest_files(table_path: str, version: int) -> list[str]:
    log = Path(table_path) / "_log" / f"{version:08d}.json"
    return json.loads(log.read_text())["files"]


def _wrap(owner: Any, attr: str, make: Callable[[Callable], Callable], undo: list) -> None:
    original = getattr(owner, attr)
    undo.append((owner, attr, original))
    setattr(owner, attr, functools.wraps(original)(make(original)))


@contextlib.contextmanager
def instrument(tracer: Tracer, io_counts: IoCounters, table_counts: TableCounters):
    """Wrap the engine's public entry points in spans for the duration
    of the block, and restore them afterwards."""
    from revtron_utils_spark import engine as engine_mod
    from revtron_utils_spark import io as io_mod
    from revtron_utils_spark import tables as tables_mod
    from revtron_utils_spark.streaming import incremental

    undo: list = []

    def read_parquet(orig):
        def wrapper(spark, path):
            with tracer.span("io.read_parquet"):
                frame = orig(spark, path)
            io_counts.saw(path, frame)
            return frame

        return wrapper

    def spanned(name):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        return make

    def versioned_commit(name, is_merge):
        def make(orig):
            def wrapper(self, *args, **kwargs):
                base = self.latest_version()
                with tracer.span(name):
                    version = orig(self, *args, **kwargs)
                t0 = time.perf_counter()
                before = set(_manifest_files(self.path, base))
                after = _manifest_files(self.path, version)
                new = [f for f in after if f not in before]
                table_counts.files_written += len(new)
                table_counts.bytes_written += sum(
                    os.path.getsize(Path(self.path) / f) for f in new
                )
                if is_merge:
                    table_counts.merge_base_files += len(before)
                    table_counts.merge_carried_files += len(after) - len(new)
                tracer.overhead_s += time.perf_counter() - t0
                return version

            return wrapper

        return make

    def sync_window(orig):
        def wrapper(self, *args, **kwargs):
            with tracer.span("incremental.sync_window") as sp:
                n = orig(self, *args, **kwargs)
            sp.attrs["rows"] = n
            return n

        return wrapper

    try:
        _wrap(io_mod, "read_parquet", read_parquet, undo)
        # engine.py binds read_parquet at import; wrap its reference too
        _wrap(engine_mod, "read_parquet", read_parquet, undo)
        for verb in ("get", "upsert", "update", "delete"):
            _wrap(engine_mod.Engine, verb, spanned(f"engine.{verb}"), undo)
        _wrap(engine_mod.Engine, "vacuum_table", spanned("vacuum"), undo)
        _wrap(tables_mod.VersionedTable, "merge", versioned_commit("tables.merge", True), undo)
        _wrap(
            tables_mod.VersionedTable, "overwrite",
            versioned_commit("tables.overwrite", False), undo,
        )
        _wrap(incremental.IncrementalSyncer, "sync_window", sync_window, undo)
        yield
    finally:
        for owner, attr, original in reversed(undo):
            setattr(owner, attr, original)


# -------------------------------------------------------------- event log


def _group_phase(props: dict) -> tuple[str, str] | None:
    group = props.get("spark.jobGroup.id") or ""
    op, _, phase = group.rpartition(":")
    return (op, phase) if op and phase else None


def parse_event_log(path: Path, passes: set[str]) -> dict[str, Any]:
    """Totals per phase (``build``/``exec``/``write``) over the jobs whose
    description names one of ``passes``, plus the per-op-execution
    straggler ratios of the exec phase."""
    job_key: dict[int, tuple[str, str, str]] = {}
    stage_key: dict[int, tuple[str, str, str]] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_dur: dict[int, float] = {}
    stage_ntasks: dict[int, int] = {}
    totals: dict[str, dict[str, float]] = {}

    def tot(phase: str) -> dict[str, float]:
        return totals.setdefault(
            phase,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0,
                "single_task_stage_s": 0.0,
            },
        )

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                gp = _group_phase(props)
                desc = props.get("spark.job.description", "")
                if gp is None or desc not in passes:
                    continue
                key = (gp[0], gp[1], desc)
                job_key[ev["Job ID"]] = key
                tot(gp[1])["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key.setdefault(sid, key)
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev.get("Stage ID"))
                if key is None:
                    continue
                t = tot(key[1])
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                t["tasks"] += 1
                t["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                stage_tasks.setdefault(ev["Stage ID"], []).append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                )
            elif kind == "SparkListenerStageCompleted":
                st = ev["Stage Info"]
                sid = st["Stage ID"]
                key = stage_key.get(sid)
                if key is None:
                    continue
                dur = (st.get("Completion Time", 0) - st.get("Submission Time", 0)) / 1000.0
                stage_dur[sid] = dur
                stage_ntasks[sid] = st.get("Number of Tasks", 0)
                t = tot(key[1])
                t["stages"] += 1
                if st.get("Number of Tasks") == 1:
                    t["single_task_stage_s"] += dur

    # straggler ratio: in each op execution's longest exec stage, the
    # slowest task over the median task
    longest: dict[tuple[str, str, str], int] = {}
    for sid, dur in stage_dur.items():
        key = stage_key[sid]
        if key[1] != "exec" or not stage_tasks.get(sid):
            continue
        if key not in longest or dur > stage_dur[longest[key]]:
            longest[key] = sid
    ratios = []
    for sid in longest.values():
        tasks = stage_tasks[sid]
        med = statistics.median(tasks)
        if med > 0:
            ratios.append(max(tasks) / med)
    return {"phases": totals, "straggler_ratios": ratios}


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]
