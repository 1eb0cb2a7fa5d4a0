#!/usr/bin/env python
"""The repo's benchmark: one client in a closed loop, one process and
one thread, driving the engine through its public functions on
``local[SPARK_GRAFT_CPUS]`` (default: every core this process may use).

    python3 perfbench/run.py --workload etl_rw --seed 1 --seconds 22 --trace 0

Set-up writes the synthetic fixtures (``fixtures.py``), starts the
session, runs ``bench.py``'s four warm-ups, prepares the workload and
runs its untimed warm-up passes (``Workload.WARM_PASSES``: the JIT keeps
speeding a driver_heavy pass up for several passes). Then a fixed
number of timed passes run, ``round(seconds / Workload.PASS_S)``, and
at least as many as give ``op_tail_s`` ``MIN_OP_SAMPLES`` samples
(``timed_passes``), so both sides of a comparison do the same work. Every op's output is checked
outside the timed region (``workloads.py``). Runs are re-executed with
``PYTHONHASHSEED=0`` so every run builds the same plans.

The last stdout line is one JSON object. With ``--trace 0`` it holds
the end-to-end metrics:

* ``setup_s``: process start to the first timed op;
* ``pass_s``: wall time of one timed pass (the sum of its op
  latencies), median over the timed passes;
* ``op_gmean_s``, ``read_op_gmean_s``, ``write_op_gmean_s``: typical
  latency of the read and write ops, of the reads and of the writes:
  each op's median over the timed passes, then their geometric mean
  (``stats.op_gmean``). etl_rw's vacuum, a millisecond of file listing
  that would weigh as much as a merge, is left out;
* ``op_tail_s``: the highest percentile of all op latencies that has ten
  samples beyond it (``stats.tail``), p58 or above;
* ``peak_rss_mb``: peak resident memory of this process plus the JVM;
* ``stored_bytes_per_live_byte``: bytes under the warehouses over the
  bytes of the tables' latest versions, median over timed passes.

``failed`` counts ops that raised or failed their check, plus managed
tables whose final contents differ from their model. With ``--trace 1``
the object holds the per-layer metrics instead: self time of spans
recorded around the engine's public functions (``spans.py``) and
counts from the Spark event log, per timed pass; the span list goes to
``.perfbench_out/``. A run writes only under ``.perfbench_work/`` and
``.perfbench_out/`` in the repo root, and removes its work directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

WORKLOADS = ("etl_rw", "driver_heavy")
# timed op samples a run needs at least, so that op_tail_s, with
# stats.TAIL_BEYOND samples beyond it, is p58 or higher. Forty samples
# (p75) would make a driver_heavy run about a quarter longer.
MIN_OP_SAMPLES = 24


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def timed_passes(ops_per_pass: int, seconds: float, pass_s: float) -> int:
    """--seconds as a fixed pass count, at ``pass_s`` seconds a pass."""
    return max(math.ceil(MIN_OP_SAMPLES / ops_per_pass), round(seconds / pass_s))


def _prepare_env(work: Path) -> None:
    """Keep every temp file in the work dir, timestamps in UTC, and the
    repo importable from Spark's Python workers as well as the driver."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (str(HERE), str(REPO)):
        if p not in sys.path:
            sys.path.insert(0, p)


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def warm_up(spark, data_dir: Path) -> None:
    """bench.py's four warm-ups: JVM and session, the Arrow Python
    workers, the parquet source with the noop sink, the columnar cache."""
    from pyspark.sql.functions import col, pandas_udf

    from revtron_utils_spark.io import read_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @pandas_udf("double")
    def _warm(s):
        return s

    spark.range(256).repartition(64).select(_warm(col("id").cast("double"))).collect()
    read_table(spark, str(data_dir), "region").write.mode("overwrite").format("noop").save()
    cached = spark.range(100_000).selectExpr("cast(id as string) s", "id").persist()
    cached.count()
    cached.unpersist()


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM pyspark launched and wait for
    it: ``SparkSession.stop`` leaves that process running until the
    interpreter exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def _steal_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks summed over CPUs, from /proc/stat."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def _vmhwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """Runs passes of a workload's ops and keeps what they measured."""

    def __init__(self, spark, workload, tracer):
        from revtron_utils_spark.operators.dedup import release_caches

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.tracer = tracer
        self.release_caches = release_caches
        self._gc_beans = list(self.sc._jvm.java.lang.management.ManagementFactory
                              .getGarbageCollectorMXBeans())
        self.samples: list[dict] = []  # one per timed op
        self.ops_per_pass = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_s: list[float] = []
        self.storage: list[tuple[int, int]] = []

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def run_pass(self, pass_no: int, timed: bool) -> None:
        tr = self.tracer
        tr.context = {"pass": pass_no}
        ops = [op for unit in self.workload.units(pass_no) for op in unit]
        ops += self.workload.tail(pass_no)
        total = sum(self.run_op(op, pass_no, timed) for op in ops)
        self.ops_per_pass = len(ops)
        tr.context = {}
        if timed:
            self.pass_s.append(total)
            self.storage.append(self.workload.storage())

    def _group(self, name: str, label: str) -> None:
        """Tag the Spark jobs that follow (traced runs only)."""
        if self.tracer.enabled:
            t0 = time.perf_counter()
            self.sc.setJobGroup(name, label)
            self.tracer.overhead_s += time.perf_counter() - t0

    def run_op(self, op, pass_no: int, timed: bool) -> float:
        tr = self.tracer
        label = f"pass{pass_no}"
        load = os.getloadavg()[0]
        gc0 = self.gc_ms()
        obj = result = error = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=op.name, kind=op.kind):
                if op.build is not None:
                    self._group(f"{op.name}:build", label)
                    with tr.span("build"):
                        obj = op.build()
                self._group(f"{op.name}:{op.phase}", label)
                with tr.span(op.phase):
                    result = op.execute(obj)
        except Exception as exc:  # one failing op must not end the run
            error = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"
        elapsed = time.perf_counter() - t0
        sample = {"op": op.name, "kind": op.kind, "s": elapsed, "pass": pass_no,
                  "loadavg": load, "gc_s": (self.gc_ms() - gc0) / 1000.0}
        self._group("bench:untimed", label)
        if tr.enabled and error is None and hasattr(obj, "_jdf"):
            t1 = time.perf_counter()
            sample["plan"] = _phases(obj)
            tr.overhead_s += time.perf_counter() - t1
        sample["persisted"] = self.release_caches()
        self.spark.catalog.clearCache()
        if error is None:
            try:
                error = op.check(result)
            except Exception as exc:  # a broken check is a failed op
                error = f"check raised {type(exc).__name__}: {exc}"
        if timed:
            self.attempted += 1
            self.samples.append(sample)
            if error is not None:
                self.failures.append(f"pass {pass_no} {op.name}: {error}")
        elif error is not None:
            print(f"untimed pass {pass_no} {op.name}: {error}", file=sys.stderr)
        return elapsed


def _phases(df) -> dict[str, float]:
    """Catalyst phase times from the QueryExecution that ran: the
    DataFrame's own, since ``collect`` executes it (a ``noop`` write
    would plan a fresh one and leave only ``analysis`` here)."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    return {
        k: phases.apply(k).durationMs() / 1000.0
        for k in ("analysis", "optimization", "planning")
        if phases.contains(k)
    }


def end_to_end(runner: Runner, setup_s: float, peak_kb: int) -> dict[str, dict]:
    from stats import median, op_gmean, tail

    samples = runner.samples
    tail_s, _ = tail([s["s"] for s in samples])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": median(runner.pass_s), "unit": "s"},
        "op_gmean_s": {"value": op_gmean([s for s in samples if s["kind"] != "maintenance"]),
                       "unit": "s"},
        "op_tail_s": {"value": tail_s, "unit": "s"},
        "read_op_gmean_s": {"value": op_gmean([s for s in samples if s["kind"] == "read"]),
                            "unit": "s"},
        "write_op_gmean_s": {"value": op_gmean([s for s in samples if s["kind"] == "write"]),
                             "unit": "s"},
        "peak_rss_mb": {"value": peak_kb / 1024.0, "unit": "MB"},
        "stored_bytes_per_live_byte": {
            "value": median([s / l for s, l in runner.storage]), "unit": "ratio",
        },
    }


def canary_s(spark, data_dir: Path) -> float:
    """Build and collect the nine canary shapes once; seconds in total."""
    import __spark_entry__ as entry
    from workloads import CANARY

    queries = entry.queries()
    t0 = time.perf_counter()
    for n in CANARY:
        queries[n](spark, str(data_dir)).collect()
    return time.perf_counter() - t0


def per_layer(runner: Runner, tracer, io_counts, table_counts, footer, log: dict,
              host: dict[str, float], marks: dict[str, float]) -> dict[str, dict]:
    from stats import median

    n_pass = len(runner.pass_s)
    timed = {s["pass"] for s in runner.samples}
    selfs = tracer.self_times()
    self_s: dict[str, float] = {}
    op_s = op_self = 0.0
    for sp, st in zip(tracer.spans, selfs):
        if sp.attrs.get("pass") not in timed:
            continue
        self_s[sp.name] = self_s.get(sp.name, 0.0) + st
        if sp.name == "op":
            op_s += sp.end - sp.start
            op_self += st
    rows_synced = sum(
        sp.attrs.get("rows", 0) for sp in tracer.spans
        if sp.name == "incremental.sync_window" and sp.attrs.get("pass") in timed
    )
    phases = log["phases"]

    def ph(phase: str, key: str) -> float:
        return phases.get(phase, {}).get(key, 0) / n_pass

    def per_pass(name: str) -> float:
        return self_s.get(name, 0.0) / n_pass

    plan = {k: sum(s.get("plan", {}).get(k, 0.0) for s in runner.samples) / n_pass
            for k in ("analysis", "optimization", "planning")}
    hits, misses = footer
    m = {
        "session.start_s": (marks["session"] - marks["fixtures"], "s"),
        "session.warm_up_s": (marks["warm_up"] - marks["session"], "s"),
        "build.s": (per_pass("build"), "s"),
        "build.jobs": (ph("build", "jobs"), "count"),
        "build.tasks": (ph("build", "tasks"), "count"),
        "plan.analysis_s": (plan["analysis"], "s"),
        "plan.optimization_s": (plan["optimization"], "s"),
        "plan.planning_s": (plan["planning"], "s"),
        "exec.s": (per_pass("exec"), "s"),
        "exec.jobs": (ph("exec", "jobs"), "count"),
        "exec.stages": (ph("exec", "stages"), "count"),
        "exec.tasks": (ph("exec", "tasks"), "count"),
        "exec.shuffle_read_bytes": (ph("exec", "shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (ph("exec", "shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (ph("exec", "spill_bytes"), "bytes"),
        "exec.executor_run_s": (ph("exec", "executor_run_s"), "s"),
        "exec.single_task_stage_s": (ph("exec", "single_task_stage_s"), "s"),
        "exec.straggler_ratio": (
            median(log["straggler_ratios"]) if log["straggler_ratios"] else 1.0, "ratio"),
        "jvm.gc_s": (sum(s["gc_s"] for s in runner.samples) / len(runner.samples), "s"),
        "io.read_parquet.calls": (io_counts.calls / n_pass, "count"),
        "io.read_parquet.s": (per_pass("io.read_parquet"), "s"),
        "io.frame_cache_hit_ratio": (
            io_counts.frame_hits / io_counts.calls if io_counts.calls else 0.0, "ratio"),
        "io.footer_cache_hit_ratio": (
            hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "engine.get.s": (per_pass("engine.get"), "s"),
        "engine.upsert.s": (per_pass("engine.upsert"), "s"),
        "engine.update.s": (per_pass("engine.update"), "s"),
        "engine.delete.s": (per_pass("engine.delete"), "s"),
        "engine.mutation_jobs": (ph("write", "jobs"), "count"),
        "tables.merge.s": (per_pass("tables.merge"), "s"),
        "tables.files_written": (table_counts.files_written / n_pass, "count"),
        "tables.bytes_written": (table_counts.bytes_written / n_pass, "bytes"),
        "tables.merge_files_pruned_ratio": (
            table_counts.merge_carried_files / table_counts.merge_base_files
            if table_counts.merge_base_files else 0.0, "ratio"),
        "tables.live_bytes": (runner.storage[-1][1], "bytes"),
        "vacuum.s": (per_pass("vacuum"), "s"),
        "incremental.sync_window.s": (per_pass("incremental.sync_window"), "s"),
        "incremental.rows_synced": (rows_synced / n_pass, "count"),
        "dedup.persisted_frames": (
            sum(s["persisted"] for s in runner.samples) / n_pass, "count"),
        "host.canary_s": (host["canary_s"], "s"),
        "host.steal_ratio": (host["steal_ratio"], "ratio"),
        "host.loadavg": (sum(s["loadavg"] for s in runner.samples) / len(runner.samples),
                         "load"),
        "trace.overhead_ratio": (tracer.overhead_s / op_s, "ratio"),
        "trace.unattributed_ratio": (op_self / op_s, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a stopped run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (REPO / "revtron_utils_spark").is_dir() or not (REPO / "__spark_entry__.py").is_file():
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    work = REPO / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    spark = None
    try:
        import fixtures
        import spans as tracing
        import workloads
        from revtron_utils_spark import io as io_mod
        from revtron_utils_spark.session import get_spark

        data_dir = work / "data"
        marks = {"start": T_START}
        fixtures.write(data_dir)
        marks["fixtures"] = time.perf_counter()
        trace = bool(args.trace)
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=_spark_conf(work, trace))
        marks["session"] = time.perf_counter()
        warm_up(spark, data_dir)
        marks["warm_up"] = time.perf_counter()
        tracer = tracing.Tracer() if trace else tracing.NullTracer()
        io_counts, table_counts = tracing.IoCounters(), tracing.TableCounters()
        wl = workloads.build(args.workload, spark, data_dir, work, args.seed)
        wl.prepare()
        marks["prepare"] = time.perf_counter()
        runner = Runner(spark, wl, tracer)
        warm = wl.WARM_PASSES
        for p in range(warm):
            runner.run_pass(p, timed=False)
        marks["untimed_passes"] = time.perf_counter()
        setup_s = time.perf_counter() - T_START

        canary = canary_s(spark, data_dir) if trace else 0.0
        footer0 = io_mod._nanos_columns.cache_info()
        steal0 = _steal_ticks()
        with (tracing.instrument(tracer, io_counts, table_counts) if trace
              else contextlib.nullcontext()):
            timed = range(warm, warm + timed_passes(runner.ops_per_pass, args.seconds, wl.PASS_S))
            for p in timed:
                runner.run_pass(p, timed=True)
        footer1 = io_mod._nanos_columns.cache_info()
        steal1 = _steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        for p, op, problem in wl.verify():
            if 0 <= p < warm:
                print(f"untimed pass {p} {op}: {problem}", file=sys.stderr)
            else:
                runner.failures.append(f"pass {p} {op}: {problem}")
        jvm_pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getRuntimeMXBean().getPid()
        peak_kb = _vmhwm_kb("self") + _vmhwm_kb(jvm_pid)
        stop_spark(spark)
        spark = None
        if trace:
            log = tracing.parse_event_log(
                tracing.event_log_file(work / "eventlog"),
                {f"pass{p}" for p in timed},
            )
            footer = (footer1.hits - footer0.hits, footer1.misses - footer0.misses)
            metrics = per_layer(runner, tracer, io_counts, table_counts, footer, log,
                                {"canary_s": canary, "steal_ratio": steal}, marks)
            tracer.dump(REPO / ".perfbench_out" / f"trace-{args.workload}-s{args.seed}.json")
        else:
            metrics = end_to_end(runner, setup_s, peak_kb)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    from stats import tail

    for f in runner.failures:
        print(f"FAILED {f}", file=sys.stderr)
    lat = sorted(s["s"] for s in runner.samples)
    print(f"{args.workload} seed={args.seed}: timed passes "
          + " ".join(f"{v:.3f}s" for v in runner.pass_s) + ", "
          f"{len(lat)} op samples, op_tail_s = p{tail(lat)[1]:.0f}; set-up "
          + ", ".join(f"{b} {marks[b] - marks[a]:.2f}s" for a, b in zip(marks, list(marks)[1:]))
          + f"; CPU steal {steal:.1%} while timed", file=sys.stderr)
    by_op: dict[str, list[float]] = {}
    for s in runner.samples:
        by_op.setdefault(s["op"], []).append(s["s"])
    print("  op medians: " + ", ".join(
        f"{n} {statistics.median(v):.2f}" for n, v in sorted(by_op.items())), file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash order in the driver and in Spark's Python
        # workers, so every run builds the same plans
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
