"""The benchmark as a command: its failure mode without the engine, the
workers' import path, and the counts that must repeat across processes."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
REPO = BENCH.parent


def _env():
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return env


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_rw", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())


WORKER_IMPORT = """
import sys
from pathlib import Path
sys.path.insert(0, sys.argv[1])
import run
run._prepare_env(Path(sys.argv[2]))
from pyspark.sql.functions import udf
from revtron_utils_spark.session import get_spark
spark = get_spark(app_name="import-path", master="local[1]",
                  extra_conf=run._spark_conf(Path(sys.argv[2]), False))

@udf("string")
def module_name(_):
    import revtron_utils_spark
    return revtron_utils_spark.__name__

print(spark.range(1).select(module_name("id")).first()[0])
spark.stop()
"""


def test_python_workers_import_the_repo_from_another_directory(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", WORKER_IMPORT, str(BENCH), str(tmp_path / "work")],
        cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "revtron_utils_spark"


def _traced(workload, cwd):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=cwd, env=_env(), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["etl_rw", "driver_heavy"])
def test_build_jobs_and_exec_tasks_repeat_across_processes(tmp_path, workload):
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    first, second = _traced(workload, tmp_path), _traced(workload, tmp_path)
    for res in (first, second):
        assert res["correct"] and res["failed"] == 0
        assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for key in ("build.jobs", "exec.tasks"):
        assert first["metrics"][key]["value"] == second["metrics"][key]["value"], key
        assert first["metrics"][key]["value"] > 0, key
