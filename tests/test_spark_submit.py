"""The north rule's execution mode, executed for real: the validation
job shipped to spark-submit as ``--py-files schema_guru_spark.zip``
plus an entry script, run from a scratch cwd with the repo scrubbed
from PYTHONPATH — so the package is importable ONLY through the zip,
exactly as a multi-executor cluster submit would see it."""

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


def test_spark_submit_py_files_end_to_end(tmp_path):
    zpath = tmp_path / "schema_guru_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted((REPO / "schema_guru_spark").rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
        # the webui's static tree rides along like any package data
        for st in sorted((REPO / "schema_guru_spark").rglob("*")):
            if st.is_file() and st.suffix not in (".py", ".pyc"):
                zf.write(st, st.relative_to(REPO))
    entry = tmp_path / "job.py"
    shutil.copy(REPO / "schema_guru_spark" / "run_validation.py", entry)
    out_json = tmp_path / "report.json"

    env = dict(os.environ)
    # scrub any path that would let the driver import the package from
    # the repo instead of the shipped zip
    env["PYTHONPATH"] = ""
    env.pop("SPARK_GRAFT_CPUS", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [_spark_submit(), "--master", "local[4]",
         "--py-files", str(zpath), str(entry),
         "--synthesize", "20000", "--cpus", "4", "--buckets", "16",
         "--json-out", str(out_json)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=540)
    assert proc.returncode == 0, proc.stderr[-4000:]
    rep = json.loads(out_json.read_text())
    assert rep["rows"] == 20000
    assert rep["sha_bad"] == 0
    assert rep["pass_rate"] > 0.9
    assert rep["constraints"]["keys_unique"] is True
    assert rep["constraints"]["n_ri_orphans"] == 0


_SHIM_SCRIPT = """
import importlib.util, sys
from pyspark.sql import SparkSession

def load_shim():
    spec = importlib.util.spec_from_file_location("shim", sys.argv[1])
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

def session():
    return (SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false").getOrCreate())

if sys.argv[3] == "session-first":
    spark = session()
    shim = load_shim()
else:
    shim = load_shim()
    spark = session()
assert shim.entry(spark).collect()[0]["n_err"] == 0
assert shim.queries()["infer_by_event_type"](spark, sys.argv[2]).count() > 0
"""


@pytest.mark.parametrize("order", ["session-first", "import-first"])
def test_shim_runs_from_any_cwd(tmp_path, sf_dir, order):
    """The driver-contract shim loaded by file path from a foreign cwd,
    with no PYTHONPATH: Spark's Python workers (mapInPandas in entry()
    and in a registry query) must import the package as the driver
    does, whether the session or the shim comes first."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, "-c", _SHIM_SCRIPT,
         str(REPO / "__spark_entry__.py"), sf_dir, order],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
