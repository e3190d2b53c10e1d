"""North-rule launch contract: the pipeline runs via real
``spark-submit --py-files`` (packaged zip, fresh JVM), commits snapshots,
and resumes from them on a second run."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    try:
        import pyspark
        cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        return cand if os.path.exists(cand) else None
    except ImportError:
        return None


@pytest.mark.slow
def test_spark_submit_pyfiles_roundtrip(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not available")

    zpath = tmp_path / "kgm.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "kgraphmemory_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    workdir = str(tmp_path / "run")
    cmd = [
        submit, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", str(zpath),
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", "unused", "--synthetic-pages", "300",
        "--workdir", workdir,
        "--graph-tables-out", str(tmp_path / "graph"), "--graph-buckets", "8",
    ]
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable,
           "PYTHONPATH": os.pathsep.join(
               p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
               if p and p != REPO)}
    # run from a neutral cwd, with the checkout off PYTHONPATH
    # (conftest puts it there), so only --py-files provides the package
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        cwd=str(tmp_path), env=env)
    assert r1.returncode == 0, r1.stderr[-4000:]
    m1 = json.loads([l for l in r1.stdout.splitlines()
                     if l.startswith("{")][-1])
    assert m1["counts"]["docs"] == 300
    assert m1["counts"]["relations"] > 0
    assert m1["stages_resumed"] == []
    # bucketed graph-table sink written by the job (north-rule materialize)
    assert m1["counts"]["graph_tables"]["entities"] > 0
    import glob
    assert glob.glob(str(tmp_path / "graph" / "entities" / "id_bucket=*"))

    # second run, same workdir → every stage resumes from its snapshot
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                        cwd=str(tmp_path), env=env)
    assert r2.returncode == 0, r2.stderr[-4000:]
    m2 = json.loads([l for l in r2.stdout.splitlines()
                     if l.startswith("{")][-1])
    assert m2["counts"] == m1["counts"]
    assert "relations" in m2["stages_resumed"]
