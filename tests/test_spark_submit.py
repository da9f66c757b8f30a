"""North-rule packaging clause: the job ships and runs as
`spark-submit --py-files dist/panako_spark.zip jobs/dedup_job.py`.

This is a REAL spark-submit integration test, not an import check: the
job script is copied to a neutral temp directory before submission, so
its repo-root sys.path fallback points at an empty directory and the
`panako_spark` package can only resolve from the --py-files zip — the
exact import path a multi-executor cluster exercises.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def test_checked_in_pyfiles_zip_is_fresh(tmp_path):
    """dist/panako_spark.zip is the artifact the north rule ships; the
    build is deterministic (sorted members, fixed timestamps), so a
    byte-compare against a fresh build catches a stale checked-in zip."""
    sys.path.insert(0, REPO)
    from tools.make_pyfiles import OUT, build

    fresh = build(str(tmp_path / "fresh.zip"))
    with open(OUT, "rb") as a, open(fresh, "rb") as b:
        assert a.read() == b.read(), (
            "dist/panako_spark.zip is stale vs panako_spark/ sources — "
            "rebuild with `python tools/make_pyfiles.py`")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    sys.path.insert(0, REPO)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "panako_spark.zip"))
    # neutral location: nothing importable next to the script
    job = tmp_path / "jobs" / "dedup_job.py"
    job.parent.mkdir()
    shutil.copy(os.path.join(REPO, "jobs", "dedup_job.py"), job)
    store = tmp_path / "store"
    out_dir = tmp_path / "clusters"

    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--driver-memory", "4g",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path, str(job),
         "--synthetic", "60", "--store", str(store),
         "--output", str(out_dir), "--set", "min_unfiltered_hits=8"],
        capture_output=True, text=True, timeout=900, env=env,
        cwd=str(tmp_path))
    assert proc.returncode == 0, (
        f"spark-submit failed\nstdout: {proc.stdout[-2000:]}\n"
        f"stderr: {proc.stderr[-4000:]}")
    summary = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            summary = json.loads(line)
    assert summary is not None, proc.stdout[-2000:]
    # dup_fraction=0.3 at 60 base images guarantees real dup clusters
    assert summary["cluster_rows"] > 0
    assert summary["dup_pairs"] > 0
    # the job runs under the benchmarked session's execution settings,
    # and the run leaves them as it found them
    from panako_spark.session import EXECUTION_CONF

    assert summary["session"] == EXECUTION_CONF
    # the job also wrote the clusters parquet where asked
    assert any(f.endswith(".parquet") for f in os.listdir(out_dir))
