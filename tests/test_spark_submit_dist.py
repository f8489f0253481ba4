"""End-to-end gate for the spark-submit --py-files packaging path.

The north rule ships the pipeline as ``spark-submit --py-files
dist/fakepilot_spark.zip jobs/crawl_job.py`` (BASELINE.json:6). The unit
suite imports the package from the repo checkout, so packaging bugs (a
module missing from the zip, an import that only resolves against the
checkout, a job script that secretly needs the repo on sys.path) are
invisible to it. This test builds the zip fresh into a temporary
directory, copies the job script to a directory OUTSIDE the repo (the
script prepends only its own parent tree to sys.path), and runs a real
spark-submit: every fakepilot_spark import must resolve from the
--py-files zip alone, exactly as on a cluster whose executors never see
the checkout.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def dist_zip(tmp_path_factory) -> Path:
    path = tmp_path_factory.mktemp("dist") / "fakepilot_spark.zip"
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "build_dist.py"), str(path)],
        capture_output=True, text=True, check=True, cwd=str(REPO),
    )
    assert path.exists(), out.stdout
    return path


def _entries(path: Path) -> dict:
    with zipfile.ZipFile(path) as zf:
        return {name: zf.read(name) for name in zf.namelist()}


def test_zip_contains_every_package_module(dist_zip):
    shipped = set(_entries(dist_zip))
    expected = {
        p.relative_to(REPO).as_posix()
        for p in (REPO / "fakepilot_spark").rglob("*.py")
    }
    assert expected, "package has no modules?"
    assert expected <= shipped, sorted(expected - shipped)


def test_spark_submit_py_files_runs_without_repo_on_path(dist_zip, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    # Copy the job script out of the repo: its sys.path bootstrap then
    # points at tmp_path, so fakepilot_spark can ONLY come from the zip.
    jobdir = tmp_path / "jobs"
    jobdir.mkdir()
    shutil.copy(REPO / "jobs" / "crawl_job.py", jobdir / "crawl_job.py")
    ckpt = tmp_path / "ckpt"
    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--py-files", str(dist_zip),
            str(jobdir / "crawl_job.py"),
            "--synthetic", "200", "--checkpoint", str(ckpt),
            "--epochs", "1", "--global-batch", "32",
        ],
        capture_output=True, text=True, timeout=540, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # The job prints the run summary as its last JSON line.
    summary = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and "total_fetched" in line:
            summary = json.loads(line)
    assert summary is not None, proc.stdout[-4000:]
    assert summary["total_fetched"] == 32
    assert summary["epochs"][0]["urls_missing"] == 0

    # Checkpoint layout: committed results, each row carrying the north
    # rule's per-partition lineage fields (fetch_ts, partition_id,
    # frontier_epoch).
    for sub in ("results", "manifests", "frontier"):
        assert (ckpt / sub).exists(), sub
    lineage = duckdb.sql(
        "SELECT partition_id, frontier_epoch, fetch_ts, count(*) AS urls_fetched "
        f"FROM '{ckpt}/results/epoch=0/*.parquet' "
        "GROUP BY partition_id, frontier_epoch, fetch_ts"
    ).df()
    assert int(lineage["urls_fetched"].sum()) == 32
    assert set(lineage["frontier_epoch"]) == {0}
    assert lineage["fetch_ts"].notna().all()
