"""north_rule deployment path: ``run_crawl.py`` must run a resumable crawl
from the command line. Two launchers: ``spark-submit --py-files <pkg.zip>``
with ONLY the zipped package on the python path (the multi-executor-cluster
ship shape; reference analog: ``python scan.py <site>``, scan.py:77-124),
and plain ``python run_crawl.py`` from the repo checkout."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import zipfile

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
CRAWL_ARGS = ["--synth", "150"]


def _assert_committed_rounds(wd: str, n: int) -> None:
    """``n`` committed rounds with contiguous global ranks from 0, readable
    without Spark."""
    manifests = sorted(glob.glob(os.path.join(wd, "rounds", "*", "manifest.json")))
    assert len(manifests) == n, manifests
    for m in manifests:
        assert json.load(open(m)).get("round") is not None
    orders = glob.glob(os.path.join(wd, "rounds", "*", "crawl_order", "*.parquet"))
    assert orders
    ranks = [
        row[0]
        for row in duckdb.sql(
            f"SELECT rank FROM read_parquet({orders!r}) ORDER BY rank"
        ).fetchall()
    ]
    assert ranks == list(range(len(ranks))) and len(ranks) > 0


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_crawl(tmp_path):
    zip_path = str(tmp_path / "colymer_acquirers_spark.zip")
    pkg = os.path.join(REPO, "colymer_acquirers_spark")
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    # neutral stage dir: run_crawl.py's sys.path points at the stage, so
    # the package resolves ONLY through --py-files
    stage = tmp_path / "stage"
    stage.mkdir()
    shutil.copy(os.path.join(REPO, "run_crawl.py"), stage / "run_crawl.py")
    wd = str(tmp_path / "wd")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [
            SPARK_SUBMIT, "--master", "local[2]", "--py-files", zip_path,
            str(stage / "run_crawl.py"), *CRAWL_ARGS,
            "--workdir", wd, "--rounds", "2",
        ],
        cwd=str(stage), env=env, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, (r.stdout[-1500:], r.stderr[-1500:])
    _assert_committed_rounds(wd, 2)


def test_python_run_crawl_cli_resumes(tmp_path):
    """``python run_crawl.py`` from the repo: a second call on the same
    workdir resumes after the committed round (every run resumes; a fresh
    crawl takes a new workdir)."""
    wd = str(tmp_path / "wd")

    def cli(rounds: int) -> dict:
        r = subprocess.run(
            [
                sys.executable, os.path.join(REPO, "run_crawl.py"), *CRAWL_ARGS,
                "--master", "local[2]", "--workdir", wd,
                "--rounds", str(rounds),
            ],
            cwd=str(tmp_path), capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, (r.stdout[-1500:], r.stderr[-1500:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    assert cli(1)["rounds"] == [0]
    _assert_committed_rounds(wd, 1)
    assert cli(2)["rounds"] == [0, 1]
    _assert_committed_rounds(wd, 2)
