"""spark-submit --py-files packaging smoke (north rule: the engine runs
via ``spark-submit --py-files`` on a cluster; BASELINE.json north_rule).

The CLI scripts are copied OUTSIDE the repo before submission, so
``mircv_project_spark`` can only resolve from the packaged zip — this
proves ``scripts/package.sh`` ships everything the driver and the
Python workers need, not that the repo checkout happened to be on
sys.path.  Build (indexer.jar equivalent) then query
(query_processor.jar equivalent) run as real spark-submit subprocesses.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)


def _submit(args: list[str], cwd: str, zip_path: str) -> subprocess.CompletedProcess:
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
    ] + args
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=420)


def test_spark_submit_py_files_build_then_query(tmp_path):
    # Package into tmp_path so the run leaves the tracked dist/ zip alone.
    zip_path = str(tmp_path / "mircv_project_spark.zip")
    pkg = subprocess.run(
        ["sh", f"{REPO}/scripts/package.sh", zip_path],
        capture_output=True, text=True, timeout=120,
    )
    assert pkg.returncode == 0, pkg.stderr
    assert pkg.stdout.strip() == zip_path

    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    for s in ("build_index.py", "query.py"):
        shutil.copy(f"{REPO}/scripts/{s}", bin_dir / s)
    idx = str(tmp_path / "idx")

    r = _submit(
        [str(bin_dir / "build_index.py"),
         "--input", "generate:2000", "--output", idx],
        cwd=str(tmp_path), zip_path=zip_path,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    stats = None
    for line in reversed(r.stdout.strip().splitlines()):
        try:
            stats = json.loads(line)
            break
        except json.JSONDecodeError:
            continue
    assert stats is not None, r.stdout[-2000:]
    assert stats["n_docs"] == 2000
    assert stats["n_terms"] > 0

    r2 = _submit(
        [str(bin_dir / "query.py"),
         "--index", idx, "--query", "spark window join", "-k", "5"],
        cwd=str(tmp_path), zip_path=zip_path,
    )
    assert r2.returncode == 0, r2.stderr[-4000:]
    trec = [ln.split() for ln in r2.stdout.splitlines() if " Q0 " in ln]
    assert len(trec) == 5
    assert [int(t[3]) for t in trec] == [1, 2, 3, 4, 5]
    assert all(t[5] == "BM25" for t in trec)
