"""The north rule's launch mode, end-to-end: spark-submit --py-files
against a multi-executor cluster (local-cluster stand-in — separate
executor JVMs, the engine shipped as a zip, nothing imported from the
repo working tree on the executors)."""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
# local-cluster workers keep each application's executor dirs here
WORK_DIRS = os.path.join(_find_spark_home(), "work", "app-*")


@pytest.fixture
def own_work_dirs_removed():
    """Remove the executor work dirs that appear during the test, and
    only those."""
    before = set(glob.glob(WORK_DIRS))
    yield
    for d in set(glob.glob(WORK_DIRS)) - before:
        shutil.rmtree(d, ignore_errors=True)


def test_spark_submit_py_files_end_to_end(tmp_path_factory, fixture_cfg,
                                          own_work_dirs_removed):
    root = tmp_path_factory.mktemp("submit")
    # fixtures generated in-process (cheap); job runs in a fresh JVM tree
    from watermark_detector_spark.fixtures import FixtureConfig, generate

    fx = generate(FixtureConfig(n_docs=400), str(root / "fx"))
    zip_out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "build_pyfiles.py")],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert zip_out.returncode == 0, zip_out.stderr[-2000:]
    zip_path = os.path.join(REPO, "dist", "watermark_detector_spark.zip")
    assert os.path.exists(zip_path)

    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local-cluster[2,4,4096]",
         "--conf", "spark.driver.memory=4g",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "flagship_job.py"),
         "--pages", fx["pages_stream"],
         "--signatures", fx["signatures"],
         "--sink", str(root / "sink"),
         "--checkpoint", str(root / "ckpt"),
         "--metrics", str(root / "metrics.jsonl")],
        capture_output=True, text=True, cwd=str(root), timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    manifests = sorted(os.listdir(root / "sink" / "_manifest"))
    assert manifests and all(m.endswith(".json") or m.endswith(".tmp") is False
                             for m in manifests)
    committed = [json.load(open(root / "sink" / "_manifest" / m))
                 for m in manifests if m.endswith(".json")]
    assert sum(m["n_rows"] for m in committed) > 0
    # metrics listener wrote per-batch progress
    lines = open(root / "metrics.jsonl").read().strip().splitlines()
    assert len(lines) >= 1 and "numInputRows" in lines[0]

    # maintenance in the same launch mode: compact the sink via
    # spark-submit and verify the ledger + row totals are unchanged
    n_committed = len(committed)
    total_rows = sum(m["n_rows"] for m in committed)
    res2 = subprocess.run(
        [SPARK_SUBMIT, "--master", "local-cluster[2,4,4096]",
         "--conf", "spark.driver.memory=4g",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "compact.py"),
         "--sink", str(root / "sink"),
         "--retention-s", "0"],
        capture_output=True, text=True, cwd=str(root), timeout=420,
    )
    assert res2.returncode == 0, res2.stderr[-3000:]
    out = json.loads([ln for ln in res2.stdout.splitlines()
                      if ln.startswith("{")][-1])
    if n_committed >= 2:  # a fold happened: ledger intact, rows preserved
        assert out["compacted_ranges"], res2.stdout[-2000:]
        assert out["committed_batches"] == n_committed
        # one streaming query commits contiguous ids, so the fold covers
        # EVERY batch: strict equality, or the rewrite lost rows
        assert sum(r["n_rows"] for r in out["compacted_ranges"]) == total_rows
        remaining = [m for m in os.listdir(root / "sink" / "_manifest")
                     if m.endswith(".json")]
        assert any(m.startswith("compact_") for m in remaining)

    # custom Python DataSource in the same launch mode: the warcish
    # class must round-trip through the py-files zip to executor-side
    # python workers (write tasks) and back through the reader with a
    # pushed filter — nothing imported from the driver working tree
    res3 = subprocess.run(
        [SPARK_SUBMIT, "--master", "local-cluster[2,4,4096]",
         "--conf", "spark.driver.memory=4g",
         "--conf", "spark.sql.python.filterPushdown.enabled=true",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "warcish_roundtrip.py"),
         "--out", str(root / "warcish"),
         "--n", "600"],
        capture_output=True, text=True, cwd=str(root), timeout=420,
    )
    assert res3.returncode == 0, res3.stderr[-3000:]
    out3 = json.loads([ln for ln in res3.stdout.splitlines()
                       if ln.startswith("{")][-1])
    assert out3 == {"written": 600, "read": 600, "read_en": 200}
