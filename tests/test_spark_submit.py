"""End-to-end `spark-submit --py-files` deployment check (north rule:
"ships as spark-submit --py-files wheels", BASELINE.json:6).

The job file is COPIED to a temp dir before launch so its
`sys.path.insert(repo_root)` line points at an empty parent — every
`docling_spark` import must resolve from the shipped zip, exactly as
on a cluster node that has never seen the repo checkout.  The zip is
rebuilt from the working tree first so the test exercises current
code, not a stale artifact.
"""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"

SPARK_SUBMIT = shutil.which("spark-submit") or str(
    Path(sys.executable).parent.parent
    / "lib" / "python%d.%d" % sys.version_info[:2]
    / "site-packages" / "pyspark" / "bin" / "spark-submit")


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="testdata absent")
@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit binary absent")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    # rebuild the bundle from the working tree
    subprocess.run([sys.executable, str(ROOT / "tools" / "make_pyfiles.py")],
                   check=True, capture_output=True)
    zip_path = ROOT / "dist" / "docling_spark.zip"
    assert zip_path.exists()

    # stage the job file OUTSIDE the repo: imports must come from the zip
    staged = tmp_path / "jobs" / "extract.py"
    staged.parent.mkdir()
    shutil.copy(ROOT / "jobs" / "extract.py", staged)

    out_dir = tmp_path / "lake"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # nothing may leak the repo onto the path
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", str(zip_path),
         str(staged),
         "--input", f"synth:{SF_DIR}",
         "--output", str(out_dir),
         "--partitions", "8"],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-4000:]

    summary = json.loads(
        [ln for ln in proc.stdout.strip().splitlines()
         if ln.startswith("{")][-1])
    assert summary["status"] == "committed"
    assert summary["docs"] and summary["docs"] > 0
    assert summary["spans"] and summary["spans"] > 0
    assert (summary["errors"] or 0) == 0
    # input docs per extract_routed branch, from the one route count
    n_input = pq.read_table(f"{SF_DIR}/documents.parquet",
                            columns=["doc_id"]).num_rows
    assert set(summary["routes"]) == {"doc", "paged", "raw", "image"}
    assert sum(summary["routes"].values()) == n_input == summary["docs"]
    assert summary["routes"]["doc"] == n_input

    # the committed snapshot is a readable table with lineage metrics
    manifest = out_dir / "_snapshots.json"
    assert manifest.exists()
    entries = json.loads(manifest.read_text())
    assert len(entries["snapshots"]) == 1

    # resume semantics survive the deployment boundary: a second
    # identical submit is a no-op (everything already committed)
    proc2 = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path),
         str(staged),
         "--input", f"synth:{SF_DIR}",
         "--output", str(out_dir),
         "--partitions", "8"],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420)
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    summary2 = json.loads(
        [ln for ln in proc2.stdout.strip().splitlines()
         if ln.startswith("{")][-1])
    assert summary2["status"] == "noop"
    assert summary2["routes"] == summary["routes"]
    # the noop run committed nothing and left no data directory behind
    assert len(json.loads(manifest.read_text())["snapshots"]) == 1
    assert len(list(out_dir.glob("snap-*"))) == 1


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="testdata absent")
@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit binary absent")
def test_extract_job_export_and_enrich(tmp_path):
    """--export and --enrich render from the committed snapshot: one
    export row per committed doc, and the enrichment table is
    written."""
    out_dir = tmp_path / "lake"
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         str(ROOT / "jobs" / "extract.py"),
         "--input", f"synth:{SF_DIR}",
         "--output", str(out_dir),
         "--partitions", "4",
         "--export", "markdown", "--enrich"],
        cwd=str(tmp_path), env={**os.environ, "PYTHONPATH": str(ROOT)},
        capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(
        [ln for ln in proc.stdout.strip().splitlines()
         if ln.startswith("{")][-1])
    assert summary["status"] == "committed"
    snaps = json.loads((out_dir / "_snapshots.json").read_text())["snapshots"]
    assert len(snaps) == 1
    committed = pq.read_table(snaps[0]["data"], columns=["doc_id"])
    # one directory per snapshot, so a resumed run keeps earlier ones
    snap_dir = f"snap-{summary['snapshot']}"
    assert summary["side_outputs"] == {
        "export": str(out_dir / "exports" / "markdown" / snap_dir),
        "enrichment": str(out_dir / "enrichment" / snap_dir)}
    exported = pq.read_table(summary["side_outputs"]["export"])
    assert exported.num_rows == committed.num_rows == summary["docs"] > 0
    assert (sorted(exported.column("doc_id").to_pylist())
            == sorted(committed.column("doc_id").to_pylist()))
    assert set(exported.column_names) == {"doc_id", "markdown"}
    assert os.path.isdir(summary["side_outputs"]["enrichment"])
