"""End-to-end test of jobs/curate.py — the composed curation pipeline
with snapshot commit and resume."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def test_curate_job_end_to_end_and_resume(spark, tmp_path, capsys):
    from jobs.curate import main

    out_root = str(tmp_path / "lake")
    argv = ["--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out_root,
            "--partitions", "4",
            "--lang", "en",
            "--source-gate",
            "--lm-gate-nll-e6", "4000000",
            "--strip-boilerplate",
            "--strip-substrings", "8",
            "--split",
            "--pack", "64"]
    assert main(argv, _spark=spark) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "committed"
    assert "source_reputation" in summary["side_outputs"]
    st = summary["stages"]
    assert st["input"] == 500
    assert (0 < st["after_curate"] <= st["after_lm_gate"]
            <= st["after_source_gate"] <= st["input"])
    assert st["output"] == st["after_curate"]
    assert "packing" in summary["side_outputs"]

    from docling_spark.lake import SnapshotTable
    table = SnapshotTable(out_root)
    snap = table.read(spark)
    assert snap.count() == st["output"]
    assert set(snap.columns) >= {"doc_id", "text", "n_tokens", "split"}
    assert {r["split"] for r in snap.select("split").distinct().collect()} \
        <= {"train", "val", "test"}
    packing = spark.read.parquet(summary["side_outputs"]["packing"])
    assert packing.count() == st["output"]

    # second run: everything already committed -> noop, snapshot count
    # unchanged
    assert main(argv, _spark=spark) == 0
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["status"] == "noop"
    assert table.read(spark).count() == st["output"]


# Runs jobs/curate.py's main(argv) with SnapshotTable.write_snapshot
# wrapped to kill the process right after the real commit: the WORST
# window — the snapshot is committed but the decision set is not yet
# recorded, so the next run must re-decide the dropped docs without
# duplicating any committed keep.
_CRASH_AFTER_COMMIT = """
import os, sys
sys.path.insert(0, sys.argv[1])
from docling_spark.lake import SnapshotTable
from jobs.curate import main

commit = SnapshotTable.write_snapshot

def commit_then_die(self, *args, **kwargs):
    commit(self, *args, **kwargs)
    os._exit(137)

SnapshotTable.write_snapshot = commit_then_die
raise SystemExit(main(sys.argv[2:]))
"""


def _run_curate_subprocess(out_root, crash_after_commit=False, timeout=420):
    """Launch jobs/curate.py in its own process (own JVM), so a crash
    kills the whole driver exactly like a mid-job SIGKILL."""
    import subprocess
    args = ["--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out_root,
            "--partitions", "4",
            "--lang", "en",
            "--strip-boilerplate",
            "--split",
            "--pack", "64"]
    cmd = ([sys.executable, "-c", _CRASH_AFTER_COMMIT, ROOT]
           if crash_after_commit
           else [sys.executable, os.path.join(ROOT, "jobs", "curate.py")])
    return subprocess.run(cmd + args, capture_output=True, text=True,
                          timeout=timeout)


def test_curate_job_kill_after_commit_then_resume(spark, tmp_path):
    """Kill-mid-job e2e (the curation twin of the extract job's
    commit+resume spark-submit test): run 1 dies in the worst window —
    snapshot committed, decision set NOT yet recorded. Run 2 must
    finish the job with no doc_id duplicated, no input doc left
    undecided and every snapshot packed, and a third run must be a
    noop."""
    out_root = str(tmp_path / "lake_kill")

    p1 = _run_curate_subprocess(out_root, crash_after_commit=True)
    assert p1.returncode == 137, p1.stderr[-3000:]
    # the crash window is real: a snapshot landed, decisions did not
    from docling_spark.lake import SnapshotTable
    table = SnapshotTable(out_root)
    assert len(table.snapshots()) == 1
    assert not os.path.isdir(os.path.join(out_root, "processed"))

    p2 = _run_curate_subprocess(out_root)
    assert p2.returncode == 0, p2.stderr[-3000:]
    summary2 = json.loads(
        [ln for ln in p2.stdout.strip().splitlines()
         if ln.startswith("{")][-1])
    # run 2 re-decides only the docs whose decisions were lost — the
    # committed keeps from run 1 must not be re-processed
    assert summary2["status"] in ("committed", "committed_empty")
    snap = table.read(spark)
    n_input = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").count()
    if summary2["status"] == "committed":
        assert summary2["stages"]["input"] < n_input

    # no dupes: every committed doc_id appears exactly once
    assert snap.count() == snap.select("doc_id").distinct().count()

    # side outputs cover every snapshot: run 1 died before packing its
    # snapshot, so run 2 packed it along with its own
    packed = spark.read.parquet(*[
        os.path.join(out_root, "packing", f"snap-{s['id']}")
        for s in table.snapshots()])
    assert (sorted(r["doc_id"] for r in packed.select("doc_id").collect())
            == sorted(r["doc_id"] for r in snap.select("doc_id").collect()))

    # no gaps: every input doc is decided — committed or recorded drop
    decided = snap.select("doc_id").union(
        spark.read.parquet(os.path.join(out_root, "processed"))
        .select("doc_id")).distinct().count()
    assert decided == n_input

    # never a lost keep: a clean single run keeps a subset of what the
    # crashed+resumed pair keeps (re-deciding dropped docs without
    # their dup partners may conservatively resurrect, never lose)
    ref_root = str(tmp_path / "lake_ref")
    p_ref = _run_curate_subprocess(ref_root)
    assert p_ref.returncode == 0, p_ref.stderr[-3000:]
    ref_ids = {r["doc_id"] for r in SnapshotTable(ref_root)
               .read(spark).select("doc_id").collect()}
    got_ids = {r["doc_id"] for r in snap.select("doc_id").collect()}
    assert ref_ids <= got_ids

    # a third run with nothing new is a noop and adds no snapshot
    n_snaps = len(table.snapshots())
    p3 = _run_curate_subprocess(out_root)
    assert p3.returncode == 0, p3.stderr[-3000:]
    summary3 = json.loads(
        [ln for ln in p3.stdout.strip().splitlines()
         if ln.startswith("{")][-1])
    assert summary3["status"] == "noop"
    assert len(table.snapshots()) == n_snaps


DOCS = "/root/testdata/sf0.001/documents.parquet"


def _summary(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_curate_job_records_gate_drops(spark, tmp_path, capsys):
    """Docs the source and LM gates drop are decisions too: here the
    gates drop every doc, so run 1 commits nothing and records all 500
    ids, and run 2 has nothing left to decide."""
    from jobs.curate import main

    out_root = str(tmp_path / "lake_gated")
    argv = ["--input", DOCS, "--output", out_root, "--partitions", "4",
            "--source-gate", "--lm-gate-nll-e6", "3300000"]
    assert main(argv, _spark=spark) == 0
    first = _summary(capsys)
    assert first["status"] == "committed_empty"
    assert first["stages"]["input"] == 500
    assert main(argv, _spark=spark) == 0
    assert _summary(capsys)["status"] == "noop"
    processed = spark.read.parquet(os.path.join(out_root, "processed"))
    assert processed.select("doc_id").distinct().count() == 500


def test_curate_job_strip_stages_after_curate_keeps_nothing(
        spark, tmp_path, capsys):
    """With both strip stages on and no doc in the language asked
    for, the run commits nothing and reports 0 docs after curate."""
    from jobs.curate import main

    argv = ["--input", DOCS, "--output", str(tmp_path / "lake_none"),
            "--partitions", "4", "--lang", "zz",
            "--strip-boilerplate", "--strip-substrings", "8"]
    assert main(argv, _spark=spark) == 0
    summary = _summary(capsys)
    assert summary["status"] == "committed_empty"
    assert summary["stages"] == {"input": 500, "after_curate": 0,
                                 "output": 0}


def _executed_plans(spark, run):
    """The executed physical plans of every SQL execution ``run()``
    makes, flattened by the benchmark's plan walker."""
    from pyspark.java_gateway import ensure_callback_server_started
    from test_benchmark_hooks import _planmetrics

    pm = _planmetrics()
    ensure_callback_server_started(spark.sparkContext._gateway)
    seen = []

    class Listener:
        def onSuccess(self, func_name, qe, duration_ns):
            seen.append(qe)

        def onFailure(self, func_name, qe, exc):
            seen.append(qe)

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    listener = Listener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        run()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        manager.unregister(listener)
    return [pm.walk_plan(qe.executedPlan()) for qe in seen]


def test_curate_job_runs_the_band_join_once(spark, tmp_path, capsys):
    """One curate run executes the SimHash band join once, with
    default flags and with each strip stage: both read their input
    more than once in one plan. Every doc carries one shared footer
    line, so the boilerplate and shared-substring branches are not
    empty and stay in the executed plan. A node counts once per
    distinct set of metric ids, so a cached join read by several
    executions counts once."""
    from pyspark.sql import functions as F

    from jobs.curate import main

    docs = str(tmp_path / "docs")
    (spark.read.parquet(DOCS)
     .withColumn("text", F.concat(
         "text", F.lit("\nCookie settings and privacy policy")))
     .write.parquet(docs))
    for name, flags in (("default", []),
                        ("boilerplate", ["--strip-boilerplate"]),
                        ("substrings", ["--strip-substrings", "4"])):
        argv = ["--input", docs, "--output", str(tmp_path / name),
                "--partitions", "4", *flags]
        plans = _executed_plans(
            spark, lambda: main(argv, _spark=spark))
        assert _summary(capsys)["status"] == "committed"
        joins = {tuple(sorted(m[0] for m in n["metrics"].values()))
                 for nodes in plans for n in nodes
                 if "Join" in n["name"] and "band#" in n["desc"]
                 and "bit_count" in n["desc"]}
        assert len(joins) == 1, (name, len(joins))
