#!/usr/bin/env python
"""Corpus-curation job — the training-data counterpart to
jobs/extract.py, composing the engine's verified curation operators
into one spark-submit pipeline with snapshot commit + resume:

    spark-submit --py-files dist/docling_spark.zip jobs/curate.py \
        --input <documents parquet dir> --output <snapshot root> \
        [--source-gate] [--lm-gate-nll-e6 N] [--lang en]
        [--strip-boilerplate] [--strip-substrings K]
        [--split] [--pack SEQ_LEN] [--partitions N]

Stages, in one logical plan (gates, strips, split and pack optional):

    read → resume anti-join → domain reputation gate → LM quality
    gate → operators/curate.curate (quality/lang gates, exact and
    SimHash near-dup removal; keeps the text) → cross-doc boilerplate
    line strip → repeated-substring removal → train/val/test split →
    one snapshot write (lake.SnapshotTable.write_snapshot) → packing
    side-table of each snapshot that lacks one (<output>/packing/
    snap-<id>) → processed-ids append → one JSON summary line.

Default flags run the input count, the snapshot write and the
processed append, and cache nothing. A re-run after a kill resumes
from the last committed snapshot (the manifest is the only commit
point), same as the extract job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


def build_spark(partitions: int) -> SparkSession:
    return (
        SparkSession.builder
        .appName("docling-spark-curate")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .getOrCreate()
    )


def main(argv=None, _spark: SparkSession = None) -> int:
    # _spark: test hook — run the job inside an existing session
    # (and leave it running) instead of building/stopping one
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet dir of (doc_id, text[, lang, source])")
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument("--source-gate", action="store_true",
                    help="drop documents from low-reputation sources")
    ap.add_argument("--lm-gate-nll-e6", type=int, default=None,
                    help="drop docs whose unigram mean NLL (×1e6) "
                         "exceeds this (model trained on the "
                         "doc_id%%10==0 slice)")
    ap.add_argument("--strip-boilerplate", action="store_true",
                    help="remove cross-document duplicate lines")
    ap.add_argument("--strip-substrings", type=int, default=None,
                    metavar="K",
                    help="remove k-token substrings shared across docs")
    ap.add_argument("--split", action="store_true",
                    help="assign hash-stable train/val/test splits")
    ap.add_argument("--pack", type=int, default=None, metavar="SEQ_LEN",
                    help="also write the sequence-packing side-table")
    args = ap.parse_args(argv)

    from docling_spark.lake import (SnapshotTable, partition_metrics,
                                    resume_filter)
    from docling_spark.operators.curate import (
        curate, dedup_boilerplate_lines, gate_by_source, source_reputation)
    from docling_spark.operators.textstats import tokens_col

    spark = _spark or build_spark(args.partitions)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.monotonic()

    table = SnapshotTable(args.output)
    docs = spark.read.parquet(args.input)
    # Resume semantics: a curation run DECIDES docs (keep or drop), so
    # the resume set is everything not yet decided — the snapshot only
    # holds keeps, and re-curating previously-dropped docs without
    # their dup partners would resurrect them. The processed-ids side
    # table records every decision, taken before the gates; a kill
    # between commit and that append re-decides some dropped docs on
    # the next run (extra work, never a lost keep).
    proc_path = f"{args.output}/processed"
    todo = resume_filter(docs, table)
    if os.path.isdir(proc_path):
        done = spark.read.parquet(proc_path).select("doc_id")
        todo = todo.join(done, "doc_id", "left_anti")
    todo = todo.repartition(args.partitions, "doc_id")
    decided = todo.select("doc_id")
    counters = {"input": todo.count()}
    side_outputs = {}

    def pack(committed):
        from docling_spark.operators.packing import pack_sequences
        return pack_sequences(committed.select("doc_id", "n_tokens"),
                              seq_len=args.pack, n_shards=args.partitions)

    if counters["input"] == 0:
        if args.pack:  # a snapshot whose run died before packing it
            table.write_side_output(spark, "packing", pack)
        print(json.dumps({"status": "noop", "docs": 0,
                          "resume": "all input already decided"}))
        if _spark is None:
            spark.stop()
        return 0

    if args.source_gate and "source" in todo.columns:
        rep = source_reputation(todo)
        path = f"{args.output}/source_reputation"
        rep.write.mode("overwrite").parquet(path)
        side_outputs["source_reputation"] = path
        todo = gate_by_source(todo, spark.read.parquet(path))
        counters["after_source_gate"] = todo.count()

    if args.lm_gate_nll_e6 is not None:
        from docling_spark.operators.lmscore import lm_score
        ref = todo.filter(F.col("doc_id") % 10 == 0)
        keep = (lm_score(todo, ref,
                         max_mean_nll_e6=args.lm_gate_nll_e6)
                .filter(F.col("keep") == 1).select("doc_id"))
        todo = todo.join(keep, "doc_id", "left_semi")
        counters["after_lm_gate"] = todo.count()

    kept = Observation()
    curated = (curate(todo, lang=args.lang, min_tokens=args.min_tokens,
                      max_tokens=args.max_tokens)
               .observe(kept, F.count(F.lit(1)).alias("rows"))
               .select("doc_id", "text"))
    # both strip stages read their input more than once in one plan;
    # uncached, the SimHash band join under it runs once per read
    strip = args.strip_boilerplate or args.strip_substrings
    out = curated.persist() if strip else curated
    if args.strip_boilerplate:
        out = dedup_boilerplate_lines(out)
    if args.strip_substrings:
        from docling_spark.operators.substring import dedup_substrings
        out = dedup_substrings(out, k=args.strip_substrings)

    out = out.select("doc_id", "text",
                     F.size(tokens_col()).cast("int").alias("n_tokens"))
    if args.split:
        from docling_spark.operators.packing import split_docs
        out = split_docs(out)

    entry = table.write_snapshot(out, metrics=partition_metrics)
    if strip:
        curated.unpersist()
    # the strip stages keep every doc, so an empty write means curate()
    # kept none; AQE may then prune the observation under the strips
    counters["after_curate"] = kept.get["rows"] if entry else 0
    counters["output"] = entry["rows"] if entry else 0
    if args.pack:
        # every committed snapshot without one, this run's included
        dirs = table.write_side_output(spark, "packing", pack)
        if entry:
            side_outputs["packing"] = dirs[entry["id"]]
    # last, and also when every doc was dropped (see the resume note)
    decided.write.mode("append").parquet(proc_path)

    print(json.dumps({
        "status": "committed" if entry else "committed_empty",
        "snapshot": entry["id"] if entry else None,
        "stages": counters,
        "wall_sec": round(time.monotonic() - t0, 2),
        **({"side_outputs": side_outputs} if side_outputs else {}),
    }))
    if _spark is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
