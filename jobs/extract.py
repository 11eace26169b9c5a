#!/usr/bin/env python
"""Batch extraction job — the spark-submit entry point (north rule:
"ships as spark-submit --py-files wheels").

    spark-submit --py-files dist/docling_spark.zip jobs/extract.py \
        --input <parquet dir | synth:<sf_dir>> \
        --output <snapshot-table root> \
        [--partitions N] [--max-payload-chars N] [--allowed-kinds html,csv,...]

--max-payload-chars and --allowed-kinds gate every route before
extraction: an oversize doc commits as a status=failure row (module
size_gate), a doc with no span of an allowed kind is not extracted.

Flow (SURVEY.md §7.1):
    read corpus → route count (one aggregate over the span kinds:
    input docs per extract_routed branch) → resume anti-join vs
    committed snapshot → routed extraction of the branches the input
    has (doc path, page-parallel path, raw-PDF path, image path) →
    one uncached snapshot write (lake.SnapshotTable.write_snapshot:
    metrics per data file, atomic manifest commit, status "noop" when
    nothing was left to do) → print one JSON summary line, with the
    route counts under "routes". --export/--enrich render each committed
    snapshot that has no such side output yet, under
    <output>/<name>/snap-<id>.

Re-running after a kill resumes from the last committed snapshot:
uncommitted data directories are invisible to readers (the manifest is
the only commit point) and their doc_ids are re-processed.
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
        .appName("docling-spark-extract")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .getOrCreate()
    )


def load_input(spark: SparkSession, spec: str):
    from docling_spark.sources.corpus import corpus_from_documents
    if spec.startswith("synth:"):
        return corpus_from_documents(spark, spec[len("synth:"):])
    return spark.read.parquet(spec)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet dir of (doc_id, spans), or synth:<sf_dir>")
    ap.add_argument("--output", required=True,
                    help="snapshot-table root (checkpoint location)")
    ap.add_argument("--partitions", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--max-payload-chars", type=int, default=None,
                    help="size gate: a doc whose span texts exceed N "
                         "chars commits as a status=failure row")
    ap.add_argument("--allowed-kinds", type=str, default=None,
                    help="comma-separated input kinds filter")
    ap.add_argument("--export", default=None,
                    choices=["markdown", "text", "doctags", "html"],
                    help="also render spans to this sink format")
    ap.add_argument("--enrich", action="store_true",
                    help="also write the enrichment side-table")
    args = ap.parse_args(argv)

    from docling_spark.lake import (
        SnapshotTable,
        partition_metrics,
        resume_filter,
    )
    from docling_spark.operators.extract import extract_routed, route_counts

    spark = build_spark(args.partitions)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.monotonic()

    table = SnapshotTable(args.output)
    corpus = load_input(spark, args.input)
    # counted once, before the resume anti-join: the to-do set is a
    # subset of the input, so every branch it needs has a count > 0
    routes = route_counts(corpus)
    todo = resume_filter(corpus, table)

    allowed = args.allowed_kinds.split(",") if args.allowed_kinds else None
    out = extract_routed(todo, num_partitions=args.partitions,
                         allowed_kinds=allowed,
                         max_payload_chars=args.max_payload_chars,
                         routes=routes)

    obs = Observation("extract")
    out = out.observe(
        obs,
        F.sum("n_spans").alias("spans"),
        F.sum((F.col("status") != "success").cast("long")).alias("errors"))
    entry = table.write_snapshot(out, metrics=partition_metrics)

    # side outputs render every committed snapshot that lacks one, so
    # a run killed after its commit is covered here, even by a noop
    written = {}
    if args.export:
        from docling_spark.operators import export as ex
        render = {"markdown": ex.export_markdown, "text": ex.export_text,
                  "doctags": ex.export_doctags, "html": ex.export_html}
        written["export"] = table.write_side_output(
            spark, f"exports/{args.export}", render[args.export])
    if args.enrich:
        from docling_spark.operators.enrich import enrich_spans
        written["enrichment"] = table.write_side_output(
            spark, "enrichment", enrich_spans)

    if entry is None:
        print(json.dumps({"status": "noop", "docs": 0,
                          "resume": "all input already committed",
                          "routes": routes}))
        spark.stop()
        return 0
    counters = obs.get
    side_outputs = {key: dirs[entry["id"]] for key, dirs in written.items()}

    print(json.dumps({
        "status": "committed",
        "snapshot": entry["id"],
        "docs": entry["rows"],
        "spans": counters.get("spans"),
        "errors": counters.get("errors"),
        "routes": routes,
        "wall_sec": round(time.monotonic() - t0, 2),
        "docs_per_sec": round(
            entry["rows"] / max(time.monotonic() - t0, 1e-9), 1),
        **({"side_outputs": side_outputs} if side_outputs else {}),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
