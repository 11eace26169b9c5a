"""Per-layer metrics of one traced run.

Sources, in order of preference: Spark's executed-plan SQL metrics
(planmetrics), per-task records of the event log (eventlog), the
benchmark's spans around the layers' public functions (tracer), and the
committed rows themselves (verify). Every metric is listed in
``PER_LAYER`` with its unit; a layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, List

import eventlog
import planmetrics as pm
from verify import job_wall

PER_LAYER = {
    "runtime.session_s": "s",
    "runtime.first_worker_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "lake.committed_keys_s": "s",
    "lake.resume_filter_s": "s",
    "lake.keys_scan_s": "s",
    "lake.resume_skip_share": "ratio",
    "lake.write_snapshot_s": "s",
    "lake.partition_metrics_s": "s",
    "lake.snapshot_bytes": "bytes",
    "lake.snapshot_files": "count",
    "extract.doc_s": "s",
    "extract.python_boot_s": "s",
    "extract.python_init_s": "s",
    "extract.python_total_s": "s",
    "extract.marshal_s": "s",
    "extract.arrow_in_bytes": "bytes",
    "extract.arrow_out_bytes": "bytes",
    "extract.tasks": "count",
    "extract.failed_tasks": "count",
    "parsers.parse_core_s": "s",
    "parsers.wall_us_p50": "us",
    "parsers.wall_us_p99": "us",
    "parsers.wall_us_max": "us",
    "parsers.serial_docs_per_s": "docs/s",
    "parsers.failure_rows": "count",
    "parsers.failure_rows.pdf_page": "count",
    "parsers.failure_rows.docx": "count",
    "parsers.failure_rows.xlsx": "count",
    "parsers.failure_rows.pptx": "count",
    "parsers.failure_rows.other": "count",
    "pdfnative.to_pages_s": "s",
    "pdfnative.pages_out": "count",
    "paged.s": "s",
    "paged.shuffle_bytes": "bytes",
    "paged.task_skew": "ratio",
    "curate.s": "s",
    "curate.shuffle_bytes": "bytes",
    "curate.docs_kept_share": "ratio",
    "dedup.python_total_s": "s",
    "dedup.pairs_generated": "count",
    "dedup.pairs_kept": "count",
    "dedup.pair_yield": "ratio",
    "job.persist_bytes": "bytes",
    "job.parallel_eff": "ratio",
    "job.serial_s": "s",
    "job.parallel_work_s": "s",
    "trace.overhead_s": "s",
}

FAILURE_MODULES = ("pdf_page", "docx", "xlsx", "pptx")
DOC_PATH_KINDS = {"html", "md", "csv", "docx", "xlsx", "pptx"}


def _span_s(spans: List[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["name"] == name and s["end"] is not None)


def _pct(values: List[float], q: float) -> float:
    vals = sorted(values)
    if not vals:
        return 0.0
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def serial_parse(sample) -> float:
    """Docs/s of the public parse functions, single-threaded, on the
    workload's fixed sample of (kind, payload)."""
    import base64
    import json

    from docling_spark.doctree import flatten
    from docling_spark.parsers.csv_parser import parse_csv_document
    from docling_spark.parsers.docx_parser import parse_docx_document
    from docling_spark.parsers.html_parser import parse_html_document
    from docling_spark.parsers.md_parser import parse_md_document
    from docling_spark.parsers.pdf_page import parse_pdf_pages
    from docling_spark.parsers.pdfio import extract_pdf_cells
    from docling_spark.parsers.pptx_parser import parse_pptx_document
    from docling_spark.parsers.xlsx_parser import parse_xlsx_document

    def pdf(payload: str):
        pages = extract_pdf_cells(base64.b64decode(payload))
        return parse_pdf_pages([json.dumps({
            "page_no": i, "width": p["width"], "height": p["height"],
            "cells": [{"index": j, "text": c["text"], "l": c["x0"],
                       "t": c["y0"], "r": c["x1"], "b": c["y1"]}
                      for j, c in enumerate(p["cells"])]})
            for i, p in enumerate(pages)])

    parse = {"html": parse_html_document, "md": parse_md_document,
             "csv": parse_csv_document, "docx": parse_docx_document,
             "xlsx": parse_xlsx_document, "pptx": parse_pptx_document,
             "pdf_raw": pdf}
    if not sample:
        return 0.0
    t0 = time.perf_counter()
    for kind, payload in sample:
        try:
            flatten(parse[kind](payload))
        except Exception:  # corrupt sample docs fail here as in the job
            pass
    return len(sample) / (time.perf_counter() - t0)


def compute(inputs, base, traced, single, serial_rate: float,
            trace: dict, cores: int) -> Dict[str, float]:
    """``base``/``traced``/``single`` are (Launch, Outcome) pairs of the
    untraced local[N], traced local[N] and untraced local[1] runs."""
    m: Dict[str, float] = {k: 0.0 for k in PER_LAYER}
    tl, to = traced
    spans = trace["spans"]
    nodes = pm.unique_nodes(trace["executions"])
    tasks = eventlog.read_tasks(tl.eventlog_dir)
    kinds = inputs.kinds
    is_extract = inputs.job == "extract"

    # runtime
    m["runtime.session_s"] = tl.setup_s
    # first Python worker: boot + init of the earliest Python task
    py_all = [n for n in nodes if n["name"] in pm.PYTHON_NODES]
    start_ids = {n["metrics"][k][0] for n in py_all
                 for k in ("pythonBootTime", "pythonInitTime")
                 if k in n["metrics"]}
    if not start_ids:
        raise pm.MissingNode("no Python node reports boot/init time")
    started = sorted((t for t in tasks if start_ids & set(t.updates)),
                     key=lambda t: t.launch_ms)
    if started:
        first = started[0]
        m["runtime.first_worker_s"] = sum(
            first.updates[i] for i in start_ids & set(first.updates)) / 1e3

    # sources: scans of the generated input
    src = pm.scans(nodes, inputs.input_dir)
    if not src:
        raise pm.MissingNode("no file scan of the workload input")
    m["sources.scan_s"] = pm.metric_sum(src, "scanTime") / 1e3
    m["sources.input_bytes"] = pm.metric_sum(src, "filesSize")

    # lake
    m["lake.committed_keys_s"] = _span_s(spans, "lake.committed_keys")
    m["lake.resume_filter_s"] = _span_s(spans, "lake.resume_filter")
    lake_scans = pm.scans(nodes, tl.lake)
    if inputs.precommitted:
        if not lake_scans:
            raise pm.MissingNode("no scan of the committed snapshots")
        m["lake.keys_scan_s"] = pm.metric_sum(lake_scans, "scanTime") / 1e3
        m["lake.resume_skip_share"] = (
            (inputs.n_docs - to.new_rows) / len(inputs.precommitted))
    m["lake.write_snapshot_s"] = _span_s(spans, "lake.write_snapshot")
    m["lake.partition_metrics_s"] = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "spark.write" and "/metrics/" in s.get("path", ""))
    m["lake.snapshot_bytes"] = to.snapshot_bytes
    m["lake.snapshot_files"] = to.snapshot_files

    # extract (doc path) and parsers. Worker boot/init is paid by
    # whichever Python stage of the job runs first (the doc path reuses
    # workers the pdfnative/page stages started), so it is summed over
    # every Python node of the job.
    if is_extract:
        ex = pm.python_nodes(nodes, "extract")
        ex_tasks = eventlog.touching(tasks, pm.metric_ids(ex))
        m["extract.doc_s"] = sum(t.run_ms for t in ex_tasks) / 1e3
        m["extract.python_boot_s"] = pm.metric_sum(py_all,
                                                   "pythonBootTime") / 1e3
        m["extract.python_init_s"] = pm.metric_sum(py_all,
                                                   "pythonInitTime") / 1e3
        total = pm.metric_sum(ex, "pythonTotalTime") / 1e3
        m["extract.python_total_s"] = total
        doc_wall = sum(w for d, w in to.wall_us.items()
                       if kinds.get(d) in DOC_PATH_KINDS) / 1e6
        m["extract.marshal_s"] = total - doc_wall
        m["extract.arrow_in_bytes"] = pm.metric_sum(ex, "pythonDataSent")
        m["extract.arrow_out_bytes"] = pm.metric_sum(ex, "pythonDataReceived")
        m["extract.tasks"] = len(ex_tasks)
        m["extract.failed_tasks"] = sum(t.failed for t in ex_tasks)
        walls = list(to.wall_us.values())
        m["parsers.parse_core_s"] = sum(walls) / 1e6
        m["parsers.wall_us_p50"] = _pct(walls, 0.50)
        m["parsers.wall_us_p99"] = _pct(walls, 0.99)
        m["parsers.wall_us_max"] = max(walls)
        m["parsers.serial_docs_per_s"] = serial_rate
        mods = to.failure_modules
        m["parsers.failure_rows"] = sum(mods.values())
        for mod in FAILURE_MODULES:
            m[f"parsers.failure_rows.{mod}"] = mods.get(mod, 0)
        m["parsers.failure_rows.other"] = sum(
            c for k, c in mods.items() if k not in FAILURE_MODULES)

    # PDF bytes → pages, page parse and reassembly
    if any(k == "pdf_raw" for k in kinds.values()):
        pn = pm.python_nodes(nodes, "pdfnative")
        m["pdfnative.to_pages_s"] = pm.metric_sum(pn, "pythonTotalTime") / 1e3
        pg = pm.python_nodes(nodes, "paged")
        m["pdfnative.pages_out"] = pm.metric_sum(pg, "pythonNumRowsReceived")
        final_agg = [n for n in nodes if "Aggregate" in n["name"]
                     and "collect_list" in n["desc"]
                     and "partial_collect_list" not in n["desc"]
                     and "paged" in n["python_below"]]
        if not final_agg:
            raise pm.MissingNode("no page reassembly aggregate")
        reduce_tasks = eventlog.touching(tasks, pm.metric_ids(final_agg))
        page_tasks = eventlog.touching(tasks, pm.metric_ids(pg))
        m["paged.s"] = sum(t.run_ms for t in {id(t): t for t in
                           reduce_tasks + page_tasks}.values()) / 1e3
        m["paged.shuffle_bytes"] = pm.metric_sum(
            [n for n in pm.exchanges(nodes) if "paged" in n["python_below"]
             or n["python_above"] == ["paged"]], "shuffleBytesWritten")
        runs = [t.run_ms for t in reduce_tasks if not t.failed]
        if runs:
            m["paged.task_skew"] = max(runs) / max(statistics.median(runs), 1)

    # curation
    if inputs.job == "curate":
        cur = [s for s in spans if s["name"] == "curate.curate"]
        if not cur:
            raise pm.MissingNode("curate() was never called")
        after = [s for s in spans if s["name"].startswith(("spark.count",
                 "spark.write")) and s["start"] >= cur[0]["end"]]
        m["curate.s"] = after[0]["end"] - after[0]["start"]
        m["curate.shuffle_bytes"] = pm.metric_sum(pm.exchanges(nodes),
                                                  "shuffleBytesWritten")
        m["curate.docs_kept_share"] = to.new_rows / inputs.n_docs
        m["dedup.python_total_s"] = pm.metric_sum(
            pm.python_nodes(nodes, "dedup"), "pythonTotalTime") / 1e3
        # the Hamming check is fused into the band self-join, so the join
        # emits verified pairs; the candidates it evaluates per run are
        # the band-equal pairs of the input (counted by the replay)
        joins = [n for n in nodes if "Join" in n["name"]
                 and "band#" in n["desc"] and "bit_count" in n["desc"]]
        if not joins:
            raise pm.MissingNode("no SimHash band join")
        kept = pm.metric_sum(joins, "numOutputRows")
        gen = inputs.band_pairs * len(joins)
        m["dedup.pairs_generated"] = gen
        m["dedup.pairs_kept"] = kept
        m["dedup.pair_yield"] = kept / gen if gen else 0.0
    if not pm.exchanges(nodes):
        raise pm.MissingNode("no Exchange node in any executed plan")

    # whole job
    m["job.persist_bytes"] = trace["persist_bytes"]
    t_n, t_1 = job_wall(*base), job_wall(*single)
    m["job.parallel_eff"] = t_1 / (cores * t_n)
    if cores > 1:
        serial = (cores * t_n - t_1) / (cores - 1)
        m["job.serial_s"] = serial
        m["job.parallel_work_s"] = t_1 - serial
    else:
        m["job.parallel_work_s"] = t_1
    m["trace.overhead_s"] = job_wall(*traced) - t_n
    return m
