"""The traced benchmark (perfbench/tracer.py) wraps public functions of
the engine by name. Installing its hooks in a fresh interpreter fails
the moment one of those functions is renamed or deleted, so the break
shows up here instead of in the next traced benchmark run."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INSTALL = """
import sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
from pyspark import SparkContext
from tracer import Tracer

Tracer("t").install()
assert SparkContext._active_spark_context is None, "install started Spark"
"""


def test_tracer_hooks_install_without_spark():
    proc = subprocess.run(
        [sys.executable, "-c", _INSTALL, os.path.join(ROOT, "perfbench"),
         ROOT],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]


def _planmetrics():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "perfbench_planmetrics",
        os.path.join(ROOT, "perfbench", "planmetrics.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_benchmark_udf_names_are_in_the_routed_plan(spark):
    """The traced benchmark finds each extract layer by the name of its
    Python UDF (planmetrics.UDF_LAYERS). Read with the benchmark's own
    plan walker, extract_routed over html, pdf_page and pdf_raw docs,
    with routes passed in as the extract job does, runs a MapInPandas
    node under each of those names."""
    import base64
    import json

    from docling_spark.operators.extract import extract_routed, route_counts
    from docling_spark.schema import INPUT_SCHEMA
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    pm = _planmetrics()
    page = json.dumps({"page_no": 0, "width": 612.0, "height": 792.0,
                       "cells": [{"index": 0, "text": "w", "l": 50,
                                  "t": 100, "r": 400, "b": 110}]})
    raw = base64.b64encode(synth_pdf_pages([["alpha"]])).decode("ascii")
    corpus = spark.createDataFrame(
        [("h", [("html", "<html><body><p>x</p></body></html>", "", 0)]),
         ("p", [("pdf_page", page, "", 0)]),
         ("r", [("pdf_raw", raw, "", 0)])], schema=INPUT_SCHEMA)
    out = extract_routed(corpus, routes=route_counts(corpus))
    assert {r["status"] for r in out.collect()} == {"success"}
    udfs = {n["udf"] for n in pm.walk_plan(
        out._jdf.queryExecution().executedPlan())
        if n["name"] == "MapInPandas"}
    for name, layer in (("_extract_batches", "extract"),
                        ("_page_batches", "paged"),
                        ("batches", "pdfnative")):
        assert pm.UDF_LAYERS[name] == layer
        assert name in udfs, (name, sorted(udfs))
