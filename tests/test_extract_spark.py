"""Spark-side correctness: the same span equality as the pure-Python
golden tests, but driven through the real mapInPandas operator, plus
error containment and the media-interleave contract."""

from pyspark.sql import functions as F

from docling_spark.golden import fixture_names, load_golden
from docling_spark.operators.extract import extract_spans
from docling_spark.schema import INPUT_SCHEMA
from docling_spark.sources.corpus import fixture_corpus


def test_fixture_corpus_span_equality(spark):
    df = extract_spans(fixture_corpus(spark, ["html", "csv"]))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert len(rows) == 17
    for kind in ("html", "csv"):
        for name in fixture_names(f".{kind}"):
            row = rows[f"{kind}/{name}"]
            assert row["status"] == "success", (name, row["errors"])
            got = [
                {"kind": s["kind"], "text": s["text"],
                 "media_ref": s["media_ref"], "offset": s["offset"]}
                for s in row["spans"]
            ]
            assert got == load_golden(name), name


def test_binary_formats_through_spark(spark):
    """docx/xlsx/pptx base64 payloads through the real mapInPandas path."""
    df = extract_spans(fixture_corpus(spark, ["docx", "xlsx", "pptx"]))
    rows = {r["doc_id"]: r for r in df.collect()}
    checked = 0
    for kind in ("docx", "xlsx", "pptx"):
        for name in fixture_names(f".{kind}"):
            if name == "equations.docx":
                continue
            row = rows[f"{kind}/{name}"]
            assert row["status"] == "success", (name, row["errors"])
            got = [
                {"kind": s["kind"], "text": s["text"],
                 "media_ref": s["media_ref"], "offset": s["offset"]}
                for s in row["spans"]
            ]
            assert got == load_golden(name), name
            checked += 1
    assert checked == 11


def test_error_containment_and_skip(spark):
    rows = [
        ("bad-csv", [("csv", "no delimiters here\njust words\n", "", 0)]),
        ("unknown", [("weirdformat", "payload", "", 0)]),
        ("empty", []),
        ("ok", [("html", "<html><body><h1>T</h1></body></html>", "", 0)]),
    ]
    df = extract_spans(spark.createDataFrame(rows, schema=INPUT_SCHEMA))
    got = {r["doc_id"]: r for r in df.collect()}
    assert got["bad-csv"]["status"] == "failure"
    assert got["bad-csv"]["errors"][0]["module"] == "csv"
    assert "Error" in got["bad-csv"]["errors"][0]["message"]
    assert got["unknown"]["status"] == "skipped"
    assert got["empty"]["status"] == "skipped"
    assert got["ok"]["status"] == "success"
    assert got["ok"]["spans"][0]["kind"] == "title"


def test_media_interleave(spark):
    html = ('<html><body><h1>T</h1><img src="a"/><p>x</p>'
            '<img src="b"/></body></html>')
    rows = [("d1", [("html", html, "", 0),
                    ("media", "", "media://AAA", 1),
                    ("media", "", "media://BBB", 2)])]
    df = extract_spans(spark.createDataFrame(rows, schema=INPUT_SCHEMA))
    spans = df.collect()[0]["spans"]
    pics = [s for s in spans if s["kind"] == "picture"]
    assert [p["media_ref"] for p in pics] == ["media://AAA", "media://BBB"]


def test_prefilters_are_catalyst_side(spark):
    """Size gate and kind filter must appear in the optimized plan as
    plain Filters below the Python evaluation node (pushdown check)."""
    corpus = fixture_corpus(spark, ["html"])
    out = extract_spans(corpus, allowed_kinds=["html"],
                        max_payload_chars=10_000_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the filter sits under (after in plan text) the Python map node
    assert "Filter" in plan
    assert "MapInPandas" in plan
    assert plan.index("Filter") > plan.index("MapInPandas")


def test_output_schema_stable(spark):
    df = extract_spans(fixture_corpus(spark, ["csv"]))
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "spans", "status", "errors", "n_spans", "wall_us"]


def test_oversize_modes(spark):
    """Reference size-gate contract (datamodel/document.py:130-143,
    tests/test_invalid_input.py:38-44): oversize="fail" reports the
    doc as a failure row with a max_file_size error; the default drops
    it before the UDF. The failure rows are Catalyst-built — the
    payload never reaches Python."""
    from docling_spark.schema import INPUT_SCHEMA
    rows = [("small", [("html", "<html><body><h1>T</h1></body></html>",
                        "", 0)]),
            ("big", [("html", "<html><body><p>" + "x" * 2000
                      + "</p></body></html>", "", 0)])]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)

    dropped = extract_spans(df, max_payload_chars=1000)
    assert [r.doc_id for r in dropped.collect()] == ["small"]

    failed = extract_spans(df, max_payload_chars=1000, oversize="fail")
    by_id = {r.doc_id: r for r in failed.collect()}
    assert by_id["small"].status == "success"
    assert by_id["big"].status == "failure"
    assert by_id["big"].spans == []
    assert by_id["big"].errors[0].module == "size_gate"
    assert "max_file_size" in by_id["big"].errors[0].message


def test_unsupported_kind_is_skipped(spark):
    """Unknown format → SKIPPED, not an error (the reference's
    unsupported-stream contract, tests/test_invalid_input.py:23-27)."""
    from docling_spark.schema import INPUT_SCHEMA
    df = spark.createDataFrame(
        [("weird", [("xyz", "xyz", "", 0)])], schema=INPUT_SCHEMA)
    row = extract_spans(df).collect()[0]
    assert row.status == "skipped"
    assert row.spans == [] and row.errors == []


def test_pdf_raw_routed(spark):
    """extract_routed's raw-PDF branch: genuine PDF file bytes
    (base64 in a pdf_raw span) go through the from-scratch byte
    parser into the page-parallel path; corrupt bytes become a
    FAILURE row with the parser's message (the reference's
    ConversionStatus.FAILURE on backend errors,
    tests/test_invalid_input.py:38-40) — never a silent drop."""
    import base64

    from docling_spark.operators.extract import extract_routed
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    blob = synth_pdf_pages([["alpha", "beta"], ["gamma"]])
    rows = [
        ("raw", [("pdf_raw", base64.b64encode(blob).decode("ascii"),
                  "", 0)]),
        ("doc", [("md", "# Title\n\nbody text", "", 0)]),
        ("bad", [("pdf_raw",
                  base64.b64encode(b"not a pdf at all").decode("ascii"),
                  "", 0)]),
    ]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    got = {r["doc_id"]: r for r in extract_routed(df).collect()}
    assert set(got) == {"raw", "doc", "bad"}

    assert got["raw"]["status"] == "success"
    assert [s["text"] for s in got["raw"]["spans"]] == \
        ["alpha beta", "gamma"]
    assert [s["offset"] for s in got["raw"]["spans"]] == [0, 1]

    assert got["doc"]["status"] == "success"
    assert got["doc"]["spans"][0]["kind"] == "title"

    assert got["bad"]["status"] == "failure"
    assert got["bad"]["spans"] == []
    assert any("pdf" in (e["message"] or "").lower()
               or "Error" in (e["message"] or "")
               for e in got["bad"]["errors"])


def _rows_by_id(df):
    """Output rows keyed by doc_id, without the wall_us timing."""
    out = {}
    for r in df.collect():
        row = r.asDict(recursive=True)
        row.pop("wall_us")
        out[row["doc_id"]] = row
    return out


def test_routed_keeps_null_kind_docs(spark):
    """A span whose kind is NULL matches no route's kind; its document
    takes the doc path instead of vanishing from every branch, so
    extract_routed returns what extract_spans returns."""
    from docling_spark.operators.extract import extract_routed

    rows = [("nullkind", [("html", "<p>hi</p>", "", 0), (None, "x", "", 1)]),
            ("nullonly", [(None, "x", "", 0)])]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    got = _rows_by_id(extract_routed(df))
    assert got == _rows_by_id(extract_spans(df))
    assert got["nullkind"]["status"] == "success"
    assert got["nullonly"]["status"] == "skipped"


def test_routed_rows_match_each_branch_called_directly(spark):
    """One corpus holding every route: extract_routed yields exactly
    the rows of extract_spans over the doc-path subset,
    extract_spans_paged over the pdf_page subset and over
    pdf_to_page_spans of the raw PDFs, and the image mapping (one
    picture span per image, in offset order)."""
    import base64
    import json

    from docling_spark.operators.extract import (
        extract_routed,
        extract_spans_paged,
    )
    from docling_spark.operators.pdfnative import pdf_to_page_spans
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    pdf_ok = synth_pdf_pages([["alpha", "beta"], ["gamma"]])
    pdf_bad = b"not a pdf at all"
    page = json.dumps({
        "page_no": 0, "width": 612.0, "height": 792.0,
        "cells": [{"index": 0, "text": "page words", "l": 50, "t": 100,
                   "r": 400, "b": 110}]})
    doc_rows = [
        ("html", [("html", '<html><body><h1>T</h1><img src="a"/>'
                   "<p>x</p></body></html>", "", 0),
                  ("media", "", "media://a", 1)]),
        ("md", [("md", "# Title\n\nbody text", "", 0)]),
        ("media_only", [("media", "", "media://m", 0)]),
        ("oversize", [("html", "<html><body><p>" + "x" * 2000
                       + "</p></body></html>", "", 0)]),
    ]
    paged_rows = [("paged", [("pdf_page", page, "", 0),
                             ("pdf_page", page, "", 1)])]
    raw_rows = [("raw", pdf_ok), ("raw_bad", pdf_bad)]
    image_rows = [("image", [("image", "", "img://b", 1),
                             ("image", "", "img://a", 0)])]
    corpus = spark.createDataFrame(
        doc_rows + paged_rows + image_rows
        + [(d, [("pdf_raw", base64.b64encode(b).decode("ascii"), "", 0)])
           for d, b in raw_rows],
        schema=INPUT_SCHEMA)

    got = _rows_by_id(extract_routed(corpus, max_payload_chars=1000,
                                     oversize="fail"))

    want = _rows_by_id(extract_spans(
        spark.createDataFrame(doc_rows, schema=INPUT_SCHEMA),
        max_payload_chars=1000, oversize="fail"))
    want.update(_rows_by_id(extract_spans_paged(
        spark.createDataFrame(paged_rows, schema=INPUT_SCHEMA))))
    want.update(_rows_by_id(extract_spans_paged(pdf_to_page_spans(
        spark.createDataFrame(raw_rows, "doc_id string, pdf binary")))))
    want["image"] = {
        "doc_id": "image",
        "spans": [{"kind": "picture", "text": "", "media_ref": "img://a",
                   "offset": 0},
                  {"kind": "picture", "text": "", "media_ref": "img://b",
                   "offset": 1}],
        "status": "success", "errors": [], "n_spans": 2}

    assert set(got) == {"html", "md", "media_only", "oversize", "paged",
                        "raw", "raw_bad", "image"}
    assert got == want
    assert {d: r["status"] for d, r in got.items()} == {
        "html": "success", "md": "success", "media_only": "skipped",
        "oversize": "failure", "paged": "success", "raw": "success",
        "raw_bad": "failure", "image": "success"}
