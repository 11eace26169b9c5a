"""Pins of the structured-page surfaces over synthetic pages: the
payload bytes the two writers produce, page_elements and page_cells
rows, doc-path/paged-path agreement on pdf_page documents, and per-page
containment in the parsed-page row function. The real-fixture checks
(test_real_pdf, the pdf_real_assembled oracle) need the reference
corpus; these do not."""

import json

from docling_spark.schema import INPUT_SCHEMA


def _cell(i, text, l, t, r, b):
    return {"index": i, "text": text, "l": l, "t": t, "r": r, "b": b}


def _cluster(i, label, conf, l, t, r, b):
    return {"id": i, "label": label, "confidence": conf,
            "l": l, "t": t, "r": r, "b": b}


# one page with a layout prediction of every element class page_elements
# treats differently: furniture, title (remapped), text, table, picture,
# caption, and a text cluster under the confidence gate
CLUSTERED_PAGE = {
    "page_no": 3, "width": 612.0, "height": 792.0,
    "cells": [
        _cell(0, "Running head", 50, 10, 300, 20),
        _cell(1, "A Title", 50, 60, 300, 80),
        _cell(2, "First line of experi-", 50, 100, 400, 112),
        _cell(3, "ment text.", 50, 114, 400, 126),
        _cell(4, "Name", 50, 200, 150, 212),
        _cell(5, "Value", 200, 200, 300, 212),
        _cell(6, "a", 50, 214, 150, 226),
        _cell(7, "1", 200, 214, 300, 226),
        _cell(8, "axis", 100, 350, 140, 360),
        _cell(9, "Figure 1: a plot", 50, 420, 300, 432),
        _cell(10, "stray words", 50, 600, 200, 612),
        _cell(11, "7", 300, 770, 310, 782),
    ],
    "clusters": [
        _cluster(0, "page_header", 0.9, 45, 5, 305, 25),
        _cluster(1, "title", 0.9, 45, 55, 305, 85),
        _cluster(2, "text", 0.9, 45, 95, 405, 130),
        _cluster(3, "table", 0.9, 45, 195, 305, 230),
        _cluster(4, "picture", 0.9, 45, 300, 305, 410),
        _cluster(5, "caption", 0.9, 45, 415, 305, 435),
        _cluster(6, "text", 0.2, 45, 590, 205, 615),
        _cluster(7, "page_footer", 0.9, 295, 765, 315, 785),
    ],
}

# sub-word fragments listed out of index order: merge=True joins each
# row's fragments, merge=False keeps them, both in index order
FRAGMENT_PAGE = {
    "page_no": 0, "width": 612.0, "height": 792.0,
    "cells": [
        _cell(3, " wo", 34, 100, 50, 110),
        _cell(1, "Hel", 10, 100, 25, 110),
        _cell(2, "lo", 25.5, 100, 33, 110),
        _cell(4, "rld", 50.2, 100, 64, 110),
        _cell(5, "next", 10, 130, 40, 140),
        _cell(6, "far", 300, 130, 330, 140),
    ],
}

# geometric pages: furniture comes from the top/bottom page margins
GEOMETRIC_PAGE = {
    "page_no": 1, "width": 612.0, "height": 792.0,
    "cells": [
        _cell(0, "Journal header", 50, 5, 400, 20),
        _cell(1, "Left column", 50, 100, 250, 110),
        _cell(2, "Right column", 350, 100, 550, 110),
        _cell(3, "Page 7", 280, 760, 330, 780),
    ],
}


def _page_corpus(spark):
    return spark.createDataFrame(
        [("d", [("pdf_page", json.dumps(CLUSTERED_PAGE), "", 3)]),
         ("f", [("pdf_page", json.dumps(FRAGMENT_PAGE), "", 0),
                ("pdf_page", None, "", 1),
                ("pdf_page", "", "", 2),
                ("pdf_page", "not json", "", 3)])],
        schema=INPUT_SCHEMA)


def test_page_elements_rows(spark):
    """Elements in postprocessor order: furniture and remapped labels
    kept, table/picture text empty, the gated cluster's cell an orphan
    text element; NULL, empty and non-JSON pages give no rows."""
    from docling_spark.operators.extract import page_elements
    rows = sorted(tuple(r) for r in page_elements(
        _page_corpus(spark)).collect())
    assert rows == [
        ("d", 3, 0, "page_header", "Running head"),
        ("d", 3, 1, "section_header", "A Title"),
        ("d", 3, 2, "text", "First line of experiment text."),
        ("d", 3, 3, "table", ""),
        ("d", 3, 4, "picture", ""),
        ("d", 3, 5, "caption", "Figure 1: a plot"),
        ("d", 3, 6, "text", "stray words"),
        ("d", 3, 7, "page_footer", "7"),
        # no predictions: every cell an orphan text element
        ("f", 0, 0, "text", "Hel"),
        ("f", 0, 1, "text", "lo"),
        ("f", 0, 2, "text", "wo"),
        ("f", 0, 3, "text", "rld"),
        ("f", 0, 4, "text", "next"),
        ("f", 0, 5, "text", "far"),
    ]


def test_page_cells_rows_merged_and_verbatim(spark):
    from docling_spark.operators.extract import page_cells
    corpus = _page_corpus(spark)
    merged = sorted(tuple(r) for r in page_cells(corpus).collect()
                    if r["doc_id"] == "f")
    assert merged == [
        ("f", 0, 1, "Hello world", 10.0, 100.0, 64.0, 110.0),
        ("f", 0, 2, "next", 10.0, 130.0, 40.0, 140.0),
        ("f", 0, 3, "far", 300.0, 130.0, 330.0, 140.0),
    ]
    verbatim = sorted(tuple(r) for r in
                      page_cells(corpus, merge=False).collect()
                      if r["doc_id"] == "f")
    assert verbatim == [
        ("f", 0, 1, "Hel", 10.0, 100.0, 25.0, 110.0),
        ("f", 0, 2, "lo", 25.5, 100.0, 33.0, 110.0),
        ("f", 0, 3, " wo", 34.0, 100.0, 50.0, 110.0),
        ("f", 0, 4, "rld", 50.2, 100.0, 64.0, 110.0),
        ("f", 0, 5, "next", 10.0, 130.0, 40.0, 140.0),
        ("f", 0, 6, "far", 300.0, 130.0, 330.0, 140.0),
    ]
    assert page_cells(corpus).filter("doc_id = 'd'").count() == 12


def test_doc_path_and_paged_path_agree_on_pdf_pages(spark):
    """extract_spans (the whole document in one UDF call) and
    extract_spans_paged (one UDF call per page, reassembled) give the
    same rows for labeled pages, geometric pages and furniture of
    both kinds."""
    from docling_spark.operators.extract import (
        extract_spans,
        extract_spans_paged,
    )
    labeled = json.dumps(CLUSTERED_PAGE)
    geometric = json.dumps(GEOMETRIC_PAGE)
    corpus = spark.createDataFrame(
        [("mixed", [("pdf_page", geometric, "", 1),
                    ("pdf_page", labeled, "", 0)]),
         ("geometric", [("pdf_page", geometric, "", 0)]),
         ("labeled", [("pdf_page", labeled, "", 0),
                      ("pdf_page", labeled, "", 1)])],
        schema=INPUT_SCHEMA)

    def rows(df):
        return {r["doc_id"]: {k: v for k, v in r.asDict(True).items()
                              if k != "wall_us"} for r in df.collect()}

    doc, paged = rows(extract_spans(corpus)), rows(
        extract_spans_paged(corpus))
    assert doc == paged
    texts = [s["text"] for s in doc["geometric"]["spans"]]
    assert texts == ["Left column", "Right column"]
    kinds = [s["kind"] for s in doc["mixed"]["spans"]]
    assert "page_header" not in kinds and "page_footer" not in kinds
    assert kinds[:2] == ["section_header", "text"]
    assert {r["status"] for r in doc.values()} == {"success"}


def test_pdf_to_page_spans_payload_bytes(spark):
    from docling_spark.operators.pdfnative import pdf_to_page_spans
    from docling_spark.parsers.pdfio import extract_pdf_cells
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    pdf = synth_pdf_pages([["alpha", "beta"], ["gamma"]])
    want = {
        "ok": [json.dumps({
            "page_no": off, "width": p["width"], "height": p["height"],
            "cells": [{"index": i, "text": c["text"], "l": c["x0"],
                       "t": c["y0"], "r": c["x1"], "b": c["y1"]}
                      for i, c in enumerate(p["cells"])]})
            for off, p in enumerate(extract_pdf_cells(pdf))],
        # no page parsed / the parser raised: one error sentinel page
        "bad": [json.dumps({"page_no": 0,
                            "pdfio_error": "no pages parsed"})],
        "null": [json.dumps({
            "page_no": 0, "pdfio_error": "TypeError: cannot convert "
                                         "'NoneType' object to bytes"})],
    }
    got = pdf_to_page_spans(spark.createDataFrame(
        [("ok", pdf), ("bad", b"not a pdf at all"), ("null", None)],
        "doc_id string, pdf binary"))
    by_id = {r["doc_id"]: r["spans"] for r in got.collect()}
    assert {d: [s["text"] for s in spans]
            for d, spans in by_id.items()} == want
    assert [(s["kind"], s["media_ref"], s["offset"])
            for s in by_id["ok"]] == [("pdf_page", "", 0),
                                      ("pdf_page", "", 1)]


def test_real_fixture_page_payload_bytes():
    from docling_spark.sources.realpdf import page_payload

    def rect(l, t, r, b):
        return {"r_x0": l, "r_y0": b, "r_x1": r, "r_y1": b,
                "r_x2": r, "r_y2": t, "r_x3": l, "r_y3": t}

    page = {"page_no": 2, "size": {"width": 595, "height": 842},
            "cells": [{"index": 7, "text": "Hello", "rect": rect(1, 2, 30, 12)},
                      {"text": "world", "rect": rect(31, 2, 60, 12)}],
            "predictions": {"layout": {"clusters": [
                {"id": 4, "label": "text", "confidence": 0.75,
                 "bbox": {"l": 0.5, "t": 1, "r": 61, "b": 13}},
                {"bbox": {"l": 0, "t": 0, "r": 1, "b": 1}}]}}}
    assert page_payload(page) == json.dumps({
        "page_no": 2, "width": 595.0, "height": 842.0,
        "cells": [
            {"index": 7, "text": "Hello", "l": 1, "t": 2, "r": 30, "b": 12},
            {"index": 1, "text": "world", "l": 31, "t": 2, "r": 60,
             "b": 12}],
        "clusters": [
            {"id": 4, "label": "text", "confidence": 0.75,
             "l": 0.5, "t": 1, "r": 61, "b": 13},
            {"id": 1, "label": "text", "confidence": 1.0,
             "l": 0, "t": 0, "r": 1, "b": 1}]})
    # no predictions: no clusters key
    page["predictions"] = None
    assert page_payload(page) == json.dumps({
        "page_no": 2, "width": 595.0, "height": 842.0,
        "cells": [
            {"index": 7, "text": "Hello", "l": 1, "t": 2, "r": 30, "b": 12},
            {"index": 1, "text": "world", "l": 31, "t": 2, "r": 60,
             "b": 12}]})


def test_page_udf_contains_null_and_sentinel_pages():
    """A NULL payload and an error sentinel each become that page's
    error; the page between them still parses."""
    from docling_spark.operators.extract import _parsed_page_rows
    payloads = [None, json.dumps(GEOMETRIC_PAGE),
                json.dumps({"page_no": 0, "pdfio_error": "bad xref"})]
    rows = [row for p in payloads for row in _parsed_page_rows(p)]
    blocks, headers, footers, errors, wall_us = map(list, zip(*rows))
    assert errors == [
        "JSONDecodeError: Expecting value: line 1 column 1 (char 0)",
        None, "ValueError: bad xref"]
    assert blocks == [
        [], [("text", "Left column"), ("text", "Right column")], []]
    assert headers == [[], ["Journal header"], []]
    assert footers == [[], ["Page 7"], []]
    assert all(isinstance(us, int) and us >= 0 for us in wall_us)

