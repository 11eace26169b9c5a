"""Unit tests for the NN-free PDF page path: fragment merge (exact
port of pypdfium2_backend.py:110-198), sanitize
(page_assemble_model.py:32-63), column-aware reading order, and
header/footer furniture suppression."""

import json

from pyspark.sql import functions as F

from docling_spark.doctree import flatten
from docling_spark.parsers.pdf_page import (
    Cell,
    merge_horizontal_cells,
    parse_page,
    parse_pdf_pages,
    sanitize_text,
)


def _cell(i, text, l, t, r, b):
    return {"index": i, "text": text, "l": l, "t": t, "r": r, "b": b}


def _page(cells, page_no=0, width=612.0, height=792.0):
    return json.dumps({"page_no": page_no, "width": width,
                       "height": height, "cells": cells})


# -- fragment merge ---------------------------------------------------------


def test_merge_subword_fragments():
    # "Hel" "lo" " wo" "rld" at sub-word granularity, height 10
    cells = [
        Cell(1, "Hel", 10, 100, 25, 110),
        Cell(2, "lo", 25.5, 100, 33, 110),
        Cell(3, " wo", 34, 100, 50, 110),
        Cell(4, "rld", 50.2, 100, 64, 110),
    ]
    merged = merge_horizontal_cells(cells)
    assert len(merged) == 1
    assert merged[0].text == "Hello world"
    assert (merged[0].l, merged[0].r) == (10, 64)


def test_merge_respects_horizontal_gap():
    # gap (15) > avg height (10) → two cells (columns on the same row)
    cells = [
        Cell(1, "left", 10, 100, 50, 110),
        Cell(2, "right", 65, 100, 100, 110),
    ]
    merged = merge_horizontal_cells(cells)
    assert [c.text for c in merged] == ["left", "right"]


def test_merge_rows_by_vertical_overlap():
    # second cell 12pt lower than the 10pt-high row → new row
    cells = [
        Cell(1, "line1", 10, 100, 50, 110),
        Cell(2, "line2", 10, 112, 50, 122),
    ]
    merged = merge_horizontal_cells(cells)
    assert [c.text for c in merged] == ["line1", "line2"]
    assert [c.index for c in merged] == [1, 2]  # re-indexed 1-based


# -- sanitize ---------------------------------------------------------------


def test_sanitize_dehyphenation():
    assert sanitize_text(["experi-", "ment works"]) == "experiment works"


def test_sanitize_keeps_hyphen_before_nonalnum():
    # next line starts with punctuation-only word list → no word match
    assert sanitize_text(["state-", "of-the-art"]) == "stateof-the-art"
    assert sanitize_text(["ends-", "…"]) == "ends-…"


def test_sanitize_joins_with_space_and_normalizes():
    assert sanitize_text(["a “quote”", "and ‘more’"]) == 'a "quote" and \'more\''
    # single-line early return skips normalization (reference behavior,
    # page_assemble_model.py:33-34)
    assert sanitize_text(["• item ⁄ half"]) == "• item ⁄ half"
    assert sanitize_text(["• item x", "y ⁄ half"]) == "· item x y / half"


# -- page parse: columns, blocks, furniture ---------------------------------


def test_two_column_reading_order():
    cells = [
        _cell(1, "L1", 50, 100, 250, 110),
        _cell(2, "R1", 350, 100, 550, 110),
        _cell(3, "L2", 50, 112, 250, 122),
        _cell(4, "R2", 350, 112, 550, 122),
    ]
    page = parse_page(_page(cells))
    # left column fully before right column
    assert page["blocks"] == ["L1 L2", "R1 R2"]


def test_block_split_on_vertical_gap():
    cells = [
        _cell(1, "para1 line1", 50, 100, 400, 110),
        _cell(2, "para1 line2", 50, 112, 400, 122),
        _cell(3, "para2 line1", 50, 180, 400, 190),
    ]
    page = parse_page(_page(cells))
    assert page["blocks"] == ["para1 line1 para1 line2", "para2 line1"]


def test_header_footer_furniture():
    cells = [
        _cell(1, "Journal header", 50, 5, 400, 20),     # top 5% of 792
        _cell(2, "Body text", 50, 100, 400, 110),
        _cell(3, "Page 7", 280, 760, 330, 780),          # bottom margin
    ]
    page = parse_page(_page(cells))
    assert page["blocks"] == ["Body text"]
    assert page["headers"] == ["Journal header"]
    assert page["footers"] == ["Page 7"]

    tree = parse_pdf_pages([_page(cells)])
    spans = flatten(tree)
    # furniture excluded from the body span sequence
    assert [s["text"] for s in spans] == ["Body text"]
    assert spans[0]["kind"] == "text"


def test_control_char_and_page_order():
    p0 = _page([_cell(1, "soft\x02hyphen", 50, 100, 400, 110)], page_no=0)
    p1 = _page([_cell(1, "second page", 50, 100, 400, 110)], page_no=1)
    spans = flatten(parse_pdf_pages([p0, p1]))
    assert [s["text"] for s in spans] == ["soft-hyphen", "second page"]
    assert [s["offset"] for s in spans] == [0, 1]


def test_page_dump_rows(spark):
    from docling_spark.operators.extract import page_dump
    from docling_spark.sources.corpus import corpus_pdf_pages
    corpus = corpus_pdf_pages(spark, "/root/testdata/sf0.001")
    full = page_dump(corpus)
    rows = full.limit(500).collect()
    assert rows and all(r["error"] is None for r in rows)
    assert all(r["n_blocks"] >= 1 for r in rows)
    # page_range as the caller-side filter MIGRATION.md gives: only
    # page 0 survives, and the span filter's offset bound sits in the
    # projection under the Python node, so it runs before the UDF
    only_p0 = page_dump(corpus.withColumn("spans", F.filter(
        "spans", lambda s: (s.kind != "pdf_page")
        | s.offset.between(0, 0))))
    pages = {r["page_no"] for r in only_p0.limit(500).collect()}
    assert pages == {0}
    plan = only_p0._jdf.queryExecution().optimizedPlan().toString()
    assert "offset <= 0" in plan[plan.index("MapInPandas"):]


def test_table_grid_from_cells():
    from docling_spark.doctree import serialize_table
    from docling_spark.parsers.pdf_page import Cell, table_grid_from_cells
    # 2x3 grid: two rows of three cells with clear column gutters
    cells = [
        Cell(0, "H1", 10, 10, 50, 20), Cell(1, "H2", 70, 10, 110, 20),
        Cell(2, "H3", 130, 10, 170, 20),
        Cell(3, "a", 10, 30, 50, 40), Cell(4, "b", 70, 30, 110, 40),
        Cell(5, "c", 130, 30, 170, 40),
    ]
    grid = table_grid_from_cells(cells)
    assert (grid.num_rows, grid.num_cols) == (2, 3)
    assert serialize_table(grid) == \
        "2x3\nH1\tH2\tH3\na\tb\tc\nH:1\t1\t1"


def test_model_driven_table_block():
    import json
    from docling_spark.doctree import flatten
    from docling_spark.parsers.pdf_page import parse_pdf_pages
    payload = json.dumps({
        "page_no": 0, "width": 612.0, "height": 792.0,
        "cells": [
            {"index": 0, "text": "K", "l": 50, "t": 50, "r": 90, "b": 60},
            {"index": 1, "text": "V", "l": 120, "t": 50, "r": 160, "b": 60},
            {"index": 2, "text": "k2", "l": 50, "t": 70, "r": 90, "b": 80},
            {"index": 3, "text": "v2", "l": 120, "t": 70, "r": 160, "b": 80},
        ],
        "clusters": [{"id": 1, "label": "table", "confidence": 0.95,
                      "l": 45, "t": 45, "r": 165, "b": 85}],
    })
    spans = flatten(parse_pdf_pages([payload]))
    assert [s["kind"] for s in spans] == ["table"]
    assert spans[0]["text"] == "2x2\nK\tV\nk2\tv2\nH:1\t1"


def test_typed_blocks_survive_paged_reassembly(spark):
    """A table (and heading) detected on a page keeps its kind — and
    the serialized cell grid — through explode → page UDF →
    groupBy(doc_id) reassembly (extract_spans_paged)."""
    from docling_spark.operators.extract import extract_spans_paged
    from docling_spark.schema import INPUT_SCHEMA

    p0 = json.dumps({
        "page_no": 0, "width": 612.0, "height": 792.0,
        "cells": [
            {"index": 0, "text": "Heading", "l": 50, "t": 50, "r": 200,
             "b": 60},
            {"index": 1, "text": "K", "l": 50, "t": 100, "r": 90, "b": 110},
            {"index": 2, "text": "V", "l": 120, "t": 100, "r": 160,
             "b": 110},
            {"index": 3, "text": "k2", "l": 50, "t": 120, "r": 90, "b": 130},
            {"index": 4, "text": "v2", "l": 120, "t": 120, "r": 160,
             "b": 130},
        ],
        "clusters": [
            {"id": 1, "label": "section_header", "confidence": 0.9,
             "l": 45, "t": 45, "r": 205, "b": 65},
            {"id": 2, "label": "table", "confidence": 0.95,
             "l": 45, "t": 95, "r": 165, "b": 135},
        ],
    })
    p1 = json.dumps({
        "page_no": 1, "width": 612.0, "height": 792.0,
        "cells": [{"index": 0, "text": "plain page", "l": 50, "t": 100,
                   "r": 400, "b": 110}],
    })
    df = spark.createDataFrame(
        [("d1", [("pdf_page", p0, "", 0), ("pdf_page", p1, "", 1)])],
        schema=INPUT_SCHEMA)
    out = extract_spans_paged(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row["status"] == "success"
    assert row["errors"] == []
    assert row["wall_us"] > 0
    spans = [(s["kind"], s["text"], s["offset"]) for s in row["spans"]]
    assert spans == [
        ("section_header", "Heading", 0),
        ("table", "2x2\nK\tV\nk2\tv2\nH:1\t1", 1),
        ("text", "plain page", 2),
    ]


def test_paged_status_contract(spark):
    """Failure contract parity with the doc path: all pages bad ⇒
    FAILURE with spans == []; some pages bad ⇒ PARTIAL with the
    surviving spans; per-page error messages and summed wall_us are
    preserved (component lineage)."""
    from docling_spark.operators.extract import extract_spans_paged
    from docling_spark.schema import INPUT_SCHEMA

    good = json.dumps({
        "page_no": 0, "width": 612.0, "height": 792.0,
        "cells": [{"index": 0, "text": "ok words", "l": 50, "t": 100,
                   "r": 400, "b": 110}]})
    bad = "{not json"
    df = spark.createDataFrame(
        [("all_bad", [("pdf_page", bad, "", 0)]),
         ("mixed", [("pdf_page", good, "", 0), ("pdf_page", bad, "", 1)]),
         ("all_good", [("pdf_page", good, "", 0)])],
        schema=INPUT_SCHEMA)
    rows = {r["doc_id"]: r for r in extract_spans_paged(df).collect()}

    assert rows["all_bad"]["status"] == "failure"
    assert rows["all_bad"]["spans"] == []
    assert len(rows["all_bad"]["errors"]) == 1
    assert rows["all_bad"]["errors"][0]["module"] == "pdf_page"
    assert "page 0" in rows["all_bad"]["errors"][0]["message"]

    assert rows["mixed"]["status"] == "partial_success"
    assert [s["text"] for s in rows["mixed"]["spans"]] == ["ok words"]
    assert len(rows["mixed"]["errors"]) == 1
    assert "page 1" in rows["mixed"]["errors"][0]["message"]

    assert rows["all_good"]["status"] == "success"
    assert rows["all_good"]["errors"] == []
    for r in rows.values():
        assert r["wall_us"] > 0


def test_max_num_pages_gate(spark):
    """DocumentLimits.max_num_pages parity (reference
    datamodel/document.py:159, settings.py:22-25): a document whose
    page count exceeds the limit emits ONE FAILURE row with a limits
    error and spans == [] — and its pages are excluded from the page
    UDF by a pure-Catalyst predicate, so a payload that would crash
    the parser never runs."""
    from docling_spark.operators.extract import extract_spans_paged
    from docling_spark.schema import INPUT_SCHEMA

    good = json.dumps({
        "page_no": 0, "width": 612.0, "height": 792.0,
        "cells": [{"index": 0, "text": "ok words", "l": 50, "t": 100,
                   "r": 400, "b": 110}]})
    # over-limit doc carries a poison page: if the gate ever leaked it
    # into the UDF the doc would come back PARTIAL, not FAILURE-by-limits
    poison = "{not json"
    df = spark.createDataFrame(
        [("small", [("pdf_page", good, "", 0)]),
         ("big", [("pdf_page", good, "", 0), ("pdf_page", good, "", 1),
                  ("pdf_page", poison, "", 2)])],
        schema=INPUT_SCHEMA)
    rows = {r["doc_id"]: r
            for r in extract_spans_paged(df, max_num_pages=2).collect()}

    assert rows["small"]["status"] == "success"
    assert [s["text"] for s in rows["small"]["spans"]] == ["ok words"]

    big = rows["big"]
    assert big["status"] == "failure"
    assert big["spans"] == []
    assert big["n_spans"] == 0
    assert len(big["errors"]) == 1
    assert big["errors"][0]["module"] == "limits"
    assert "max_num_pages" in big["errors"][0]["message"]
    assert "3 > 2" in big["errors"][0]["message"]

    # the gate predicate is Catalyst-side: the failure branch contains
    # no Python stage at all
    out = extract_spans_paged(df, max_num_pages=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    failed = {r["doc_id"]: r for r in out.collect()}
    assert all(r["status"] == "failure" for r in failed.values())


def _cells(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, page_no int, cell_index int, "
              "text string, l double, t double, r double, b double")


def test_text_in_rect_half_overlap_threshold(spark):
    from docling_spark.operators.extract import text_in_rect
    cells = _cells(spark, [
        ("d", 0, 0, "in", 0.0, 0.0, 10.0, 10.0),       # fully inside
        ("d", 0, 1, "edge", 5.0, 0.0, 15.0, 10.0),     # exactly half
        ("d", 0, 2, "mostly", 4.0, 0.0, 14.0, 10.0),   # 60% inside
        ("d", 0, 3, "out", 20.0, 0.0, 30.0, 10.0),
    ])
    rects = spark.createDataFrame(
        [(0, "d", 0, 0.0, 0.0, 10.0, 10.0)],
        "rect_id int, doc_id string, page_no int, "
        "l double, t double, r double, b double")
    out = text_in_rect(cells, rects).collect()
    # reference rule is STRICTLY more than half the cell's area:
    # the exactly-half cell is excluded, cell order is preserved
    assert [(r["rect_id"], r["text"]) for r in out] == [(0, "in mostly")]


def test_text_in_rect_empty_rect_row_present(spark):
    from docling_spark.operators.extract import text_in_rect
    cells = _cells(spark, [("d", 0, 0, "x", 0.0, 0.0, 1.0, 1.0)])
    rects = spark.createDataFrame(
        [(7, "d", 0, 50.0, 50.0, 60.0, 60.0),
         (8, "other", 0, 0.0, 0.0, 9.0, 9.0)],
        "rect_id int, doc_id string, page_no int, "
        "l double, t double, r double, b double")
    got = {r["rect_id"]: r["text"]
           for r in text_in_rect(cells, rects).collect()}
    assert got == {7: "", 8: ""}


def test_table_grid_with_spans_merged_header():
    from docling_spark.parsers.pdf_page import Cell, table_grid_with_spans
    cells = [Cell(0, "H", 0, 0, 100, 10),
             Cell(1, "a", 0, 20, 30, 30), Cell(2, "b", 35, 20, 65, 30),
             Cell(3, "c", 70, 20, 100, 30),
             Cell(4, "d", 0, 40, 65, 50), Cell(5, "e", 70, 40, 100, 50)]
    data = table_grid_with_spans(cells)
    assert (data.num_rows, data.num_cols) == (3, 3)
    by = {(c.start_row, c.start_col): c for c in data.cells}
    assert by[(0, 0)].col_span == 3 and by[(0, 0)].column_header
    assert by[(2, 0)].col_span == 2 and by[(2, 0)].row_span == 1
    assert by[(1, 1)].col_span == 1
    assert (2, 1) not in by          # covered by the d span


def test_table_grid_with_spans_vertical_merge():
    from docling_spark.parsers.pdf_page import Cell, table_grid_with_spans
    # V bridges rows 1-2 on the right; anchor-based rows survive the
    # bridged gutter (projection-gap rows would collapse to one row)
    cells = [Cell(0, "a", 0, 20, 30, 30), Cell(1, "v", 70, 20, 100, 50),
             Cell(2, "d", 0, 40, 30, 50)]
    data = table_grid_with_spans(cells)
    assert data.num_rows == 2
    by = {(c.start_row, c.start_col): c for c in data.cells}
    assert by[(0, 1)].row_span == 2
    assert by[(1, 0)].row_span == 1
