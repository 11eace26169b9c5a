"""Page render + deterministic OCR (parsers/raster.py,
operators/render.py): atlas invariants, PNG codec conformance, exact
render→OCR round trips, clipping, and the Arrow path through Spark."""

import json
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from docling_spark.parsers.raster import (
    ADVANCE,
    ATLAS,
    GLYPH_H,
    GLYPH_W,
    ocr_page,
    png_decode,
    png_encode,
    render_page,
)


def _cells(lines, x=50.0, top=50.0, step=12.0):
    return [{"text": t, "l": x, "t": top + i * step,
             "r": 400.0, "b": top + i * step + 10.0}
            for i, t in enumerate(lines)]


def test_atlas_unique_and_anchored():
    pats = list(ATLAS.values())
    assert len(set(pats)) == len(pats)  # every glyph decodes uniquely
    assert ATLAS[" "] == bytes(GLYPH_H)
    for ch, g in ATLAS.items():
        if ch == " ":
            continue
        assert g[0] & 0x10, ch        # top-left pixel pins the window
        assert g[GLYPH_H - 1] == 0x1F  # solid baseline row


def test_png_roundtrip_random():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(33, 41)).astype(np.uint8)
    data = png_encode(img)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    out = png_decode(data)
    assert out.dtype == np.uint8 and (out == img).all()


def test_png_validates_against_repo_header_parser():
    from docling_spark.operators.multimodal import parse_image_header
    img, _ = render_page(612.0, 792.0, _cells(["hi"]))
    assert parse_image_header(png_encode(img)) == (612, 792, "image/png")


def test_roundtrip_exact_all_printable():
    # every atlas glyph survives the full cycle, incl. '?' itself
    lines = ["".join(chr(c) for c in range(0x21, 0x40)),
             "".join(chr(c) for c in range(0x40, 0x60)),
             "".join(chr(c) for c in range(0x60, 0x7F))]
    img, drawn = render_page(612.0, 792.0, _cells(lines))
    assert drawn == sum(len(ln) for ln in lines)
    rec = ocr_page(img)
    assert [c["text"] for c in rec] == lines


def test_roundtrip_spaces_and_bbox():
    img, _ = render_page(612.0, 792.0, _cells(["a  b   c", "one two"]))
    rec = ocr_page(img)
    assert [c["text"] for c in rec] == ["a  b   c", "one two"]
    assert rec[0]["l"] == pytest.approx(50.0)
    assert rec[0]["t"] == pytest.approx(50.0)
    assert rec[1]["t"] == pytest.approx(62.0)
    assert rec[0]["r"] == pytest.approx(
        50.0 + 7 * ADVANCE + GLYPH_W)


def test_roundtrip_fuzz_words():
    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.,;!?"
    lines = [" ".join("".join(rng.choice(alpha)
                              for _ in range(rng.randint(1, 8)))
                      for _ in range(rng.randint(1, 6)))
             for _ in range(40)]
    img, _ = render_page(612.0, 792.0, _cells(lines))
    rec = ocr_page(img)
    assert [c["text"] for c in rec] == lines


def test_clipping_skips_whole_glyphs():
    # word straddling the right edge: glyphs past the edge are skipped
    cells = [{"text": "wide", "l": 612.0 - 2 * ADVANCE - 1.0,
              "t": 50.0, "r": 612.0, "b": 60.0}]
    img, drawn = render_page(612.0, 792.0, cells)
    assert drawn == 2  # 'w','i' fit; 'd','e' clipped whole
    rec = ocr_page(img)
    assert rec[0]["text"] == "wi"


def test_dpi_scales_pixels_and_bboxes():
    img, _ = render_page(612.0, 792.0, _cells(["zoom"]), dpi=144.0)
    assert img.shape == (1584, 1224)
    rec = ocr_page(img, dpi=144.0)
    # glyph grid is pixel-pitch, so at 2x the text splits per glyph —
    # geometry (points) must still map back to the cell origin
    assert rec[0]["l"] == pytest.approx(50.0, abs=0.5)
    assert rec[0]["t"] == pytest.approx(50.0, abs=0.5)


def test_spark_render_ocr_roundtrip(spark):
    from docling_spark.operators.render import ocr_pages, render_pages
    rows = []
    for d in range(6):
        words = [f"w{d}x{i}" for i in range(d + 3)]
        spans = []
        for pno in range(2):
            half = words[:len(words) // 2] if pno == 0 \
                else words[len(words) // 2:]
            payload = {
                "page_no": pno, "width": 612.0, "height": 792.0,
                "cells": [{"index": i, "text": w, "l": 50.0,
                           "t": 50.0 + i * 12.0, "r": 400.0,
                           "b": 60.0 + i * 12.0}
                          for i, w in enumerate(half)],
            }
            spans.append(("pdf_page", json.dumps(payload), "", pno))
        rows.append((str(d), spans))
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    imgs = render_pages(df)
    got = (ocr_pages(imgs.select("doc_id", "page_no", "png"))
           .orderBy("doc_id", "page_no").collect())
    assert len(got) == 12
    for r in got:
        d = int(r.doc_id)
        words = [f"w{d}x{i}" for i in range(d + 3)]
        half = words[:len(words) // 2] if r.page_no == 0 \
            else words[len(words) // 2:]
        assert r.text == " ".join(half)
        assert r.n_cells == len(half)


def test_render_meta_columns(spark):
    from docling_spark.operators.render import render_pages
    payload = {"page_no": 0, "width": 306.0, "height": 396.0,
               "cells": [{"index": 0, "text": "abc", "l": 10.0,
                          "t": 10.0, "r": 100.0, "b": 20.0}]}
    df = spark.createDataFrame(
        [("0", [("pdf_page", json.dumps(payload), "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    row = render_pages(df, dpi=72.0).collect()[0]
    assert (row.width_px, row.height_px) == (306, 396)
    assert row.n_cells == 1 and row.n_glyphs == 3
    assert bytes(row.png)[:8] == b"\x89PNG\r\n\x1a\n"


def test_roundtrip_fuzz_random_gaps_same_line():
    """Segmentation stress for the batched glyph decoder: several
    words per line at RANDOM x positions (arbitrary inter-word gaps,
    not the renderer's uniform space advance). Property: per line, the
    recognized text with spaces removed equals the drawn glyph
    sequence, and recognized word count never exceeds what the gap
    rule can merge (adjacent words can fuse only when the gap is
    sub-space width, never reorder or drop)."""
    rng = random.Random(1234)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    for _ in range(15):
        cells = []
        per_line = []
        y = 40.0
        for _line in range(12):
            x = float(rng.randint(0, 60))
            words = []
            while True:
                w = "".join(rng.choice(alpha)
                            for _ in range(rng.randint(1, 8)))
                if x + len(w) * ADVANCE > 560:
                    break
                cells.append({"text": w, "l": x, "t": y,
                              "r": x + len(w) * ADVANCE, "b": y + 10})
                words.append(w)
                x += len(w) * ADVANCE + rng.randint(2, 60)
            per_line.append("".join(words))
            y += 14.0
        img, drawn = render_page(612.0, 792.0, cells)
        assert drawn == sum(len(s) for s in per_line)
        rec = ocr_page(img)
        got_lines = [c["text"].replace(" ", "") for c in rec]
        assert got_lines == [s for s in per_line if s]


def test_render_pages_skips_pages_that_do_not_decode(spark):
    """A page payload that does not decode gives no row, and the task
    goes on to render the next doc's page."""
    from docling_spark.operators.render import render_pages
    payload = {"page_no": 2, "width": 306.0, "height": 396.0,
               "cells": [{"index": 0, "text": "abc", "l": 10.0,
                          "t": 10.0, "r": 100.0, "b": 20.0}]}
    df = spark.createDataFrame(
        [("bad", [("pdf_page", "not json", "", 0)]),
         ("good", [("pdf_page", json.dumps(payload), "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>").coalesce(1)
    rows = render_pages(df).collect()
    assert [(r.doc_id, r.page_no, r.n_cells, r.n_glyphs)
            for r in rows] == [("good", 2, 1, 3)]
    img, _ = render_page(306.0, 396.0, payload["cells"])
    assert bytes(rows[0].png) == png_encode(img)


def _plan_src(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, width double, height double, "
              "rects array<struct<l double, t double, r double, "
              "b double>>")


def test_plan_ocr_empty_rects_sentinel(spark):
    from docling_spark.operators.render import plan_ocr
    out = plan_ocr(_plan_src(spark, [("d", 100.0, 100.0, [])])).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["region_id"], r["n_regions"], r["coverage_e4"]) == (-1, 0, 0)


def test_plan_ocr_three_decisions(spark):
    from docling_spark.operators.render import plan_ocr
    out = plan_ocr(_plan_src(spark, [
        # full-page: coverage 1.0 > 0.75
        ("full", 100.0, 100.0, [(0.0, 0.0, 99.0, 99.0)]),
        # component boxes: one 30x30 rect dilated to 49x49 on 200x200
        # (dilation reach: -10 rows/cols before, +9 after)
        ("comp", 200.0, 200.0, [(50.0, 50.0, 79.0, 79.0)]),
        # below area threshold: 2x2 rect dilated to 21x21 on 300x300
        ("none", 300.0, 300.0, [(150.0, 150.0, 151.0, 151.0)]),
    ])).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    full, = by_doc["full"]
    assert (full["l"], full["t"], full["r"], full["b"]) == (0, 0, 100, 100)
    assert full["coverage_e4"] == 10000
    comp, = by_doc["comp"]
    assert (comp["l"], comp["t"], comp["r"], comp["b"]) == (40, 40, 88, 88)
    assert comp["n_regions"] == 1
    none, = by_doc["none"]
    assert none["region_id"] == -1 and none["n_regions"] == 0
    # 21x21 dilated px on 90000 → 49 e4-units
    assert none["coverage_e4"] == 49


def _rec_src(spark, rows):
    cell_t = ("array<struct<l double, t double, r double, b double, "
              "text string>>")
    return spark.createDataFrame(
        rows, f"doc_id string, prog {cell_t}, ocr {cell_t}")


def test_reconcile_ocr_no_programmatic_keeps_all(spark):
    from docling_spark.operators.render import reconcile_ocr
    ocr = [(0.0, 0.0, 5.0, 5.0, "a"), (10.0, 10.0, 15.0, 15.0, "b")]
    out = reconcile_ocr(_rec_src(spark, [("d", [], ocr)])).collect()
    assert [(r["cell_rank"], r["origin"], r["text"]) for r in
            sorted(out, key=lambda r: r["cell_rank"])] == [
        (0, "ocr", "a"), (1, "ocr", "b")]


def test_reconcile_ocr_touching_edges_intersect(spark):
    from docling_spark.operators.render import reconcile_ocr
    # shares only the x=10 edge with prog → still dropped (<=, not <)
    out = reconcile_ocr(_rec_src(spark, [
        ("d", [(0.0, 0.0, 10.0, 10.0, "P")],
         [(10.0, 0.0, 20.0, 10.0, "edge"),
          (10.1, 0.0, 20.0, 10.0, "clear")]),
    ])).collect()
    texts = [r["text"] for r in sorted(out, key=lambda r: r["cell_rank"])]
    assert texts == ["P", "clear"]
