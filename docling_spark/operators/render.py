"""Page render + OCR as Spark stages (SURVEY §2.4 OCR engine slot,
§2.5 page render slot — see parsers/raster.py for the engine and the
honesty note on the synthetic glyph atlas).

The reference renders pages once per document conversion and hands
bitmaps to OCR/enrichment models
(`/root/reference/docling/backend/pdf_backend.py` `get_page_image`,
`/root/reference/docling/models/easyocr_model.py` et al.). Here both
directions are zero-shuffle Arrow stages over the page-payload corpus
shape the whole paged pipeline shares: pages are independent rows, so
at 100 TB the stage scales with input splits and the only knob is
Arrow batch size (PNG blobs are tens of KB — keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` modest so a batch of
bitmaps fits the buffer, the same sizing note as operators/pdfnative).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

RENDER_DDL = ("doc_id string, page_no int, width_px int, height_px int,"
              " n_cells int, n_glyphs int, png binary")
OCR_DDL = "doc_id string, page_no int, n_cells int, text string"
PLAN_DDL = ("doc_id string, region_id int, l int, t int, r int, b int,"
            " n_regions int, coverage_e4 int")
RECONCILE_DDL = ("doc_id string, cell_rank int, origin string,"
                 " l int, t int, r int, b int, text string")


def render_pages(df: DataFrame, dpi: float = 72.0) -> DataFrame:
    """(doc_id, spans[kind=pdf_page]) → one row per page:
    (doc_id, page_no, width_px, height_px, n_cells, n_glyphs,
    png:binary). Real PNG bytes (verifiable with any reader, including
    operators/multimodal.parse_image_header). A page that does not
    decode (parsers/pdf_page.decode_page) gives no row. Zero-shuffle
    Arrow stage; ``dpi`` mirrors the reference's ``images_scale``."""
    from docling_spark.parsers.pdf_page import decode_page
    from docling_spark.parsers.raster import png_encode, render_page

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "page_no": [], "width_px": [],
                   "height_px": [], "n_cells": [], "n_glyphs": [],
                   "png": []}
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                for span in spans:
                    if span["kind"] != "pdf_page":
                        continue
                    try:
                        page = decode_page(span["text"])
                    except Exception:
                        continue
                    img, drawn = render_page(
                        page.width, page.height,
                        [{"text": c.text, "l": c.l, "t": c.t}
                         for c in page.cells], dpi=dpi)
                    out["doc_id"].append(doc_id)
                    out["page_no"].append(page.page_no)
                    out["height_px"].append(img.shape[0])
                    out["width_px"].append(img.shape[1])
                    out["n_cells"].append(len(page.cells))
                    out["n_glyphs"].append(drawn)
                    out["png"].append(png_encode(img))
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=RENDER_DDL)


def ocr_pages(df: DataFrame, dpi: float = 72.0) -> DataFrame:
    """(doc_id, page_no, png) → (doc_id, page_no, n_cells, text): run
    the deterministic template-matching engine over each bitmap;
    ``text`` joins recognized line cells in reading order with single
    spaces. Zero-shuffle Arrow stage. ``dpi`` must match the render
    DPI (it only rescales the returned bboxes; recognition is
    pixel-space)."""
    from docling_spark.parsers.raster import ocr_page, png_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "page_no": [], "n_cells": [],
                   "text": []}
            for doc_id, page_no, blob in zip(
                    pdf["doc_id"], pdf["page_no"], pdf["png"]):
                cells = ocr_page(png_decode(bytes(blob)), dpi=dpi)
                out["doc_id"].append(doc_id)
                out["page_no"].append(int(page_no))
                out["n_cells"].append(len(cells))
                out["text"].append(" ".join(c["text"] for c in cells))
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=OCR_DDL)


def plan_ocr(df: DataFrame) -> DataFrame:
    """(doc_id, width, height, rects: array<struct l,t,r,b>) → the OCR
    region plan (parsers/ocr_plan.plan_ocr_regions; reference
    base_ocr_model.py:36-106): one row per planned region with its
    integer bbox, plus the page's dilated-bitmap coverage (coverage_e4
    = round(coverage·10⁴) — exact, every mask is pixel-integral). A
    page whose coverage stays under the area threshold plans NO OCR;
    it still emits one ``region_id = -1`` sentinel row so the decision
    is positively visible downstream (and to the driver oracle), not
    just an absence. Zero-shuffle Arrow stage: pages are independent,
    the mask work is per-row NumPy, and at 100 TB the stage scales
    with input splits exactly like render_pages above."""
    from docling_spark.parsers.ocr_plan import plan_ocr_regions_cov

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "region_id": [], "l": [], "t": [],
                   "r": [], "b": [], "n_regions": [],
                   "coverage_e4": []}
            for doc_id, width, height, rects in zip(
                    pdf["doc_id"], pdf["width"], pdf["height"],
                    pdf["rects"]):
                w, h = float(width), float(height)
                boxes = [(float(rc["l"]), float(rc["t"]),
                          float(rc["r"]), float(rc["b"]))
                         for rc in rects]
                regions, cov = plan_ocr_regions_cov(w, h, boxes)
                rows = regions or [(0.0, 0.0, 0.0, 0.0)]
                for i, (l, t, r, b) in enumerate(rows):
                    out["doc_id"].append(doc_id)
                    out["region_id"].append(-1 if not regions else i)
                    out["l"].append(int(round(l)))
                    out["t"].append(int(round(t)))
                    out["r"].append(int(round(r)))
                    out["b"].append(int(round(b)))
                    out["n_regions"].append(len(regions))
                    out["coverage_e4"].append(int(round(cov * 1e4)))
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=PLAN_DDL)


def reconcile_ocr(df: DataFrame) -> DataFrame:
    """(doc_id, prog: array<struct l,t,r,b,text>, ocr: same) → the
    reconciled cell list (parsers/ocr_plan.reconcile_cells; reference
    base_ocr_model.py:109-144): every OCR cell whose bbox intersects
    any programmatic cell is dropped, survivors append after the
    programmatic cells; ``cell_rank`` is the final order and
    ``origin`` says which side each cell came from. Zero-shuffle
    Arrow stage."""
    from types import SimpleNamespace

    from docling_spark.parsers.ocr_plan import reconcile_cells

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "cell_rank": [], "origin": [],
                   "l": [], "t": [], "r": [], "b": [], "text": []}
            for doc_id, prog, ocr in zip(
                    pdf["doc_id"], pdf["prog"], pdf["ocr"]):
                def _cells(arr, origin):
                    return [SimpleNamespace(
                        l=float(c["l"]), t=float(c["t"]),
                        r=float(c["r"]), b=float(c["b"]),
                        text=str(c["text"]), origin=origin)
                        for c in arr]
                merged = reconcile_cells(_cells(ocr, "ocr"),
                                         _cells(prog, "prog"))
                for rank, c in enumerate(merged):
                    out["doc_id"].append(doc_id)
                    out["cell_rank"].append(rank)
                    out["origin"].append(c.origin)
                    out["l"].append(int(round(c.l)))
                    out["t"].append(int(round(c.t)))
                    out["r"].append(int(round(c.r)))
                    out["b"].append(int(round(c.b)))
                    out["text"].append(c.text)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=RECONCILE_DDL)
