"""Native PDF parsing as a Spark stage: raw PDF bytes → text cells via
the from-scratch reader (parsers/pdfio.py), Arrow-batched.

Fills SURVEY §2.3 "native PDF parse" (the reference routes PDFs to the
docling-parse native library via backend/docling_parse_v4_backend.py;
this engine parses the file format itself — see pdfio.py — so raw
bytes → runs → line cells → the existing paged pipeline is a complete
in-repo path with no native dependency).

Scale shape: both stages are zero-shuffle mapInPandas over whatever
partitioning the corpus already has; at 100 TB the only knobs that
matter are input split size and maxRecordsPerBatch (PDF blobs are
KB..MB — keep batches small enough that a batch of blobs fits the
Arrow buffer).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

PDF_TEXT_DDL = ("doc_id string, n_pages int, n_cells int, text string")
SYNTH_SPLIT_AT = 250    # synth_pdf_docs: page 0 holds the first 250 chars
SYNTH_MAX_WORDS = 40    # synth_pdf_word_docs: words kept per document


def _synth_pdfs(df: DataFrame, cols: tuple, build) -> DataFrame:
    """(doc_id, *cols) → (doc_id, pdf:binary): one PDF per row, its
    bytes ``build(*row[cols])``. The one Arrow stage behind every
    ``synth_pdf_*_docs``; no shuffle."""
    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = [build(*row) for row in zip(*(pdf[c] for c in cols))]
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "pdf": pd.Series(blobs, dtype=object)})

    return df.mapInPandas(synth, schema="doc_id string, pdf binary")


def synth_pdf_docs(df: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, pdf:binary): deterministic two-page
    PDF per doc (text split at ``SYNTH_SPLIT_AT`` chars), real xref +
    FlateDecode streams."""
    from docling_spark.sources.pdfsynth import synth_pdf

    def build(text) -> bytes:
        t = str(text)
        return synth_pdf([t[:SYNTH_SPLIT_AT], t[SYNTH_SPLIT_AT:]])

    return _synth_pdfs(df, ("text",), build)


def synth_pdf_word_docs(df: DataFrame) -> DataFrame:
    """(doc_id, words:array<string>) → (doc_id, pdf:binary): two-page
    PDF, one word per 14pt-spaced line, the first ``SYNTH_MAX_WORDS``
    words with ceil(n/2) of them on page 0 — the same corpus shape
    corpus_pdf_pages synthesizes as structured payloads, but as
    genuine PDF bytes."""
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    def build(words) -> bytes:
        ws = list(words)[:SYNTH_MAX_WORDS]
        half = (len(ws) + 1) // 2
        return synth_pdf_pages([ws[:half], ws[half:]])

    return _synth_pdfs(df, ("words",), build)


def pdf_to_page_spans(df: DataFrame) -> DataFrame:
    """(doc_id, pdf:binary) → (doc_id, spans[kind=pdf_page]): the
    bridge from raw PDF bytes to the engine's page-parallel pipeline.
    pdfio parses each document's bytes into per-page line cells and
    each page becomes one span whose text is the structured-page JSON
    payload (parsers/pdf_page.encode_page) parse_pdf_pages consumes —
    so raw bytes → native parse → merge/layout/assembly/reading-order is
    a complete in-repo path with no native library. Zero-shuffle Arrow
    stage; downstream extract_spans_paged explodes pages itself.

    Corrupt or page-less documents emit ONE sentinel pdf_page span
    (parsers/pdf_page.error_page) carrying the error; parse_page raises
    on it, so the paged path's existing per-page error containment
    converts the document to a FAILURE row with the real message —
    same Arrow stage, no second parse pass, nothing silently dropped
    (mirrors the reference's ConversionStatus.FAILURE on backend
    parse errors, datamodel/document.py:130-165)."""
    from docling_spark.parsers.pdf_page import encode_page, error_page
    from docling_spark.parsers.pdfio import extract_pdf_cells

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "spans": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                err = None
                try:
                    pages = extract_pdf_cells(bytes(blob))
                    if not pages:
                        err = "no pages parsed"
                except Exception as exc:
                    err = f"{type(exc).__name__}: {exc}"[:300]
                out["doc_id"].append(doc_id)
                if err is not None:
                    out["spans"].append(
                        [("pdf_page", error_page(err), "", 0)])
                    continue
                out["spans"].append([
                    ("pdf_page",
                     encode_page(off, page["width"], page["height"],
                                 ((i, c["text"], c["x0"], c["y0"],
                                   c["x1"], c["y1"])
                                  for i, c in enumerate(page["cells"]))),
                     "", off)
                    for off, page in enumerate(pages)])
            yield pd.DataFrame(out)

    return df.mapInPandas(
        batches,
        schema=("doc_id string, spans array<struct<kind:string,"
                "text:string,media_ref:string,offset:int>>"))


def parse_pdf_native(df: DataFrame) -> DataFrame:
    """(doc_id, pdf:binary) → (doc_id, n_pages, n_cells, text): parse
    the raw bytes with pdfio, assemble line cells per page, join all
    cell texts with single spaces (reading order: page, then y, x).
    Pure Arrow stage, no shuffle; per-doc errors yield n_pages = -1
    rather than failing the batch."""
    from docling_spark.parsers.pdfio import extract_pdf_cells

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "n_pages": [], "n_cells": [],
                    "text": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                try:
                    pages = extract_pdf_cells(bytes(blob))
                    texts = [c["text"].strip() for p in pages
                             for c in p["cells"] if c["text"].strip()]
                    rows["doc_id"].append(doc_id)
                    rows["n_pages"].append(len(pages))
                    rows["n_cells"].append(len(texts))
                    rows["text"].append(" ".join(texts))
                except Exception:
                    rows["doc_id"].append(doc_id)
                    rows["n_pages"].append(-1)
                    rows["n_cells"].append(0)
                    rows["text"].append("")
            yield pd.DataFrame(rows)

    return df.mapInPandas(batches, schema=PDF_TEXT_DDL)


PDF_OUTLINE_DDL = ("doc_id string, idx int, level int, title string, "
                   "page_no int")


def synth_pdf_outline_docs(df: DataFrame) -> DataFrame:
    """(doc_id, pages:array<array<string>>, outline:array<struct<
    level:int,title:string,page_idx:int>>) → (doc_id, pdf:binary) —
    real two-page PDFs carrying a genuine §12.3.3 outline tree
    (linked /First//Next items, /Parent back-refs, explicit /Dest
    arrays)."""
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    def build(pages, outline) -> bytes:
        entries = [(int(e["level"]), str(e["title"]), int(e["page_idx"]))
                   for e in outline]
        return synth_pdf_pages([list(p) for p in pages], outline=entries)

    return _synth_pdfs(df, ("pages", "outline"), build)


def pdf_outline(df: DataFrame) -> DataFrame:
    """(doc_id, pdf:binary) → one row per bookmark: (doc_id, idx,
    level, title, page_no) in pre-order (parsers/pdfio.py::
    extract_outline — /Outlines tree walk with cycle guard, /Dest and
    GoTo-action page resolution). The author-provided section
    hierarchy, free at parse time — the structural prior layout
    analysis otherwise has to re-infer. Zero-shuffle mapInPandas on
    the corpus partitioning; PDFs with no outline emit no rows."""
    from docling_spark.parsers.pdfio import extract_outline

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                if blob is None:
                    continue
                try:
                    entries = extract_outline(bytes(blob))
                except Exception:
                    continue   # corrupt bytes must not kill the batch
                for e in entries:
                    rows.append((doc_id, e["idx"], e["level"],
                                 e["title"], e["page_no"]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "idx", "level", "title",
                               "page_no"])

    return df.mapInPandas(batches, schema=PDF_OUTLINE_DDL)


PDF_LINKS_DDL = ("doc_id string, page_no int, link_idx int, "
                 "url string, l double, t double, r double, b double")


def synth_pdf_link_docs(df: DataFrame) -> DataFrame:
    """(doc_id, pages:array<array<string>>, links:array<struct<
    page_idx:int,url:string>>) → (doc_id, pdf:binary) — real per-page
    /Annots arrays of §12.5.6.5 /Link annotations with /A URI
    actions."""
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    def build(pages, links) -> bytes:
        entries = [(int(e["page_idx"]), str(e["url"])) for e in links]
        return synth_pdf_pages([list(p) for p in pages], links=entries)

    return _synth_pdfs(df, ("pages", "links"), build)


def pdf_links(df: DataFrame) -> DataFrame:
    """(doc_id, pdf:binary) → one row per URI link annotation:
    (doc_id, page_no, link_idx, url, l, t, r, b) in page-then-array
    order (parsers/pdfio.py::extract_pdf_links). URLs embedded in
    PDFs are a real outlink source the HTML-only link graph misses —
    this relation unions with html_links into the same host-graph /
    frontier rollups. Zero-shuffle mapInPandas; PDFs without
    annotations emit no rows, corrupt blobs are skipped."""
    from docling_spark.parsers.pdfio import extract_pdf_links

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                if blob is None:
                    continue
                try:
                    entries = extract_pdf_links(bytes(blob))
                except Exception:
                    continue
                for e in entries:
                    rows.append((doc_id, e["page_no"], e["link_idx"],
                                 e["url"], e["l"], e["t"], e["r"],
                                 e["b"]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "page_no", "link_idx", "url",
                               "l", "t", "r", "b"])

    return df.mapInPandas(batches, schema=PDF_LINKS_DDL)
