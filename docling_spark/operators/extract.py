"""The extraction operator: interleaved (doc_id, spans) → ordered output
spans, Arrow-batched.

Spark-first re-expression of the reference's convert path
(/root/reference/docling/document_converter.py:194-357 +
pipeline/simple_pipeline.py:26-48): format routing becomes a dispatch
dict inside one `mapInPandas` stage; per-document error containment
mirrors the raises_on_error=False path (document_converter.py:303-326)
as status/errors columns; the size gate (datamodel/document.py:130-162)
and allowed-format filter (document_converter.py:307-309) run as plain
Catalyst predicates *before* the UDF so pushdown/pruning stay free.

All per-row logic is inside Arrow batches (north rule): the driver path
never touches Python rows.
"""

from __future__ import annotations

import functools
import time
from typing import Callable, Dict, Iterator, List, Mapping, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..doctree import flatten
from ..schema import (
    OUTPUT_DDL,
    STATUS_FAILURE,
    STATUS_PARTIAL,
    STATUS_SKIPPED,
    STATUS_SUCCESS,
)

# ---------------------------------------------------------------------------
# format registry (analogue of document_converter.py:51-162 format routing;
# extensible like the reference's plugin factories,
# models/factories/base_factory.py:24-60)

def _load_parsers() -> Dict[str, Callable[[str], object]]:
    """Payload kind → parser, for every single-payload kind. pdf_page
    is not here: its payload is a list of pages (see _parse_doc)."""
    from ..parsers.asciidoc_parser import parse_asciidoc_document
    from ..parsers.csv_parser import parse_csv_document
    from ..parsers.docling_json import parse_docling_json
    from ..parsers.doctags_parser import parse_doctags
    from ..parsers.docx_parser import parse_docx_document
    from ..parsers.html_parser import parse_html_document
    from ..parsers.jats_parser import parse_jats_document
    from ..parsers.md_parser import parse_md_document
    from ..parsers.pptx_parser import parse_pptx_document
    from ..parsers.uspto_parser import parse_uspto_document
    from ..parsers.xlsx_parser import parse_xlsx_document

    return {
        "html": parse_html_document,
        "csv": parse_csv_document,
        "md": parse_md_document,
        "asciidoc": parse_asciidoc_document,
        "docx": parse_docx_document,
        "xlsx": parse_xlsx_document,
        "pptx": parse_pptx_document,
        "jats": parse_jats_document,
        "docling_json": parse_docling_json,
        "uspto": parse_uspto_document,
        "doctags": parse_doctags,
    }



# ---------------------------------------------------------------------------
# page-parallel PDF path (SURVEY.md §3.3: explode doc → page rows →
# page UDF → groupBy(doc_id) reassembly with sort_array(collect_list),
# the Spark shape of standard_pdf_pipeline.py:182-199 document assembly).
# This is the skew escape hatch: a mega-PDF splits into page tasks, so
# one giant document can never serialize a partition (SURVEY.md §7.4).

PAGE_OUT_DDL = ("doc_id string, page_offset int, "
                "blocks array<struct<kind:string,text:string>>, "
                "headers array<string>, footers array<string>, "
                "error string, wall_us long")


def _page_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..parsers.pdf_page import parse_page
    for pdf in batches:
        out = {"doc_id": [], "page_offset": [], "blocks": [],
               "headers": [], "footers": [], "error": [], "wall_us": []}
        for doc_id, off, payload in zip(
                pdf["doc_id"], pdf["page_offset"], pdf["payload"]):
            t0 = time.monotonic_ns()
            blocks: list = []
            headers: list = []
            footers: list = []
            err = None
            try:
                page = parse_page(payload or "")
                if page["labeled_blocks"]:
                    # model-driven path: typed blocks; furniture labels
                    # route to headers/footers (page_assemble_model.py:
                    # 83-155 label routing; same rule as parse_pdf_pages)
                    for kind, text in page["labeled_blocks"]:
                        if kind == "page_header":
                            headers.append(text)
                        elif kind == "page_footer":
                            footers.append(text)
                        else:
                            blocks.append((kind, text))
                else:
                    headers, footers = page["headers"], page["footers"]
                    blocks = [("text", b) for b in page["blocks"]]
            except Exception as exc:  # per-page containment
                err = f"{type(exc).__name__}: {exc}"[:500]
            out["doc_id"].append(doc_id)
            out["page_offset"].append(off)
            out["blocks"].append(blocks)
            out["headers"].append(headers)
            out["footers"].append(footers)
            out["error"].append(err)
            out["wall_us"].append((time.monotonic_ns() - t0) // 1000)
        yield pd.DataFrame(out)


def _page_rows(df: DataFrame, page_range: Optional[tuple],
               num_partitions: Optional[int]) -> DataFrame:
    """Explode paged documents to (doc_id, page_offset, payload) rows.
    ``page_range=(first, last)`` is the pre-parse page slice gate
    (DocumentLimits.page_range, datamodel/settings.py:9-25 +
    base_pipeline.py:143-146) — a pure Catalyst predicate, so out-of-
    range pages are never deserialized into the page UDF."""
    pages = (df.select("doc_id", F.explode("spans").alias("s"))
             .filter(F.col("s.kind") == "pdf_page")
             .select("doc_id",
                     F.col("s.offset").alias("page_offset"),
                     F.col("s.text").alias("payload")))
    if page_range is not None:
        lo, hi = page_range
        pages = pages.filter(F.col("page_offset").between(lo, hi))
    if num_partitions:
        pages = pages.repartition(num_partitions, "doc_id", "page_offset")
    return pages


def extract_spans_paged(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    page_range: Optional[tuple] = None,
    max_num_pages: Optional[int] = None,
) -> DataFrame:
    """(doc_id, spans[kind=pdf_page]) → full output shape (doc_id,
    spans, status, errors, n_spans, wall_us) via page-level parallelism.
    Block kinds detected by the page pipeline (section_header / table /
    caption / picture, typed like the reference's page elements,
    page_assemble_model.py:83-155) survive into the doc-level span
    sequence. Page furniture (headers/footers) is suppressed from the
    body span sequence, mirroring the reference's furniture layer
    (readingorder_model.py:332-334).

    ``max_num_pages`` is the reference's third pre-parse limit
    (DocumentLimits.max_num_pages, datamodel/settings.py:22-25,
    enforced at datamodel/document.py:159 — page_count over the limit
    marks the document invalid, which converts to FAILURE status): a
    pure-Catalyst page count on the span array, so over-limit
    documents emit a FAILURE row with a limits error and none of
    their pages is ever deserialized into the page UDF."""
    limit_fail = None
    if max_num_pages is not None:
        n_pages = F.size(F.filter(
            F.col("spans"), lambda s: s["kind"] == "pdf_page"))
        over = n_pages > max_num_pages
        limit_fail = df.filter(over).select(
            "doc_id",
            F.array().cast(
                "array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>").alias("spans"),
            F.lit(STATUS_FAILURE).alias("status"),
            F.array(F.struct(
                F.lit("extract").alias("component"),
                F.lit("limits").alias("module"),
                F.concat(
                    F.lit("max_num_pages: page count "),
                    n_pages.cast("string"),
                    F.lit(f" > {max_num_pages}")).alias("message"),
            )).alias("errors"),
            F.lit(0).cast("int").alias("n_spans"),
            F.lit(0).cast("long").alias("wall_us"))
        df = df.filter(~over)
    pages = _page_rows(df, page_range, num_partitions)
    parsed = pages.mapInPandas(_page_batches, schema=PAGE_OUT_DDL)
    assembled = (parsed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(
            F.struct("page_offset", "blocks", "error"))).alias("pages"),
        F.sum("wall_us").alias("wall_us")))
    n_err = F.size(F.filter(F.col("pages"),
                            lambda p: p["error"].isNotNull()))
    all_err = n_err == F.size("pages")
    blocks = F.flatten(F.col("pages.blocks"))
    spans = F.transform(
        blocks,
        lambda x, i: F.struct(
            x["kind"].alias("kind"), x["text"].alias("text"),
            F.lit("").alias("media_ref"), i.cast("int").alias("offset")))
    # status contract (matches the doc path + the reference's per-page
    # validity rule, base_pipeline.py:212-225): every page failed ⇒
    # FAILURE with spans == []; some pages failed ⇒ PARTIAL with the
    # surviving pages' spans; else SUCCESS. Per-page error messages are
    # preserved (component='pdf_page'), wall_us is the summed per-page
    # parse time (partition-lineage requirement).
    empty_spans = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    final_spans = F.when(all_err, empty_spans).otherwise(spans)
    errors = F.transform(
        F.filter(F.col("pages"), lambda p: p["error"].isNotNull()),
        lambda p: F.struct(
            F.lit("extract").alias("component"),
            F.lit("pdf_page").alias("module"),
            F.concat(F.lit("page "), p["page_offset"].cast("string"),
                     F.lit(": "), p["error"]).alias("message")))
    out = assembled.select(
        "doc_id", final_spans.alias("spans"),
        F.when(all_err, F.lit(STATUS_FAILURE))
         .when(n_err > 0, F.lit(STATUS_PARTIAL))
         .otherwise(F.lit(STATUS_SUCCESS)).alias("status"),
        errors.alias("errors"),
        F.size(final_spans).alias("n_spans"),
        F.col("wall_us").cast("long").alias("wall_us"))
    if limit_fail is not None:
        out = out.unionByName(limit_fail)
    return out


def page_dump(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    page_range: Optional[tuple] = None,
) -> DataFrame:
    """Per-page multimodal dump — the analogue of the reference's
    ``generate_multimodal_pages`` export (utils/export.py:13-148: one
    tuple per page with its text, markdown, and segment data). Output:
    (doc_id, page_no, text, markdown, n_blocks, headers, footers,
    error). Stays page-parallel end-to-end: no doc-level reassembly
    shuffle — the per-page projection renders straight off the page
    UDF output."""
    from .export import _render_span_md
    pages = _page_rows(df, page_range, num_partitions)
    parsed = pages.mapInPandas(_page_batches, schema=PAGE_OUT_DDL)
    return parsed.select(
        "doc_id",
        F.col("page_offset").alias("page_no"),
        F.array_join(
            F.transform("blocks", lambda b: b["text"]), "\n\n").alias("text"),
        # block-level markdown: typed blocks through the same kind
        # renderer as the document markdown sink (operators/export.py)
        F.array_join(
            F.transform("blocks", _render_span_md), "\n\n").alias("markdown"),
        F.size("blocks").alias("n_blocks"),
        "headers", "footers", "error")


PAGE_CELLS_DDL = ("doc_id string, page_no int, cell_index int, "
                  "text string, l double, t double, r double, b double")


def _make_page_cells_batches(merge: bool):
    def _page_cells_batches(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        import json

        from ..parsers.pdf_page import Cell, merge_horizontal_cells
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "page_no", "cell_index",
                                   "text", "l", "t", "r", "b")}
            for doc_id, off, payload in zip(
                    pdf["doc_id"], pdf["page_offset"], pdf["payload"]):
                try:
                    page = json.loads(payload or "{}")
                    cells = [Cell(int(c.get("index", i)), c.get("text", ""),
                                  float(c["l"]), float(c["t"]),
                                  float(c["r"]), float(c["b"]))
                             for i, c in enumerate(page.get("cells", []))]
                except Exception:
                    cells = []
                cells.sort(key=lambda c: c.index)
                if merge:
                    cells = merge_horizontal_cells(cells)
                for c in cells:
                    out["doc_id"].append(doc_id)
                    out["page_no"].append(off)
                    out["cell_index"].append(c.index)
                    out["text"].append(c.text)
                    out["l"].append(c.l)
                    out["t"].append(c.t)
                    out["r"].append(c.r)
                    out["b"].append(c.b)
            yield pd.DataFrame(out)
    return _page_cells_batches


def page_cells(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    page_range: Optional[tuple] = None,
    merge: bool = True,
) -> DataFrame:
    """Per-page text cells — the surface the reference's cells-level
    regression gate compares (``verify_cells``,
    tests/verify_utils.py:59-88: per-page cell count, cell text, and
    cell bbox in cell order, against the ``*.pages.json`` goldens).
    With ``merge=True`` (default) cells pass the exact-port pypdfium
    sub-word merge (pypdfium2_backend.py:110-198 → parsers/pdf_page.py)
    first — the pypdfium-backend shape. ``merge=False`` emits the
    ingested cells verbatim — the docling-parse-backend shape, whose
    cells are already line-level; this is the mode the verify_cells
    parity test drives the real ``*.pages.json`` corpus through.
    Output: (doc_id, page_no, cell_index, text, l, t, r, b),
    page-parallel end-to-end — no doc-level shuffle."""
    pages = _page_rows(df, page_range, num_partitions)
    return pages.mapInPandas(_make_page_cells_batches(merge),
                             schema=PAGE_CELLS_DDL)


def text_in_rect(cells: DataFrame, rects: DataFrame) -> DataFrame:
    """Distributed spelling of the reference's page-local range join
    (``get_text_in_rect``, docling_parse_v4_backend.py:33-56 /
    parsers/pdf_page.py:204-219): for every query rect, the text of
    the page's cells whose bbox overlaps the rect by MORE THAN HALF
    the cell's own area, joined by single spaces in cell-index order.

    ``cells`` is the :func:`page_cells` relation (doc_id, page_no,
    cell_index, text, l, t, r, b); ``rects`` is (rect_id, doc_id,
    page_no, l, t, r, b). Output: (rect_id, doc_id, page_no, text) —
    one row per rect, empty string when nothing qualifies.

    Scale shape: pure Catalyst — the rect table is query-sized (tiny
    vs the corpus) so the equi-join on (doc_id, page_no) broadcasts
    and the 10^12-cell relation never shuffles for the probe; the
    only shuffle is the groupBy(rect) reassembly, keyed on the tiny
    rect id. The overlap predicate stays inside whole-stage codegen.
    """
    c = cells.alias("c")
    q = rects.alias("q")
    inter_w = F.least(F.col("c.r"), F.col("q.r")) \
        - F.greatest(F.col("c.l"), F.col("q.l"))
    inter_h = F.least(F.col("c.b"), F.col("q.b")) \
        - F.greatest(F.col("c.t"), F.col("q.t"))
    inter = F.when((inter_w > 0) & (inter_h > 0),
                   inter_w * inter_h).otherwise(F.lit(0.0))
    area = (F.col("c.r") - F.col("c.l")) * (F.col("c.b") - F.col("c.t"))
    hit = (c.join(F.broadcast(q),
                  (F.col("q.doc_id") == F.col("c.doc_id"))
                  & (F.col("q.page_no") == F.col("c.page_no")))
           .where((area > 0) & (inter / area > 0.5)))
    agg = (hit.groupBy("q.rect_id", "q.doc_id", "q.page_no")
           .agg(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(
                       F.struct(F.col("c.cell_index").alias("i"),
                                F.col("c.text").alias("txt")))),
                   lambda s: s["txt"]), " ").alias("text")))
    return (rects.select("rect_id", "doc_id", "page_no")
            # agg has at most one row per rect — broadcast it so the
            # final reattach (which restores empty-rect rows) never
            # sort-merges
            .join(F.broadcast(agg), ["rect_id", "doc_id", "page_no"],
                  "left")
            .select("rect_id", "doc_id", "page_no",
                    F.coalesce(F.col("text"), F.lit("")).alias("text")))


PAGE_ELEMENTS_DDL = ("doc_id string, page_no int, elem_index int, "
                     "label string, text string")

# labels the reference assembles WITHOUT text: tables
# (TABLE_LABELS = table + document_index get a structure-only Table
# element), figures (FIGURE_LABEL → FigureElement, text='') and
# containers (CONTAINER_LABELS = form + key_value_region →
# ContainerElement) — models/layout_model.py:43-46 +
# page_assemble_model.py:105-155
_NO_TEXT_LABELS = {"picture", "table", "document_index", "form",
                   "key_value_region"}


def _page_elements_batches(batches: Iterator[pd.DataFrame]) \
        -> Iterator[pd.DataFrame]:
    import json

    from ..parsers.layout_post import LayoutCluster, postprocess_layout
    from ..parsers.pdf_page import Cell, sanitize_text
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "page_no", "elem_index",
                               "label", "text")}
        for doc_id, off, payload in zip(
                pdf["doc_id"], pdf["page_offset"], pdf["payload"]):
            try:
                page = json.loads(payload or "{}")
                cells = [Cell(int(c.get("index", i)), c.get("text", ""),
                              float(c["l"]), float(c["t"]),
                              float(c["r"]), float(c["b"]))
                         for i, c in enumerate(page.get("cells", []))]
                preds = [LayoutCluster(
                    id=int(cl.get("id", i)),
                    label=str(cl.get("label", "text")),
                    bbox=(float(cl["l"]), float(cl["t"]),
                          float(cl["r"]), float(cl["b"])),
                    confidence=float(cl.get("confidence", 1.0)))
                    for i, cl in enumerate(page.get("clusters") or [])]
                size = (float(page.get("width", 612.0)),
                        float(page.get("height", 792.0)))
                ordered = postprocess_layout(cells, preds, size)
            except Exception:
                ordered = []
            for i, cluster in enumerate(ordered):
                if cluster.label in _NO_TEXT_LABELS:
                    text = ""
                else:
                    lines = [c.text.replace("\x02", "-").strip()
                             for c in cluster.cells if c.text.strip()]
                    text = sanitize_text(lines) if lines else ""
                out["doc_id"].append(doc_id)
                out["page_no"].append(off)
                out["elem_index"].append(i)
                out["label"].append(cluster.label)
                out["text"].append(text)
        yield pd.DataFrame(out)


def page_elements(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    page_range: Optional[tuple] = None,
) -> DataFrame:
    """Per-page assembled elements — the reference's page-assembly
    surface (`page.assembled.elements`, page_assemble_model.py:78-155):
    the stored layout predictions run through the full postprocessor
    (layout_postprocessor.py parity, parsers/layout_post.py) on the
    backend cells, then each surviving cluster becomes one element in
    cluster order — text labels carry the sanitize-joined cell text
    (page_assemble_model.py:34-64), tables/figures/containers carry
    text='' exactly like the reference's Table/Figure/Container
    elements. Verified for span-sequence equality against the
    `assembled.elements` groundtruth of every real ``*.pages.json``
    fixture (tests/test_real_pdf.py + the pdf_real_assembled oracle).
    Output: (doc_id, page_no, elem_index, label, text); page-parallel,
    zero shuffles."""
    pages = _page_rows(df, page_range, num_partitions)
    return pages.mapInPandas(_page_elements_batches,
                             schema=PAGE_ELEMENTS_DDL)


PAGE_CLUSTERS_DDL = ("doc_id string, page_no int, cluster_rank int, "
                     "label string, l int, t int, r int, b int, "
                     "n_cells int, text string")


def _page_clusters_batches(batches: Iterator[pd.DataFrame]) \
        -> Iterator[pd.DataFrame]:
    import json

    from ..parsers.layout_post import LayoutCluster, postprocess_layout
    from ..parsers.pdf_page import Cell
    cols = ("doc_id", "page_no", "cluster_rank", "label",
            "l", "t", "r", "b", "n_cells", "text")
    for pdf in batches:
        out = {k: [] for k in cols}
        for doc_id, off, payload in zip(
                pdf["doc_id"], pdf["page_offset"], pdf["payload"]):
            try:
                page = json.loads(payload or "{}")
                cells = [Cell(int(c.get("index", i)), c.get("text", ""),
                              float(c["l"]), float(c["t"]),
                              float(c["r"]), float(c["b"]))
                         for i, c in enumerate(page.get("cells", []))]
                preds = [LayoutCluster(
                    id=int(cl.get("id", i)),
                    label=str(cl.get("label", "text")),
                    bbox=(float(cl["l"]), float(cl["t"]),
                          float(cl["r"]), float(cl["b"])),
                    confidence=float(cl.get("confidence", 1.0)))
                    for i, cl in enumerate(page.get("clusters") or [])]
                size = (float(page.get("width", 612.0)),
                        float(page.get("height", 792.0)))
                ordered = postprocess_layout(cells, preds, size)
            except Exception:
                ordered = []
            for i, cl in enumerate(ordered):
                out["doc_id"].append(doc_id)
                out["page_no"].append(off)
                out["cluster_rank"].append(i)
                out["label"].append(cl.label)
                out["l"].append(int(round(cl.bbox[0])))
                out["t"].append(int(round(cl.bbox[1])))
                out["r"].append(int(round(cl.bbox[2])))
                out["b"].append(int(round(cl.bbox[3])))
                out["n_cells"].append(len(cl.cells))
                out["text"].append(" ".join(c.text for c in cl.cells))
        yield pd.DataFrame(out)


def page_clusters(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    page_range: Optional[tuple] = None,
) -> DataFrame:
    """Cleaned layout clusters from STORED model predictions — the
    direct observable surface of the full layout postprocessor
    (parsers/layout_post.py; reference
    utils/layout_postprocessor.py:159-670): per surviving cluster its
    reading-order rank, post-gate/remap label, shrunk-to-cells bbox
    (rounded to int — predictions and cells carry integral coords in
    the stored-prediction format), cell count, and the raw cell text
    in cell order. Unlike :func:`page_elements` this keeps the
    geometry, so an oracle can replay confidence gating,
    TITLE→SECTION_HEADER remap, cell assignment, orphan promotion,
    bbox shrink, overlap dedup and the (min-cell-index, top, left)
    ordering end-to-end.

    Scale shape: identical to the other paged operators — explode to
    page rows (narrow), ONE Arrow-batched ``mapInPandas`` over
    page-local geometry (n≈10² clusters/page), zero shuffles beyond
    the optional doc/page repartition; page-parallel at 10^12 pages.
    """
    pages = _page_rows(df, page_range, num_partitions)
    return pages.mapInPandas(_page_clusters_batches,
                             schema=PAGE_CLUSTERS_DDL)


# ---------------------------------------------------------------------------

def payload_chars_col():
    """Catalyst expression: total payload size of a document (pre-parse
    size gate, analogue of DocumentLimits max_file_size,
    datamodel/document.py:130-143). Pure JVM-side."""
    return F.aggregate(
        "spans", F.lit(0),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)))


def extract_spans(
    df: DataFrame,
    *,
    allowed_kinds: Optional[List[str]] = None,
    max_payload_chars: Optional[int] = None,
    num_partitions: Optional[int] = None,
    with_markdown: bool = False,
    with_itxt: bool = False,
    with_html: bool = False,
    oversize: str = "drop",
) -> DataFrame:
    """(doc_id, spans) → (doc_id, spans, status, errors, n_spans, wall_us
    [, markdown] [, itxt] [, html]).

    One path: Catalyst pre-assembles each document (``_preassembled``:
    offset sort, payload-kind routing, payload concat, media refs), so
    the Arrow boundary carries four flat columns instead of one
    array<struct> whose every span would become a Python object; one
    ``mapInPandas`` UDF (``_extract_batches``) then parses it. Two other
    assemblies once gave the same rows: the whole assembly in Python
    inside the UDF, and this pre-assembly with an Arrow-native output
    marshal that bypassed pandas. Neither was measurably faster, so
    both were deleted. On a 4-vCPU host at local[4], medians of 4 warm
    runs with rows checked identical, this path / Arrow marshal /
    in-UDF took 4.06 / 3.75 / 3.97 s on 2,400 HTML docs with 1 in 20 a
    236 KB page (run spreads 3.79–4.08, 3.53–3.96 and 3.96–4.26 s),
    and 1.88 / 1.83 / 1.80 s on 40k light HTML docs. This path was
    kept because the production jobs already ran it, so their executed
    plans did not change. tests/test_extract_flat.py checks its rows
    against a plain-Python statement of the assembly rules on
    adversarial and random inputs.

    ``oversize`` controls what happens to documents over
    ``max_payload_chars``: ``"drop"`` (default) filters them before the
    UDF — the cheap shape for bulk pipelines; ``"fail"`` reports each
    as a status='failure' row with a max_file_size error, matching the
    reference's contract (InputDocument size gate →
    ConversionStatus.FAILURE, datamodel/document.py:130-143,
    tests/test_invalid_input.py:38-40). The failure rows are built with
    pure Catalyst — oversize payloads never reach Python.

    Catalyst prefilters (size gate, allowed kinds) run before the UDF.
    Partitioning is hash(doc_id) — one doc per row, so doc-hash balance
    is the right default; skewed mega-PDFs use the page-parallel path
    (extract_spans_paged) instead.

    ``with_markdown`` adds a docling-dialect markdown rendering of the
    parse tree (byte-parity with the reference's export_to_markdown
    goldens — md_dialect.py) with zero extra parse cost: the tree is
    already in hand inside the UDF. ``with_itxt`` likewise adds the
    indented-text rendering (_export_to_indented_text parity —
    itxt_dialect.py), which serializes the tree's nesting structure,
    and ``with_html`` the docling-dialect HTML (html_dialect.py).
    """
    exports = tuple(name for name, on in (("markdown", with_markdown),
                                          ("itxt", with_itxt),
                                          ("html", with_html)) if on)
    if allowed_kinds is not None:
        df = df.filter(
            F.exists("spans", lambda s: s["kind"].isin(list(allowed_kinds))))
    oversize_df = None
    if max_payload_chars is not None:
        fits = payload_chars_col() <= F.lit(max_payload_chars)
        if oversize == "fail":
            oversize_df = df.filter(~fits)
        df = df.filter(fits)
    if num_partitions:
        df = df.repartition(num_partitions, "doc_id")
    out = _preassembled(df).mapInPandas(
        _make_doc_batches(exports),
        schema=OUTPUT_DDL + "".join(f", {e} string" for e in exports))
    if oversize_df is not None:
        fail = oversize_df.select(
            "doc_id",
            F.array().cast(
                "array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>").alias("spans"),
            F.lit(STATUS_FAILURE).alias("status"),
            F.array(F.struct(
                F.lit("extract").alias("component"),
                F.lit("size_gate").alias("module"),
                F.concat(
                    F.lit("max_file_size: payload chars "),
                    payload_chars_col().cast("string"),
                    F.lit(f" > {max_payload_chars}")).alias("message"),
            )).alias("errors"),
            F.lit(0).cast("int").alias("n_spans"),
            F.lit(0).cast("long").alias("wall_us"),
            *[F.lit(None).cast("string").alias(e) for e in exports])
        out = out.unionByName(fail)
    return out


def _preassembled(df: DataFrame) -> DataFrame:
    """Catalyst pre-assembly of the per-doc parser input — offset sort,
    media-ref collection, payload-kind resolution, payload
    concatenation — as JVM-side array expressions, so the Arrow
    boundary carries four flat columns instead of one array<struct>
    per document whose every span must materialize as a Python object.
    The rules (tests/test_extract_flat.py holds the same rules in plain
    Python and checks the two agree):

      * spans sorted by (coalesce(offset,0), original index) — the
        stable-sort semantics of Python ``sorted``;
      * media_refs = media spans' refs in that order;
      * payload_kind = 'pdf_page' if ANY pdf_page span exists, else
        the kind of the first non-media span (null kind reads as ''),
        else NULL (media-only/empty doc → SKIPPED downstream);
      * pages = the pdf_page texts in order, or a single element
        holding the concatenation of the first-kind spans' texts.
    """
    tagged = F.transform(
        "spans",
        lambda s, i: F.struct(
            F.coalesce(s["kind"], F.lit("")).alias("kind"),
            F.coalesce(s["text"], F.lit("")).alias("text"),
            F.coalesce(s["media_ref"], F.lit("")).alias("media_ref"),
            F.coalesce(s["offset"], F.lit(0)).alias("offset"),
            i.alias("idx")))
    ordered = F.array_sort(
        tagged,
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
                      .when(l["offset"] > r["offset"], 1)
                      .when(l["idx"] < r["idx"], -1)
                      .when(l["idx"] > r["idx"], 1)
                      .otherwise(0))
    df = df.withColumn("_ord", ordered)
    o = F.col("_ord")
    body = F.filter(o, lambda s: s["kind"] != "media")
    first_kind = F.try_element_at(body, F.lit(1))["kind"]
    page_texts = F.transform(
        F.filter(o, lambda s: s["kind"] == "pdf_page"),
        lambda s: s["text"])
    kind_texts = F.transform(
        F.filter(o, lambda s: s["kind"] == first_kind),
        lambda s: s["text"])
    has_page = F.size(page_texts) > 0
    return df.select(
        "doc_id",
        F.when(has_page, F.lit("pdf_page"))
         .otherwise(first_kind).alias("payload_kind"),
        F.when(has_page, page_texts)
         .otherwise(F.array(F.array_join(kind_texts, ""))).alias("pages"),
        F.transform(F.filter(o, lambda s: s["kind"] == "media"),
                    lambda s: s["media_ref"]).alias("media_refs"))


def _parse_doc(kind, pages, media_refs, parsers: dict,
               exports: tuple = ()) -> tuple:
    """Parse one pre-assembled document. Returns (spans, status,
    errors, rendered), ``rendered`` holding one string per requested
    export in ``exports`` order ("markdown" / "itxt" / "html": the
    parse tree through the docling-dialect serializers before
    flattening — byte-parity with the reference's export goldens,
    pinned by tests/test_md_dialect.py, tests/test_itxt_dialect.py and
    tests/test_html_dialect.py). A parser exception becomes one
    failure row: one bad document never kills the task."""
    unrendered = (None,) * len(exports)
    if kind is None:
        return [], STATUS_SKIPPED, [], unrendered
    try:
        if kind == "pdf_page":
            from ..parsers.pdf_page import parse_pdf_pages
            tree = parse_pdf_pages(list(pages))
        else:
            parse = parsers.get(kind)
            if parse is None:
                return [], STATUS_SKIPPED, [], unrendered
            tree = parse(pages[0] if len(pages) else "")
        rendered = tuple(_exporter(e)(tree) for e in exports)
        spans = flatten(tree)
        # interleaved media refs → picture spans, in order (FIXTURES.md §3.4)
        if len(media_refs):
            pic_idx = 0
            for sp in spans:
                if sp["kind"] == "picture" and pic_idx < len(media_refs):
                    sp["media_ref"] = media_refs[pic_idx]
                    pic_idx += 1
        return spans, STATUS_SUCCESS, [], rendered
    except Exception as exc:  # per-doc containment — never kill the task
        return [], STATUS_FAILURE, [{
            "component": "extract",
            "module": kind,
            "message": f"{type(exc).__name__}: {exc}"[:500],
        }], unrendered


def _exporter(name: str) -> Callable[[object], str]:
    if name == "markdown":
        from ..md_dialect import render_markdown_docling
        return render_markdown_docling
    if name == "itxt":
        from ..itxt_dialect import render_itxt
        return render_itxt
    from ..html_dialect import render_html_docling
    return render_html_docling


def _make_doc_batches(exports: tuple):
    def _extract_batches(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parsers = _load_parsers()  # executor-local init-once per task
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "spans": [], "status": [],
                   "errors": [], "n_spans": [], "wall_us": [],
                   **{e: [] for e in exports}}
            for kind, pages, refs in zip(
                    pdf["payload_kind"].tolist(),
                    pdf["pages"].tolist(), pdf["media_refs"].tolist()):
                t0 = time.monotonic_ns()
                spans, status, errors, rendered = _parse_doc(
                    kind, pages, refs, parsers, exports)
                out["spans"].append(
                    [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in spans])
                out["status"].append(status)
                out["errors"].append(
                    [(e["component"], e["module"], e["message"])
                     for e in errors])
                out["n_spans"].append(len(spans))
                out["wall_us"].append((time.monotonic_ns() - t0) // 1000)
                for e, text in zip(exports, rendered):
                    out[e].append(text)
            yield pd.DataFrame(out)

    return _extract_batches


# ---------------------------------------------------------------------------
# routing: every document takes exactly one branch of extract_routed

ROUTES = ("doc", "paged", "raw", "image")


def route_col():
    """Catalyst expression: the extract_routed branch of a document,
    decided from its span kinds alone (over a Parquet input only the
    ``spans.kind`` leaf is read). The first match wins:

      * ``raw``   — any pdf_raw span (base64 PDF file bytes);
      * ``paged`` — any pdf_page span;
      * ``image`` — at least one span, and every span an image;
      * ``doc``   — everything else, including media-only and empty
        documents and spans with a NULL kind (extract_spans reports
        what it cannot parse as skipped)."""
    kinds = F.col("spans.kind")
    only_images = ((F.size(kinds) > 0)
                   & (F.size(F.array_remove(kinds, "image")) == 0))
    # array_contains is NULL, not false, when nothing matches and some
    # kind is NULL; CASE falls through on NULL, so such a document
    # still takes exactly one branch (a filter on the bare predicate
    # would drop it from every branch)
    return (F.when(F.array_contains(kinds, "pdf_raw"), F.lit("raw"))
            .when(F.array_contains(kinds, "pdf_page"), F.lit("paged"))
            .when(only_images, F.lit("image"))
            .otherwise(F.lit("doc")))


def route_counts(df: DataFrame) -> Dict[str, int]:
    """Documents per route of a (doc_id, spans) frame, every route of
    ROUTES present: one codegen'd aggregate over ``route_col``."""
    rows = df.groupBy(route_col().alias("route")).count().collect()
    found = {r["route"]: r["count"] for r in rows}
    return {r: found.get(r, 0) for r in ROUTES}


def extract_routed(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    allowed_kinds: Optional[List[str]] = None,
    max_payload_chars: Optional[int] = None,
    oversize: str = "drop",
    routes: Optional[Mapping[str, int]] = None,
) -> DataFrame:
    """Production entry: paginated documents (pdf_page spans) take the
    page-parallel path (skew-safe for mega-documents); everything else
    takes the one-doc-one-task path. Both run from the same input scan;
    results union to one output table. ``route_col`` decides each
    document's branch.

    ``routes`` (route → document count, as ``route_counts`` returns)
    decides which branches are planned at all: a branch without
    documents is left out, so an HTML-only input runs one Python
    stage instead of three. The counts may come from a superset of
    ``df`` (the extract job counts its input before the resume
    anti-join); documents of a route counted zero are not extracted.
    Without ``routes`` they are counted over ``df``, which runs one
    Spark job.

    This IS the salting strategy for this workload: doc-level hash
    partitioning is uniform in row count, and the only size-skew that
    matters (one mega document serializing a partition, SURVEY.md §7.4)
    is removed structurally by exploding pages before the UDF rather
    than by key-salting an aggregation.

    Pure-image documents (every span kind == 'image') mirror the
    reference's image auto-wrap (images become 1-page PDF docs,
    pdf_backend.py:55-65): each image span becomes one 'picture'
    output span in order, status success — the OCR/layout models that
    would text-mine the bitmap are pluggable slots. This branch is
    pure Catalyst; image payloads never reach Python.

    Documents carrying a 'pdf_raw' span (base64 PDF file bytes in the
    span text — how binary payloads ride the string span schema) take
    the full native path: from-scratch byte parse (parsers/pdfio.py,
    the in-repo replacement for the reference's docling-parse native
    lib, backend/docling_parse_v4_backend.py) into per-page cell
    payloads, then the same page-parallel pipeline as pre-parsed
    pdf_page corpora. One extra zero-shuffle Arrow stage; the page
    explode after it keeps mega-PDF skew structural, not salted."""
    from .pdfnative import pdf_to_page_spans
    if routes is None:
        routes = route_counts(df)
    planned = {r for r in ROUTES if routes.get(r)} or {"doc"}
    route = route_col()
    sides = []
    if "doc" in planned:
        sides.append(extract_spans(
            df.filter(route == "doc"),
            allowed_kinds=allowed_kinds,
            max_payload_chars=max_payload_chars,
            num_partitions=num_partitions, oversize=oversize))
    paged_in = []
    if "paged" in planned:
        paged_in.append(df.filter(route == "paged").select("doc_id", "spans"))
    if "raw" in planned:
        raw = df.filter(route == "raw").select(
            "doc_id",
            F.unbase64(F.element_at(
                F.filter("spans", lambda s: s["kind"] == "pdf_raw"),
                1)["text"]).alias("pdf"))
        paged_in.append(pdf_to_page_spans(raw))
    if paged_in:
        sides.append(extract_spans_paged(
            functools.reduce(DataFrame.unionByName, paged_in),
            num_partitions=num_partitions))
    if "image" in planned:
        sides.append(df.filter(route == "image").select(
            "doc_id",
            F.transform(
                F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)"),
                lambda s, i: F.struct(
                    F.lit("picture").alias("kind"),
                    F.lit("").alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"))).alias("spans"),
            F.lit(STATUS_SUCCESS).alias("status"),
            F.array().cast(
                "array<struct<component:string,module:string,"
                "message:string>>").alias("errors"),
            F.size("spans").cast("int").alias("n_spans"),
            F.lit(0).cast("long").alias("wall_us")))
    return functools.reduce(DataFrame.unionByName, sides)
