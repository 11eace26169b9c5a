"""PDF structured-page path — the NN-free layout pipeline over
pre-extracted text cells (SURVEY.md §2.3-2.4, FIXTURES.md `pdf_page`).

Input: one payload per page, JSON
``{page_no, width, height, cells: [{index, text, l, t, r, b}]
[, clusters: [{id, label, confidence, l, t, r, b}]]
[, bitmap_rects: [{l, t, r, b}]]}``
(top-left origin, the TextCell model of
docling/backend/pypdfium2_backend.py:74-107 in the reference; clusters
are stored layout-model predictions). A document the byte parser could
not read is one sentinel page ``{page_no, pdfio_error}``. This module
owns that format: ``encode_page`` and ``error_page`` write it
(operators/pdfnative.py, sources/realpdf.py) and ``decode_page`` is
its only reader (``parse_page`` here, the page operators of
operators/extract.py).

Algorithmic layers, ported from the reference where it implements them
in-repo (the NN stages — layout model, TableFormer, OCR — are replaced
by the geometry heuristics below, documented deviation):

1. fragment merge — pypdfium2 sub-word cells merged into lines:
   row grouping by vertical-overlap threshold 0.5×row-height, then
   horizontal merge when gap ≤ 1.0×avg-height
   (pypdfium2_backend.py:110-198, exact port)
2. header/footer suppression — cells fully inside the top/bottom
   5% page margin become page_header / page_footer furniture
   (heuristic replacement for the layout NN's PAGE_HEADER/PAGE_FOOTER
   labels routed to furniture, readingorder_model.py:332-334)
3. column detection — x-coverage histogram gap split (heuristic
   replacement for layout-NN block detection; SURVEY.md §2.4)
4. block detection — vertical-gap grouping inside each column
5. text sanitize — de-hyphenation across lines + unicode
   normalization + \\x02→'-' (page_assemble_model.py:32-63, exact port)
6. reading order — columns left→right, blocks top→bottom, pages in
   offset order (column-aware replacement for the reading-order model,
   readingorder_model.py:48-389)

Pure stdlib — runs inside Arrow-batched pandas UDF workers.
"""

from __future__ import annotations

import json
import re
from typing import Dict, List, NamedTuple, Tuple

from ..doctree import (
    BODY,
    FURNITURE,
    DocTree,
    TableCell,
    TableData,
    serialize_table,
)

# deviation-documented heuristic knobs
HEADER_MARGIN_FRAC = 0.05
FOOTER_MARGIN_FRAC = 0.05
COLUMN_GAP_FRAC = 0.04       # min x-gap (fraction of page width) to split
BLOCK_GAP_FACTOR = 1.8       # vertical gap > factor×median line height → new block


class Cell:
    __slots__ = ("index", "text", "l", "t", "r", "b")

    def __init__(self, index: int, text: str, l: float, t: float,
                 r: float, b: float) -> None:
        self.index = index
        self.text = text
        self.l = l
        self.t = t
        self.r = r
        self.b = b

    @property
    def height(self) -> float:
        return self.b - self.t


# ---------------------------------------------------------------------------
# the payload format


class Page(NamedTuple):
    page_no: int
    width: float
    height: float
    cells: List[Cell]      # payload order
    clusters: List         # layout_post.LayoutCluster, payload order
    bitmap_rects: List[Tuple[float, float, float, float]]


def encode_page(page_no, width, height, cells, clusters=None) -> str:
    """One page → its payload. ``cells`` are (index, text, l, t, r, b)
    tuples in backend order, ``clusters`` (id, label, confidence, l, t,
    r, b) tuples of stored layout predictions, written only when there
    are any. Values are written as given."""
    page = {"page_no": page_no, "width": width, "height": height,
            "cells": [{"index": i, "text": text,
                       "l": l, "t": t, "r": r, "b": b}
                      for i, text, l, t, r, b in cells]}
    if clusters:
        page["clusters"] = [{"id": i, "label": label, "confidence": conf,
                             "l": l, "t": t, "r": r, "b": b}
                            for i, label, conf, l, t, r, b in clusters]
    return json.dumps(page)


def error_page(message: str) -> str:
    """The sentinel page of a document the byte parser could not read;
    ``decode_page`` raises ``message`` for it."""
    return json.dumps({"page_no": 0, "pdfio_error": message})


def decode_page(payload: str) -> Page:
    """A payload → its ``Page``; a missing width/height reads as US
    Letter. Raises on a payload that is not a page (including the
    empty string) and, with the recorded message, on the error sentinel
    — the paged path's per-page containment turns that into the
    document's FAILURE/PARTIAL status."""
    page = json.loads(payload)
    if isinstance(page, dict) and "pdfio_error" in page:
        raise ValueError(page["pdfio_error"])
    width = float(page.get("width", 612.0))
    height = float(page.get("height", 792.0))
    cells = [Cell(int(c.get("index", i)), c.get("text", ""),
                  float(c["l"]), float(c["t"]), float(c["r"]), float(c["b"]))
             for i, c in enumerate(page.get("cells", []))]
    clusters: List = []
    if page.get("clusters"):
        from .layout_post import LayoutCluster
        clusters = [
            LayoutCluster(
                id=int(cl.get("id", i)),
                label=str(cl.get("label", "text")),
                bbox=(float(cl["l"]), float(cl["t"]),
                      float(cl["r"]), float(cl["b"])),
                confidence=float(cl.get("confidence", 1.0)))
            for i, cl in enumerate(page["clusters"])]
    bitmaps = [(float(r["l"]), float(r["t"]), float(r["r"]), float(r["b"]))
               for r in page.get("bitmap_rects", [])]
    return Page(int(page.get("page_no", 0)), width, height, cells,
                clusters, bitmaps)


# ---------------------------------------------------------------------------
# 1. fragment merge (pypdfium2_backend.py:110-198 — exact port)


# row grouping: top and bottom within this share of the row height;
# horizontal merge: gap at most this share of the two cells' mean height
VERTICAL_THRESHOLD_FACTOR = 0.5
HORIZONTAL_THRESHOLD_FACTOR = 1.0


def merge_horizontal_cells(cells: List[Cell]) -> List[Cell]:
    if not cells:
        return []

    def group_rows(cells: List[Cell]) -> List[List[Cell]]:
        rows = []
        current_row = [cells[0]]
        row_top = cells[0].t
        row_bottom = cells[0].b
        row_height = cells[0].height
        for cell in cells[1:]:
            vertical_threshold = row_height * VERTICAL_THRESHOLD_FACTOR
            if (abs(cell.t - row_top) <= vertical_threshold
                    and abs(cell.b - row_bottom) <= vertical_threshold):
                current_row.append(cell)
                row_top = min(row_top, cell.t)
                row_bottom = max(row_bottom, cell.b)
                row_height = row_bottom - row_top
            else:
                rows.append(current_row)
                current_row = [cell]
                row_top = cell.t
                row_bottom = cell.b
                row_height = cell.height
        if current_row:
            rows.append(current_row)
        return rows

    def merge_group(group: List[Cell]) -> Cell:
        if len(group) == 1:
            return group[0]
        return Cell(
            index=group[0].index,
            text="".join(c.text for c in group),
            l=min(c.l for c in group), t=min(c.t for c in group),
            r=max(c.r for c in group), b=max(c.b for c in group))

    def merge_row(row: List[Cell]) -> List[Cell]:
        merged = []
        current_group = [row[0]]
        for cell in row[1:]:
            prev = current_group[-1]
            avg_height = (prev.height + cell.height) / 2
            if cell.l - prev.r <= avg_height * HORIZONTAL_THRESHOLD_FACTOR:
                current_group.append(cell)
            else:
                merged.append(merge_group(current_group))
                current_group = [cell]
        if current_group:
            merged.append(merge_group(current_group))
        return merged

    rows = group_rows(cells)
    merged_cells = [cell for row in rows for cell in merge_row(row)]
    for i, cell in enumerate(merged_cells, 1):
        cell.index = i
    return merged_cells


# ---------------------------------------------------------------------------
# 5. sanitize (page_assemble_model.py:32-63 — exact port)


def sanitize_text(lines: List[str]) -> str:
    if len(lines) <= 1:
        return " ".join(lines)
    lines = list(lines)
    for ix, line in enumerate(lines[1:]):
        prev_line = lines[ix]
        if prev_line.endswith("-"):
            prev_words = re.findall(r"\b[\w]+\b", prev_line)
            line_words = re.findall(r"\b[\w]+\b", line)
            if (len(prev_words) and len(line_words)
                    and prev_words[-1].isalnum() and line_words[0].isalnum()):
                lines[ix] = prev_line[:-1]
        else:
            lines[ix] += " "
    sanitized = "".join(lines)
    for a, b in (("⁄", "/"), ("’", "'"), ("‘", "'"), ("“", '"'),
                 ("”", '"'), ("•", "·")):
        sanitized = sanitized.replace(a, b)
    return sanitized.strip()


def cell_text(cells: List[Cell]) -> str:
    """Text of a block or cluster: its cells' texts in order, soft
    hyphens \\x02 as '-', through ``sanitize_text``; '' when no cell
    has text."""
    lines = [c.text.replace("\x02", "-").strip() for c in cells
             if c.text.strip()]
    return sanitize_text(lines) if lines else ""


# ---------------------------------------------------------------------------
# 2-4, 6. layout heuristics


def _split_columns(cells: List[Cell], page_width: float) -> List[List[Cell]]:
    """Split cells into columns at x-coverage gaps wider than
    COLUMN_GAP_FRAC × page width."""
    if not cells:
        return []
    intervals = sorted((c.l, c.r) for c in cells)
    merged: List[List[float]] = [list(intervals[0])]
    for l, r in intervals[1:]:
        if l <= merged[-1][1] + COLUMN_GAP_FRAC * page_width:
            merged[-1][1] = max(merged[-1][1], r)
        else:
            merged.append([l, r])
    if len(merged) == 1:
        return [cells]
    columns: List[List[Cell]] = [[] for _ in merged]
    for c in cells:
        center = (c.l + c.r) / 2
        for i, (gl, gr) in enumerate(merged):
            if gl - 1e-9 <= center <= gr + 1e-9:
                columns[i].append(c)
                break
        else:
            columns[-1].append(c)
    return [col for col in columns if col]


def _split_blocks(lines: List[Cell]) -> List[List[Cell]]:
    """Group top-sorted line cells into blocks at large vertical gaps."""
    if not lines:
        return []
    lines = sorted(lines, key=lambda c: (c.t, c.l))
    heights = sorted(c.height for c in lines)
    median_h = heights[len(heights) // 2] or 1.0
    blocks: List[List[Cell]] = [[lines[0]]]
    for cell in lines[1:]:
        gap = cell.t - blocks[-1][-1].b
        if gap > BLOCK_GAP_FACTOR * median_h:
            blocks.append([cell])
        else:
            blocks[-1].append(cell)
    return blocks


def table_grid_from_cells(cells: List[Cell]) -> TableData:
    """Heuristic table structure from the text cells inside a table
    cluster — the model-free stand-in for TableFormer
    (models/table_structure_model.py:171-297, an NN): column cuts come
    from gaps in the union of cell x-intervals, row groups from
    vertical overlap (same rule as fragment merge); each cell lands in
    the row/column its center falls into. First row = column headers."""
    if not cells:
        return TableData(num_rows=0, num_cols=0)
    # column boundaries: project x-intervals, split where a gap appears
    xs = sorted((c.l, c.r) for c in cells)
    col_edges = [xs[0][0]]
    reach = xs[0][1]
    for l, r in xs[1:]:
        if l > reach:  # true vertical gutter
            col_edges.append(l)
            reach = r
        else:
            reach = max(reach, r)
    # row groups by vertical overlap, top-to-bottom
    rows: List[List[Cell]] = []
    for c in sorted(cells, key=lambda c: (c.t, c.l)):
        placed = False
        for row in rows:
            ref = row[0]
            overlap = min(c.b, ref.b) - max(c.t, ref.t)
            if overlap > 0.5 * min(c.height, ref.height):
                row.append(c)
                placed = True
                break
        if not placed:
            rows.append([c])

    def col_of(c: Cell) -> int:
        center = (c.l + c.r) / 2
        idx = 0
        for j, edge in enumerate(col_edges):
            if center >= edge:
                idx = j
        return idx

    data = TableData(num_rows=len(rows), num_cols=len(col_edges))
    for ri, row in enumerate(rows):
        by_col: Dict[int, List[Cell]] = {}
        for c in row:
            by_col.setdefault(col_of(c), []).append(c)
        for ci, group in by_col.items():
            text = " ".join(g.text.strip() for g in
                            sorted(group, key=lambda g: g.l)
                            if g.text.strip())
            data.cells.append(TableCell(
                text=text, start_row=ri, start_col=ci,
                column_header=(ri == 0)))
    return data


def _anchors(values: List[float], eps: float = 2.0) -> List[float]:
    """Cluster 1-D edge coordinates into grid anchors: sorted distinct
    values, merging runs closer than ``eps`` px (first value of each
    run wins — deterministic)."""
    out: List[float] = []
    for v in sorted(values):
        if not out or v - out[-1] > eps:
            out.append(v)
    return out


def table_grid_with_spans(cells: List[Cell],
                          tol: float = 1.0) -> TableData:
    """Span-aware heuristic table structure — the model-free stand-in
    for TableFormer's merged-cell output
    (models/table_structure_model.py:171-297 predicts OTSL structure
    tokens including row/col spans; here spans are inferred from pure
    geometry). Grid anchors are the clustered LEFT edges (columns) and
    TOP edges (rows) of the text cells — a merged cell never starts a
    new anchor band in the middle of itself, so anchor counting is
    robust to cells that bridge the gutters ``table_grid_from_cells``'s
    projection-gap rule would lose. A cell starts at the last anchor
    ≤ its own edge (+``tol``) and spans every further anchor strictly
    inside its extent (−``tol``); cells landing on the same
    (start_row, start_col) merge left-to-right. Row 0 cells are column
    headers, matching the plain-grid builder."""
    if not cells:
        return TableData(num_rows=0, num_cols=0)
    row_anchors = _anchors([c.t for c in cells])
    col_anchors = _anchors([c.l for c in cells])

    def place(anchors: List[float], lo: float, hi: float):
        start = 0
        for j, a in enumerate(anchors):
            if a <= lo + tol:
                start = j
        span = 1
        for a in anchors[start + 1:]:
            if a < hi - tol:
                span += 1
            else:
                break
        return start, span

    by_pos: Dict[tuple, List[Cell]] = {}
    spans: Dict[tuple, tuple] = {}
    for c in sorted(cells, key=lambda c: (c.t, c.l)):
        ri, rs = place(row_anchors, c.t, c.b)
        ci, cs = place(col_anchors, c.l, c.r)
        key = (ri, ci)
        by_pos.setdefault(key, []).append(c)
        prev = spans.get(key, (1, 1))
        spans[key] = (max(prev[0], rs), max(prev[1], cs))
    data = TableData(num_rows=len(row_anchors),
                     num_cols=len(col_anchors))
    for (ri, ci), group in sorted(by_pos.items()):
        rs, cs = spans[(ri, ci)]
        text = " ".join(g.text.strip() for g in
                        sorted(group, key=lambda g: (g.t, g.l))
                        if g.text.strip())
        data.cells.append(TableCell(
            text=text, start_row=ri, start_col=ci,
            row_span=rs, col_span=cs, column_header=(ri == 0)))
    return data


def _cluster_reading_order(clusters: List) -> List:
    """Column-aware reading order over labeled clusters: split into
    columns by x-gutters, read columns left-to-right, each top-to-
    bottom — the heuristic stand-in for the external reading-order
    predictor (readingorder_model.py:48-389; geometry-based so
    cell-less clusters like pictures land where they sit on the page,
    not at the end of the native-index sort)."""
    if not clusters:
        return clusters
    xs = sorted((c.bbox[0], c.bbox[2]) for c in clusters)
    edges = [xs[0][0]]
    reach = xs[0][1]
    for l, r in xs[1:]:
        if l > reach:
            edges.append(l)
            reach = r
        else:
            reach = max(reach, r)

    def col(c) -> int:
        center = (c.bbox[0] + c.bbox[2]) / 2
        idx = 0
        for j, e in enumerate(edges):
            if center >= e:
                idx = j
        return idx

    return sorted(clusters, key=lambda c: (col(c), c.bbox[1], c.bbox[0]))


def _bind_captions(clusters: List) -> List:
    """Move each caption cluster to directly after its nearest table or
    picture (vertical-gap nearest-above/below rule) — the heuristic
    stand-in for the reading-order model's caption→parent mapping
    (readingorder_model.py:371-377). Captions with no target stay put."""
    targets = [c for c in clusters if c.label in ("table", "picture")]
    if not targets:
        return clusters
    bound: Dict[int, List] = {}
    loose = []
    for c in clusters:
        if c.label != "caption":
            loose.append(c)
            continue
        best = min(targets, key=lambda t: min(
            abs(c.bbox[1] - t.bbox[3]),   # caption below target
            abs(t.bbox[1] - c.bbox[3])))  # caption above target
        bound.setdefault(best.id, []).append(c)
    out = []
    for c in loose:
        out.append(c)
        out.extend(bound.get(c.id, []))
    return out


def parse_page(payload: str) -> Dict:
    """One structured-page payload → dict with body block texts and
    furniture (header/footer) texts, in reading order."""
    page = decode_page(payload)
    merged = merge_horizontal_cells(sorted(page.cells, key=lambda c: c.index))

    headers = [c for c in merged if c.b <= HEADER_MARGIN_FRAC * page.height]
    footers = [c for c in merged
               if c.t >= (1 - FOOTER_MARGIN_FRAC) * page.height]
    body = [c for c in merged if c not in headers and c not in footers]

    blocks: List[str] = []
    for column in _split_columns(body, page.width):
        for block in _split_blocks(column):
            text = cell_text(block)
            if text:
                blocks.append(text)

    def _furn(cs: List[Cell]) -> List[str]:
        texts = (cell_text([c]) for c in sorted(cs, key=lambda c: (c.t, c.l)))
        return [t for t in texts if t]

    # Model-driven branch: when the payload carries layout-model
    # cluster predictions, the full reference postprocessing pipeline
    # runs (layout_postprocessor.py) and blocks come out labeled; the
    # geometric column/block heuristic above remains the model-free
    # default. Output: (label, text) pairs in reading order, furniture
    # labels included (page_items routes them).
    labeled_blocks: List = []
    if page.clusters:
        from .layout_post import postprocess_layout
        ordered = postprocess_layout(merged, page.clusters,
                                     (page.width, page.height))
        ordered = _bind_captions(_cluster_reading_order(ordered))
        for cluster in ordered:
            if cluster.label == "table":
                # model-free structure recovery (TableFormer slot)
                grid = table_grid_from_cells(cluster.cells)
                labeled_blocks.append(
                    ("table", serialize_table(grid)))
                continue
            text = cell_text(cluster.cells)
            if text or cluster.label == "picture":
                labeled_blocks.append((cluster.label, text))

    # OCR slot: plan query regions from any bitmap rects in the payload
    # (base_ocr_model.py:36-106); running an actual OCR engine over them
    # is a pluggable UDF slot (no engines in this environment). Planned
    # regions ride along so a downstream OCR pass needs no re-parse.
    ocr_regions: List = []
    if page.bitmap_rects:
        from .ocr_plan import plan_ocr_regions
        ocr_regions = plan_ocr_regions(page.width, page.height,
                                       page.bitmap_rects)

    return {
        "page_no": page.page_no,
        "blocks": blocks,
        "headers": _furn(headers),
        "footers": _furn(footers),
        "ocr_regions": ocr_regions,
        "labeled_blocks": labeled_blocks,
    }


# labels of page furniture: kept out of the body span sequence, like
# the reference's furniture layer (readingorder_model.py:332-334)
FURNITURE_LABELS = ("page_header", "page_footer")


def page_items(page: Dict) -> List[Tuple[str, str]]:
    """(label, text) pairs of one ``parse_page`` result in page order.
    A page with labeled blocks keeps their labels (page_assemble_model.py:
    83-155 label routing); a geometric page gives its headers as
    page_header, its blocks as text and its footers as page_footer.
    Items labeled in FURNITURE_LABELS are page furniture."""
    if page["labeled_blocks"]:
        return page["labeled_blocks"]
    return ([("page_header", t) for t in page["headers"]]
            + [("text", t) for t in page["blocks"]]
            + [("page_footer", t) for t in page["footers"]])


def parse_pdf_pages(page_payloads: List[str]) -> DocTree:
    """All pages of a document (offset order) → DocTree, furniture
    items in the furniture layer (excluded from the body span
    sequence)."""
    tree = DocTree()
    for payload in page_payloads:
        for label, text in page_items(parse_page(payload)):
            tree.add_text(label, text, layer=(
                FURNITURE if label in FURNITURE_LABELS else BODY))
    return tree
