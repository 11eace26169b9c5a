"""Real-corpus PDF page source: the reference's own per-page cell
dumps (`tests/data/groundtruth/docling_v2/*.pages.json`) loaded into
the engine's (doc_id, spans) corpus shape.

Each fixture file is the list of `Page` models docling serialized
after a real conversion: per page the parsed text cells (quad rects +
text, datamodel/base_models.py via docling-core's SegmentedPdfPage),
the layout-model predictions (`predictions.layout.clusters`), and the
assembled groundtruth (`assembled.elements/body/headers`) this
engine's output is verified against.

The payload carries ONLY the inputs a conversion would have — cells
and model predictions. The `assembled` groundtruth is deliberately
NOT copied into the payload; it is read exclusively by the DuckDB
oracle / pytest side as the expected output.

Cell quads convert to bounding boxes exactly like the reference's
`rect.to_bounding_box()` (TOPLEFT origin: l/t = min, r/b = max over
the four corners) — the same rule `verify_cells`
(tests/verify_utils.py:59-88) applies before comparing.

Scale note: the 9 fixtures are driver-side reads by construction
(bounded, test corpus). The production-shape equivalent is a table
scan of the same payload column — `jobs/extract.py` consumes any
(doc_id, spans) frame, so swapping this loader for
``spark.read.table(...)`` changes nothing downstream.
"""

from __future__ import annotations

import glob
import json
import os
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..parsers.pdf_page import encode_page

REAL_PAGES_GLOB = (
    "/root/reference/tests/data/groundtruth/docling_v2/*.pages.json")


def quad_to_bbox(rect: dict) -> Tuple[float, float, float, float]:
    """Quad corners → (l, t, r, b), the reference's
    ``BoundingRectangle.to_bounding_box()`` for TOPLEFT pages."""
    xs = [rect["r_x0"], rect["r_x1"], rect["r_x2"], rect["r_x3"]]
    ys = [rect["r_y0"], rect["r_y1"], rect["r_y2"], rect["r_y3"]]
    return min(xs), min(ys), max(xs), max(ys)


def page_payload(page: dict) -> str:
    """One fixture Page → the engine's structured-page payload
    (parsers/pdf_page.encode_page). Cells keep the file (backend)
    order; clusters keep the stored prediction order."""
    cells = [(int(c.get("index", i)), c.get("text", ""),
              *quad_to_bbox(c["rect"]))
             for i, c in enumerate(page.get("cells", []))]
    layout = (page.get("predictions") or {}).get("layout") or {}
    clusters = [(int(cl.get("id", i)), str(cl.get("label", "text")),
                 float(cl.get("confidence", 1.0)),
                 cl["bbox"]["l"], cl["bbox"]["t"],
                 cl["bbox"]["r"], cl["bbox"]["b"])
                for i, cl in enumerate(layout.get("clusters") or [])]
    return encode_page(int(page.get("page_no", 0)),
                       float(page["size"]["width"]),
                       float(page["size"]["height"]), cells, clusters)


def fixture_docs() -> List[tuple]:
    """[(doc_id, [(kind, payload, media_ref, offset), ...]), ...]
    rows in the engine's INPUT_SCHEMA shape, one per fixture doc."""
    rows = []
    for path in sorted(glob.glob(REAL_PAGES_GLOB)):
        doc_id = os.path.basename(path)[: -len(".pages.json")]
        pages = json.loads(open(path, encoding="utf-8").read())
        spans = [("pdf_page", page_payload(p), "", int(p.get("page_no", i)))
                 for i, p in enumerate(pages)]
        rows.append((doc_id, spans))
    return rows


def corpus_real_pdf_pages(spark: SparkSession) -> DataFrame:
    """(doc_id, spans) corpus over the reference's real page dumps."""
    from ..schema import INPUT_SCHEMA

    return spark.createDataFrame(
        fixture_docs(), schema=INPUT_SCHEMA)
