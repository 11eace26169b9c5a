"""Layout postprocessing — cluster cleanup + cell mapping, page-local.

Clean-room re-implementation of the reference's largest in-repo
algorithm (/root/reference/docling/utils/layout_postprocessor.py:
159-670). It takes the raw output of a layout model — labeled bbox
clusters with confidences — plus the page's text cells, and produces
the cleaned, ordered clusters that page assembly consumes:

1. per-label confidence gate + TITLE→SECTION_HEADER remap (:252-261)
2. cell→cluster assignment: each cell goes to the cluster with max
   overlap-ratio > 0.2 (:569-603)
3. clusters with no cells dropped; orphan cells become TEXT clusters
   (:266-286)
4. ≤3 refinement rounds: bbox shrink-to-cells (tables: union) then
   overlap dedup (:288-297, :614-638)
5. overlap dedup: IoU > 0.8 or either-containment > 0.8 groups in a
   union-find; best-of-group by LIST_ITEM-vs-TEXT area similarity,
   CODE containment, then area/confidence params (:404-527)
6. special clusters: near-identical wrapper-vs-TABLE removal
   (overlap > 0.9 & conf-diff < 0.1, :367-402), full-page picture
   filter (area > 0.90 page, :309-319), containment > 0.8 regulars
   become children (FORM/KV bbox = union of children) (:321-349)
7. final ordering: clusters by (min cell index, top, left); cells by
   native index (:640-670)

Deviation (documented): candidate generation is a direct pairwise
check over the current cluster set instead of R-tree + interval-tree
queries against the *initial* bboxes (:49-157) — page-local cluster
counts are tiny, vectorization beats tree building, and checking
current bboxes can only find strictly more true overlaps.

Pure Python + NumPy-free (n ≈ 10²): runs inside Arrow-batched UDFs.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

BBox = Tuple[float, float, float, float]  # (l, t, r, b)

WRAPPER_LABELS = {"form", "key_value_region", "table", "document_index"}
SPECIAL_LABELS = WRAPPER_LABELS | {"picture"}

CONFIDENCE_THRESHOLDS: Dict[str, float] = {
    "caption": 0.5, "footnote": 0.5, "formula": 0.5, "list_item": 0.5,
    "page_footer": 0.5, "page_header": 0.5, "picture": 0.5,
    "section_header": 0.45, "table": 0.5, "text": 0.5, "title": 0.45,
    "code": 0.45, "checkbox_selected": 0.45, "checkbox_unselected": 0.45,
    "form": 0.45, "key_value_region": 0.45, "document_index": 0.45,
}

LABEL_REMAP = {"title": "section_header"}

# overlap dedup groups two clusters over either bound (step 5); a cell
# joins the cluster covering the largest share of it above MIN_OVERLAP
# (step 2)
IOU_THRESHOLD = 0.8
CONTAINMENT_THRESHOLD = 0.8
MIN_OVERLAP = 0.2

OVERLAP_PARAMS = {
    "regular": {"area_threshold": 1.3, "conf_threshold": 0.05},
    "picture": {"area_threshold": 2.0, "conf_threshold": 0.3},
    "wrapper": {"area_threshold": 2.0, "conf_threshold": 0.2},
}


@dataclass
class LayoutCluster:
    id: int
    label: str
    bbox: BBox
    confidence: float
    cells: List = field(default_factory=list)
    children: List["LayoutCluster"] = field(default_factory=list)


def _area(b: BBox) -> float:
    return max(b[2] - b[0], 0.0) * max(b[3] - b[1], 0.0)


def _intersection(a: BBox, b: BBox) -> float:
    w = min(a[2], b[2]) - max(a[0], b[0])
    h = min(a[3], b[3]) - max(a[1], b[1])
    return w * h if w > 0 and h > 0 else 0.0


def _cell_bbox(cell) -> BBox:
    return (cell.l, cell.t, cell.r, cell.b)


def _overlaps_enough(a: BBox, b: BBox) -> bool:
    area_a, area_b = _area(a), _area(b)
    if area_a <= 0 or area_b <= 0:
        return False
    inter = _intersection(a, b)
    if inter <= 0:
        return False
    iou = inter / (area_a + area_b - inter)
    return (iou > IOU_THRESHOLD or inter / area_a > CONTAINMENT_THRESHOLD
            or inter / area_b > CONTAINMENT_THRESHOLD)


class _UnionFind:
    def __init__(self, ids) -> None:
        self.parent = {i: i for i in ids}

    def find(self, x: int) -> int:
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra

    def groups(self) -> List[List[int]]:
        out: Dict[int, List[int]] = {}
        for x in self.parent:
            out.setdefault(self.find(x), []).append(x)
        return list(out.values())


def _dedup_cells(cells: List) -> List:
    seen = set()
    out = []
    for c in cells:
        if c.index not in seen:
            seen.add(c.index)
            out.append(c)
    return out


def _sort_cells(cells: List) -> List:
    return sorted(cells, key=lambda c: c.index)


def _sort_clusters(clusters: List[LayoutCluster]) -> List[LayoutCluster]:
    return sorted(clusters, key=lambda c: (
        min((cell.index for cell in c.cells), default=sys.maxsize),
        c.bbox[1], c.bbox[0]))


def _prefer(candidate: LayoutCluster, other: LayoutCluster,
            params: dict) -> bool:
    """Keep `candidate` when compared against `other`?
    (layout_postprocessor.py:404-439)."""
    if candidate.label == "list_item" and other.label == "text":
        ratio = _area(candidate.bbox) / _area(other.bbox)
        if abs(1 - ratio) < 0.2:
            return True
    if candidate.label == "code":
        inter = _intersection(other.bbox, candidate.bbox)
        if _area(other.bbox) > 0 and inter / _area(other.bbox) > 0.8:
            return True
    area_ratio = _area(candidate.bbox) / _area(other.bbox)
    conf_diff = other.confidence - candidate.confidence
    if (area_ratio <= params["area_threshold"]
            and conf_diff > params["conf_threshold"]):
        return False
    return True


def _best_of_group(group: List[LayoutCluster],
                   params: dict) -> LayoutCluster:
    best: Optional[LayoutCluster] = None
    for cand in group:
        if any(not _prefer(cand, other, params)
               for other in group if other is not cand):
            continue
        if best is None:
            best = cand
        elif (_area(cand.bbox) > _area(best.bbox)
              and best.confidence - cand.confidence
              <= params["conf_threshold"]):
            best = cand
    return best if best is not None else group[0]


def _remove_overlapping(clusters: List[LayoutCluster],
                        kind: str) -> List[LayoutCluster]:
    if not clusters:
        return []
    params = OVERLAP_PARAMS[kind]
    uf = _UnionFind([c.id for c in clusters])
    by_id = {c.id: c for c in clusters}
    ids = list(by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if _overlaps_enough(by_id[a].bbox, by_id[b].bbox):
                uf.union(a, b)
    result = []
    for group_ids in uf.groups():
        if len(group_ids) == 1:
            result.append(by_id[group_ids[0]])
            continue
        group = [by_id[i] for i in group_ids]
        best = _best_of_group(group, params)
        for c in group:
            if c is not best:
                best.cells.extend(c.cells)
        best.cells = _sort_cells(_dedup_cells(best.cells))
        result.append(best)
    return result


def _assign_cells(cells: Sequence,
                  clusters: List[LayoutCluster]) -> List[LayoutCluster]:
    for cluster in clusters:
        cluster.cells = []
    for cell in cells:
        if not cell.text.strip():
            continue
        cb = _cell_bbox(cell)
        ca = _area(cb)
        if ca <= 0:
            continue
        best_ratio = MIN_OVERLAP
        best: Optional[LayoutCluster] = None
        for cluster in clusters:
            ratio = _intersection(cb, cluster.bbox) / ca
            if ratio > best_ratio:
                best_ratio = ratio
                best = cluster
        if best is not None:
            best.cells.append(cell)
    for cluster in clusters:
        cluster.cells = _dedup_cells(cluster.cells)
    return clusters


def _shrink_bboxes(clusters: List[LayoutCluster]) -> List[LayoutCluster]:
    for c in clusters:
        if not c.cells:
            continue
        cb = (min(x.l for x in c.cells), min(x.t for x in c.cells),
              max(x.r for x in c.cells), max(x.b for x in c.cells))
        if c.label == "table":  # tables only ever grow
            c.bbox = (min(c.bbox[0], cb[0]), min(c.bbox[1], cb[1]),
                      max(c.bbox[2], cb[2]), max(c.bbox[3], cb[3]))
        else:
            c.bbox = cb
    return clusters


def postprocess_layout(
    cells: Sequence,
    clusters: List[LayoutCluster],
    page_size: Tuple[float, float],
) -> List[LayoutCluster]:
    """Full pipeline (layout_postprocessor.py:218-297). ``cells`` are
    page text cells with index/text/l/t/r/b; returns cleaned clusters
    in reading order with their cells attached."""
    regular = [c for c in clusters if c.label not in SPECIAL_LABELS]
    special = [c for c in clusters if c.label in SPECIAL_LABELS]

    # --- regular pipeline -------------------------------------------------
    regular = [c for c in regular
               if c.confidence >= CONFIDENCE_THRESHOLDS.get(c.label, 0.5)]
    for c in regular:
        c.label = LABEL_REMAP.get(c.label, c.label)
    regular = _assign_cells(cells, regular)
    regular = [c for c in regular if c.cells]

    assigned = {cell.index for c in regular for cell in c.cells}
    next_id = max((c.id for c in clusters), default=0) + 1
    for cell in cells:
        if cell.index not in assigned and cell.text.strip():
            regular.append(LayoutCluster(
                id=next_id, label="text", bbox=_cell_bbox(cell),
                confidence=getattr(cell, "confidence", 1.0), cells=[cell]))
            next_id += 1

    prev = len(regular) + 1
    for _ in range(3):
        if prev == len(regular):
            break
        prev = len(regular)
        regular = _shrink_bboxes(regular)
        regular = _remove_overlapping(regular, "regular")

    # --- special pipeline -------------------------------------------------
    special = [c for c in special
               if c.confidence >= CONFIDENCE_THRESHOLDS.get(c.label, 0.5)]

    # near-identical wrapper-vs-TABLE proposals drop the wrapper
    doomed = set()
    for wrapper in special:
        if wrapper.label not in WRAPPER_LABELS:
            continue
        wa = _area(wrapper.bbox)
        if wa <= 0:
            continue
        for reg in regular:
            if reg.label != "table":
                continue
            ratio = _intersection(reg.bbox, wrapper.bbox) / wa
            if ratio > 0.9 and wrapper.confidence - reg.confidence < 0.1:
                doomed.add(wrapper.id)
                break
    special = [c for c in special if c.id not in doomed]

    page_area = page_size[0] * page_size[1]
    if page_area > 0:
        special = [c for c in special
                   if not (c.label == "picture"
                           and _area(c.bbox) / page_area > 0.90)]

    for sp in special:
        contained = []
        for reg in regular:
            inter = _intersection(reg.bbox, sp.bbox)
            if inter > 0 and _area(reg.bbox) > 0 \
                    and inter / _area(reg.bbox) > 0.8:
                contained.append(reg)
        if contained:
            sp.children = _sort_clusters(contained)
            if sp.label in ("form", "key_value_region"):
                sp.bbox = (min(c.bbox[0] for c in contained),
                           min(c.bbox[1] for c in contained),
                           max(c.bbox[2] for c in contained),
                           max(c.bbox[3] for c in contained))
            all_cells: List = []
            for child in sp.children:
                all_cells.extend(child.cells)
            sp.cells = _sort_cells(_dedup_cells(all_cells))

    pictures = _remove_overlapping(
        [c for c in special if c.label == "picture"], "picture")
    wrappers = _remove_overlapping(
        [c for c in special if c.label in WRAPPER_LABELS], "wrapper")
    special = pictures + wrappers

    # regular clusters swallowed by wrappers disappear from the top level
    child_ids = {child.id for sp in special for child in sp.children}
    regular = [c for c in regular if c.id not in child_ids]

    final = _sort_clusters(regular + special)
    for c in final:
        c.cells = _sort_cells(c.cells)
        for child in c.children:
            child.cells = _sort_cells(child.cells)
    return final
