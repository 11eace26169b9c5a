"""DocTags parser — the input half of the reference's VLM pipeline.

The reference's ``VlmPipeline`` turns a page image into DocTags markup
and parses that markup back into a ``DoclingDocument``
(/root/reference/docling/pipeline/vlm_pipeline.py:31-214; the parse
lives in docling-core's ``DocTagsDocument``). The VLM itself is a GPU
model and stays an out-of-scope pluggable slot (SURVEY.md §2.4), but
the *parse* step is pure text processing: this module re-builds it from
the dialect observed in the reference's 11 shipped
``*.doctags.txt`` goldens
(/root/reference/tests/data/groundtruth/docling_v2) — the same
reverse-built-dialect approach as doctags_dialect.py (the renderer
twin). Parity gate: parsing each golden reproduces the span sequence
of its groundtruth JSON (tests/test_doctags_parser.py).

Dialect (see doctags_dialect.py for the renderer's view):

* ``<doctag>`` … ``</doctag>`` wrapper; ``<page_break>`` separators.
* loc tokens ``<loc_N>`` (0-500 grid) follow every open tag — one quad
  per provenance entry; stripped here (the engine's span contract
  carries no geometry).
* text-ish items ``<label>{locs}text</label>`` with
  ``section_header_level_{n}`` carrying the heading level;
  ``page_header``/``page_footer`` are furniture-layer (skipped from
  the body span sequence, same rule as golden_spans'
  ``content_layer`` check).
* ``<code>{locs}<_lang_>text</code>`` — the language token is part of
  the dialect, dropped into ``Node.name``.
* lists: ``<unordered_list>``/``<ordered_list>`` wrap ``<list_item>``
  children; other group kinds are transparent (unrecoverable, and
  irrelevant to span parity since flatten skips groups).
* tables: ``<otsl>{locs}{cell stream}{caption?}</otsl>`` with the OTSL
  tokens ``<fcel>`` filled / ``<ched>`` column header / ``<rhed>`` row
  header / ``<srow>`` section row / ``<ecel>`` empty / ``<lcel>``
  left-span continuation / ``<ucel>`` up-span / ``<xcel>`` both /
  ``<nl>`` row end.
* pictures: ``<picture>{locs}{caption?}</picture>``.
* captions nest inside their owner; the parser re-materializes them as
  the owner's first tree child (the groundtruth JSONs bind captions as
  children of the table/picture, so depth-first span order matches).

Anything between structural tokens that is not itself a known token is
TEXT — goldens contain literal ``<td>``, ``<tr>``, ``<tildelow>`` etc.
inside cell/code content, so the tokenizer matches only the closed
vocabulary above and never treats unknown angle-runs as structure.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from ..doctree import FURNITURE, DocTree, Node, TableCell, TableData

# text-ish item labels (DocItemLabel vocabulary as it appears in the
# goldens + the remaining declarative-backend kinds the engine emits)
TEXT_LABELS = (
    "title|text|paragraph|list_item|formula|footnote|caption|"
    "page_header|page_footer|checkbox_selected|checkbox_unselected|"
    "reference|chart"
)

_TOKEN_RE = re.compile(
    r"</?(?:doctag|unordered_list|ordered_list|otsl|picture|code|"
    rf"{TEXT_LABELS}|section_header_level_\d+)>"
    r"|<(?:page_break|fcel|ecel|ched|rhed|srow|lcel|ucel|xcel|nl)>"
    r"|<loc_\d+>"
    r"|<_[a-zA-Z0-9_-]*_>"
)

_FURNITURE_LABELS = {"page_header", "page_footer"}


def _tokenize(payload: str) -> List[Tuple[str, int, int]]:
    """(token_text, start, end) for every structural token."""
    return [(m.group(0), m.start(), m.end())
            for m in _TOKEN_RE.finditer(payload)]


def _clean(text: str) -> str:
    """Inter-token text: the renderer terminates each element with a
    newline that is layout, not content."""
    return text.strip("\n")


class _Parser:
    def __init__(self, payload: str) -> None:
        self.payload = payload
        self.toks = _tokenize(payload)
        self.i = 0
        self.tree = DocTree()

    # -- token helpers ----------------------------------------------------

    def _next(self) -> Tuple[str, int, int]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def _text_until(self, close: str) -> str:
        """Raw text from the current position to the matching close
        token, skipping loc tokens; consumes the close token."""
        parts: List[str] = []
        pos = self.toks[self.i - 1][2] if self.i > 0 else 0
        while self.i < len(self.toks):
            tok, start, end = self.toks[self.i]
            if start > pos:
                parts.append(self.payload[pos:start])
            pos = end
            self.i += 1
            if tok == close:
                break
            if tok.startswith("<loc_") or tok.startswith("<_"):
                continue
            # unknown structural token inside a text item: keep as text
            parts.append(tok)
        return _clean("".join(parts))

    # -- items ------------------------------------------------------------

    def parse(self) -> DocTree:
        group_stack: List[Node] = []
        while self.i < len(self.toks):
            tok, start, end = self._next()
            parent = group_stack[-1] if group_stack else None
            if tok in ("<doctag>", "</doctag>", "<page_break>"):
                continue
            if tok in ("<unordered_list>", "<ordered_list>"):
                label = "list" if tok == "<unordered_list>" else "ordered_list"
                group_stack.append(
                    self.tree.add_group(label, parent=parent))
            elif tok in ("</unordered_list>", "</ordered_list>"):
                if group_stack:
                    group_stack.pop()
            elif tok == "<otsl>":
                self._parse_table(parent)
            elif tok == "<picture>":
                self._parse_picture(parent)
            elif tok == "<code>":
                self._parse_code(parent)
            elif tok.startswith("<section_header_level_"):
                level = int(tok[len("<section_header_level_"):-1])
                text = self._text_until(
                    f"</section_header_level_{level}>")
                self.tree.add_heading(text, level, parent=parent)
            elif tok.startswith("</"):
                continue  # stray close (resilience)
            elif tok.startswith("<loc_"):
                continue
            else:
                label = tok[1:-1]
                text = self._text_until(f"</{label}>")
                layer = FURNITURE if label in _FURNITURE_LABELS else "body"
                self.tree.add_text(label, text, parent=parent, layer=layer)
        return self.tree

    def _parse_code(self, parent: Optional[Node]) -> None:
        # <code>{locs}<_lang_>text</code>; the language token is dialect
        lang = ""
        save = self.i
        while self.i < len(self.toks):
            tok = self.toks[self.i][0]
            if tok.startswith("<loc_"):
                self.i += 1
                continue
            if tok.startswith("<_") and tok.endswith("_>"):
                lang = tok[2:-2]
                self.i += 1
            break
        if self.i == save and lang == "":
            pass
        text = self._text_until("</code>")
        node = self.tree.add_code(text, parent=parent)
        node.name = lang

    def _parse_caption(self, owner: Node, parent: Optional[Node]) -> None:
        text = self._text_until("</caption>")
        cap = Node(kind="caption", text=text)
        owner.add(cap)  # child of the owner: DFS emits owner, then caption
        owner.caption = cap

    def _parse_picture(self, parent: Optional[Node]) -> None:
        node = self.tree.add_picture(parent=parent)
        while self.i < len(self.toks):
            tok, _, _ = self._next()
            if tok == "</picture>":
                break
            if tok == "<caption>":
                self._parse_caption(node, parent)

    def _parse_table(self, parent: Optional[Node]) -> None:
        """OTSL cell stream → TableData. Grid reconstruction: origin
        cells open a (row_span, col_span)=(1,1) rectangle; ``<lcel>``
        extends the origin to its left, ``<ucel>`` the origin above,
        ``<xcel>`` the origin up-left (continuations always point at an
        already-placed origin, so one pass suffices)."""
        rows: List[List[Tuple[str, str]]] = [[]]
        caption_pending: List[str] = []
        node = self.tree.add_table(TableData(0, 0), parent=parent)
        pos = self.toks[self.i - 1][2] if self.i > 0 else 0
        pending_origin: Optional[Tuple[str, int, int]] = None  # tok,r,c

        def flush_text(upto: int) -> str:
            return self.payload[pos:upto]

        while self.i < len(self.toks):
            tok, start, end = self._next()
            txt = flush_text(start)
            if pending_origin is not None:
                kind, r, c = pending_origin
                rows[r][c] = (kind, _clean(txt))
                pending_origin = None
            pos = end
            if tok == "</otsl>":
                break
            if tok.startswith("<loc_"):
                continue
            if tok == "<caption>":
                self._parse_caption(node, parent)
                pos = self.toks[self.i - 1][2]
                continue
            if tok == "<nl>":
                rows.append([])
                continue
            if tok in ("<fcel>", "<ched>", "<rhed>", "<srow>"):
                r = len(rows) - 1
                rows[r].append(("", ""))
                pending_origin = (tok[1:-1], r, len(rows[r]) - 1)
            elif tok in ("<ecel>", "<lcel>", "<ucel>", "<xcel>"):
                rows[-1].append((tok[1:-1], ""))
        if rows and not rows[-1]:
            rows.pop()
        node.table = _grid_to_tabledata(rows)


def _grid_to_tabledata(rows: List[List[Tuple[str, str]]]) -> TableData:
    num_rows = len(rows)
    num_cols = max((len(r) for r in rows), default=0)
    cells: List[TableCell] = []
    origin: dict = {}  # (r, c) -> TableCell
    for r, row in enumerate(rows):
        for c, (kind, text) in enumerate(row):
            if kind in ("fcel", "ched", "rhed", "srow"):
                cell = TableCell(
                    text=text, start_row=r, start_col=c,
                    column_header=(kind == "ched"),
                    row_header=(kind == "rhed"))
                cells.append(cell)
                origin[(r, c)] = cell
            elif kind == "lcel":
                src = origin.get((r, c - 1))
                if src is not None:
                    src.col_span = max(src.col_span, c - src.start_col + 1)
                    origin[(r, c)] = src
            elif kind == "ucel":
                src = origin.get((r - 1, c))
                if src is not None:
                    src.row_span = max(src.row_span, r - src.start_row + 1)
                    origin[(r, c)] = src
            elif kind == "xcel":
                src = origin.get((r - 1, c)) or origin.get((r, c - 1))
                if src is not None:
                    src.row_span = max(src.row_span, r - src.start_row + 1)
                    src.col_span = max(src.col_span, c - src.start_col + 1)
                    origin[(r, c)] = src
            # ecel: empty grid slot — omitted from cells (the canonical
            # serialization pads missing slots with empty placeholders)
    return TableData(num_rows=num_rows, num_cols=num_cols, cells=cells)


def parse_doctags(payload: str) -> DocTree:
    """DocTags markup → DocTree (spans via doctree.flatten)."""
    return _Parser(payload).parse()
