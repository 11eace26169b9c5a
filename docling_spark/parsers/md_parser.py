"""Markdown parser — stdlib re-implementation of the reference's
Markdown backend semantics (/root/reference/docling/backend/md_backend.py,
a marko-AST walk) over a CommonMark-subset block parser.

Reproduced behaviors (reference line cites):
* underscore-run clamp (md_backend.py:39-60)
* pipe-table line buffering on the "|" RawText heuristic + separator-row
  skip + header=row0 (md_backend.py:102-157, 268-283)
* inline-text coalescing: RawText chunks joined with " "
  (md_backend.py:159-169)
* heading level 1 → title, else section_header (md_backend.py:183-216)
* list group only when a non-empty item exists; item text = the FIRST
  raw-text chunk of the item's first paragraph, whole first paragraph
  consumed (md_backend.py:219-251)
* image title (not alt) → caption + picture (md_backend.py:253-266)
* code spans / code blocks → code items (md_backend.py:285-303)
* HTML blocks wrapped in markers and the whole document delegated to
  the HTML backend (md_backend.py:33-35, 305-318, 389-423) — here the
  tree is rendered to HTML with markers stripped inline and re-parsed
  by parse_html_document.

This module is pure Python + stdlib: it runs inside Arrow-batched
pandas UDF workers.
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass, field
from typing import List, Optional

from ..doctree import (
    KIND_CAPTION,
    DocTree,
    Node,
    TableCell,
    TableData,
)

_MARKER_BODY = "DOCLING_DOC_MD_HTML_EXPORT"
_START_MARKER = f"#_#_{_MARKER_BODY}_START_#_#"
_STOP_MARKER = f"#_#_{_MARKER_BODY}_STOP_#_#"

# paragraph blocks in MD use the reference's PARAGRAPH label
KIND_PARAGRAPH = "paragraph"

# CommonMark type-6 HTML block tags (subset covering the backend's use)
_HTML_BLOCK_TAGS = (
    "address|article|aside|blockquote|body|caption|center|col|colgroup|dd|"
    "details|dialog|dir|div|dl|dt|fieldset|figcaption|figure|footer|form|"
    "frame|frameset|h1|h2|h3|h4|h5|h6|head|header|hr|html|iframe|legend|li|"
    "link|main|menu|menuitem|nav|noframes|ol|optgroup|option|p|param|"
    "section|source|summary|table|tbody|td|tfoot|th|thead|title|tr|track|ul"
)
_HTML_BLOCK_RE = re.compile(
    rf"^ {{0,3}}</?({_HTML_BLOCK_TAGS})[\s/>]", re.IGNORECASE)
_HTML_COMMENT_RE = re.compile(r"^ {0,3}<!--")

_ATX_RE = re.compile(r"^ {0,3}(#{1,6})(?:[ \t]+(.*?))?[ \t]*#*[ \t]*$")
_FENCE_RE = re.compile(r"^ {0,3}(```+|~~~+)[ \t]*([^`]*)$")
_BULLET_RE = re.compile(r"^( *)([-*+])([ \t]+(.*))?[ \t]*$")
_ORDERED_RE = re.compile(r"^( *)(\d{1,9})([.)])([ \t]+(.*))?[ \t]*$")


MAX_UNDERSCORE_RUN = 10


def shorten_underscore_sequences(text: str) -> str:
    """Clamp pathological underscore runs (md_backend.py:39-60)."""
    return re.sub(r"_+",
                  lambda m: "_" * min(len(m.group(0)), MAX_UNDERSCORE_RUN),
                  text)


def _expand_leading_tabs(line: str) -> str:
    """CommonMark: tabs in leading whitespace advance to 4-col stops."""
    out = []
    col = 0
    for idx, ch in enumerate(line):
        if ch == "\t":
            step = 4 - (col % 4)
            out.append(" " * step)
            col += step
        elif ch == " ":
            out.append(" ")
            col += 1
        else:
            out.append(line[idx:])
            break
    return "".join(out)


# ---------------------------------------------------------------------------
# block model


@dataclass
class Block:
    kind: str  # heading | paragraph | list | list_item | code | html
    level: int = 0
    lines: List[str] = field(default_factory=list)
    ordered: bool = False
    children: List["Block"] = field(default_factory=list)
    text: str = ""


def _parse_blocks(lines: List[str]) -> List[Block]:
    """CommonMark-subset block parser: ATX headings, fenced + indented
    code, bullet/ordered lists with indentation nesting, HTML blocks,
    paragraphs."""
    blocks: List[Block] = []
    i = 0
    n = len(lines)
    while i < n:
        line = lines[i]
        stripped = line.strip()

        if not stripped:
            i += 1
            continue

        m = _FENCE_RE.match(line)
        if m:
            fence = m.group(1)
            body: List[str] = []
            i += 1
            while i < n and not lines[i].strip().startswith(fence[:3]):
                body.append(lines[i])
                i += 1
            i += 1  # closing fence
            blocks.append(Block(kind="code", text="\n".join(body)))
            continue

        m = _ATX_RE.match(line)
        if m:
            blocks.append(Block(kind="heading", level=len(m.group(1)),
                                text=(m.group(2) or "").strip()))
            i += 1
            continue

        if _HTML_COMMENT_RE.match(line):
            # CommonMark type-2 HTML block: runs to the line containing
            # '-->' (may span blank lines)
            body = [line]
            i += 1
            while "-->" not in body[-1] and i < n:
                body.append(lines[i])
                i += 1
            blocks.append(Block(kind="html", text="\n".join(body)))
            continue

        if _HTML_BLOCK_RE.match(line):
            body = [line]
            i += 1
            while i < n and lines[i].strip():
                body.append(lines[i])
                i += 1
            blocks.append(Block(kind="html", text="\n".join(body)))
            continue

        bm = _BULLET_RE.match(line)
        om = _ORDERED_RE.match(line)
        if bm or om:
            i, lst = _parse_list(lines, i)
            blocks.append(lst)
            continue

        if line.startswith("    "):
            # indented code block (only reachable at top level after a
            # blank line, which the paragraph loop below guarantees)
            body = []
            while i < n and (lines[i].startswith("    ")
                             or not lines[i].strip()):
                if not lines[i].strip() and not any(
                        lines[j].startswith("    ")
                        for j in range(i + 1, min(i + 2, n))):
                    break
                body.append(lines[i][4:] if lines[i].startswith("    ")
                            else "")
                i += 1
            blocks.append(Block(kind="code", text="\n".join(body)))
            continue

        # paragraph: consecutive non-blank, non-structural lines
        para: List[str] = [line]
        i += 1
        while i < n:
            nxt = lines[i]
            if (not nxt.strip() or _ATX_RE.match(nxt) or _FENCE_RE.match(nxt)
                    or _BULLET_RE.match(nxt) or _ORDERED_RE.match(nxt)
                    or _HTML_BLOCK_RE.match(nxt)
                    or _HTML_COMMENT_RE.match(nxt)):
                break
            para.append(nxt)
            i += 1
        blocks.append(Block(kind="paragraph", lines=para))
    return blocks


def _list_marker(line: str):
    bm = _BULLET_RE.match(line)
    if bm:
        indent = len(bm.group(1))
        content = bm.group(4) or ""
        content_col = indent + 2
        return indent, False, content, content_col, bm.group(2)
    om = _ORDERED_RE.match(line)
    if om:
        indent = len(om.group(1))
        content = om.group(5) or ""
        content_col = indent + len(om.group(2)) + 2
        return indent, True, content, content_col, om.group(3)
    return None


def _parse_list(lines: List[str], i: int):
    """Parse one list starting at lines[i]; returns (next_i, Block)."""
    n = len(lines)
    first = _list_marker(lines[i])
    assert first is not None
    base_indent, ordered, _, _, base_char = first
    lst = Block(kind="list", ordered=ordered)

    while i < n:
        line = lines[i]
        if not line.strip():
            # blank line: list continues if the next non-blank line is
            # an item or indented continuation
            j = i + 1
            while j < n and not lines[j].strip():
                j += 1
            if j >= n:
                break
            nxt = lines[j]
            mk = _list_marker(nxt)
            if mk and mk[0] >= base_indent:
                i = j
                continue
            if len(nxt) - len(nxt.lstrip(" ")) > base_indent:
                i = j
                continue
            break
        mk = _list_marker(line)
        if mk is None or mk[0] < base_indent:
            break
        indent, item_ordered, content, content_col, mchar = mk
        if indent == base_indent and mchar != base_char:
            # CommonMark: changing the bullet/delimiter character at
            # the same level starts a NEW list block (marko semantics,
            # pinned by the nested.md golden)
            break
        if indent > base_indent:
            # deeper marker without an enclosing item: treat as nested
            # content of the previous item
            if lst.children:
                lst.children[-1].lines.append(line)
                i += 1
                continue
        # new item at base level
        item = Block(kind="list_item")
        if content.strip():
            item.lines.append(content)
        i += 1
        # continuation: lines indented to at least content_col
        while i < n:
            cont = lines[i]
            if not cont.strip():
                # look ahead: blank inside item keeps item if deeper
                # content follows
                j = i + 1
                while j < n and not lines[j].strip():
                    j += 1
                if j < n and (len(lines[j]) - len(lines[j].lstrip(" "))
                              >= content_col):
                    item.lines.append("")
                    i = j
                    continue
                break
            ind = len(cont) - len(cont.lstrip(" "))
            if ind >= content_col:
                item.lines.append(cont[content_col:])
                i += 1
                continue
            break
        # recursively parse the item's interior
        item.children = _parse_blocks_item(item.lines)
        item.lines = []
        lst.children.append(item)
    return i, lst


def _parse_blocks_item(lines: List[str]) -> List[Block]:
    """Item interiors: first line(s) form the lead paragraph; nested
    structures parse recursively. Indented-code inside items is rare
    and not produced by the reference fixtures — treated as text."""
    return _parse_blocks(lines)


# ---------------------------------------------------------------------------
# inline model: a paragraph line → sequence of (type, payload) events


_CODESPAN_RE = re.compile(r"`([^`]+)`")
_IMAGE_RE = re.compile(
    r'!\[(?P<alt>[^\]]*)\]\((?P<dest>\S*?)(?:\s+"(?P<title>[^"]*)")?\)')
_LINK_RE = re.compile(r"\[([^\]]+)\]\((\S*?)(?:\s+\"[^\"]*\")?\)")
_EMPH_RE = re.compile(r"(\*\*|__)(.+?)\1|(\*|\b_)(.+?)\3")


def _inline_events(line: str) -> List[tuple]:
    """Split one raw line into ('text'|'code'|'image', payload) events,
    mirroring marko's inline order within a RawText run."""
    events: List[tuple] = []
    pos = 0
    spans = []
    for m in _CODESPAN_RE.finditer(line):
        spans.append((m.start(), m.end(), "code", m.group(1)))
    for m in _IMAGE_RE.finditer(line):
        spans.append((m.start(), m.end(), "image",
                      (m.group("dest"), m.group("title") or "")))
    spans.sort()
    for start, end, kind, payload in spans:
        if start < pos:
            continue
        if start > pos:
            events.append(("text", line[pos:start]))
        events.append((kind, payload))
        pos = end
    if pos < len(line):
        events.append(("text", line[pos:]))
    # strip link/emphasis markup from text events (marko descends into
    # them; the raw text contributions concatenate without the markers)
    out: List[tuple] = []
    for kind, payload in events:
        if kind == "text":
            t = _LINK_RE.sub(r"\1", payload)
            t = _EMPH_RE.sub(
                lambda m: m.group(2) if m.group(2) is not None
                else m.group(4), t)
            out.append((kind, t))
        else:
            out.append((kind, payload))
    return out


# ---------------------------------------------------------------------------
# the walker (mirrors md_backend._iterate_elements state machine)


class _Walker:
    def __init__(self) -> None:
        self.tree = DocTree()
        self.in_table = False
        self.table_buffer: List[str] = []
        self.inline_texts: List[str] = []
        self.html_blocks = 0

    def flush_inline(self, parent: Optional[Node]) -> None:
        txt = " ".join(self.inline_texts)
        if txt:
            self.tree.add_text(KIND_PARAGRAPH, txt, parent=parent)
        self.inline_texts = []

    def close_table(self) -> None:
        if not self.in_table:
            return
        rows: List[List[str]] = []
        for idx, raw in enumerate(self.table_buffer):
            if idx == 1:
                continue  # separator row (md_backend.py:113-121)
            cells = [t.strip() for t in raw.split("|")[1:-1]]
            rows.append(cells)
        self.in_table = False
        self.table_buffer = []
        if not rows or not rows[0]:
            return
        num_rows, num_cols = len(rows), len(rows[0])
        tcells = []
        for r, row in enumerate(rows):
            for c, val in enumerate(row[:num_cols]):
                tcells.append(TableCell(
                    text=val.strip(), start_row=r, start_col=c,
                    column_header=(r == 0)))
        if tcells:
            self.tree.add_table(
                TableData(num_rows=num_rows, num_cols=num_cols,
                          cells=tcells))

    # -- block dispatch ----------------------------------------------------

    def walk(self, blocks: List[Block], parent: Optional[Node]) -> None:
        for b in blocks:
            getattr(self, f"_on_{b.kind}")(b, parent)

    def _on_heading(self, b: Block, parent: Optional[Node]) -> None:
        if not b.text:
            return  # empty heading: len(children)==0 → skipped
        self.close_table()
        self.flush_inline(parent)
        text = "".join(
            p for k, p in _inline_events(b.text) if k == "text")
        if not text:
            return
        if b.level == 1:
            self.tree.add_title(text, parent=parent)
        else:
            self.tree.add_heading(text, b.level - 1, parent=parent)

    def _on_list(self, b: Block, parent: Optional[Node]) -> None:
        self.close_table()
        self.flush_inline(parent)
        has_items = any(c.children or c.lines for c in b.children)
        group = parent
        if has_items:
            group = self.tree.add_group(
                "ordered_list" if b.ordered else "list", name="list",
                parent=parent)
        for item in b.children:
            self._on_list_item(item, group, ordered=b.ordered)

    def _on_list_item(self, b: Block, parent: Optional[Node],
                      ordered: bool = False) -> None:
        if not b.children:
            return
        self.close_table()
        self.flush_inline(parent)
        rest = b.children
        if rest and rest[0].kind == "paragraph":
            first_para = rest[0]
            rest = rest[1:]
            events = _inline_events(first_para.lines[0]) \
                if first_para.lines else []
            snippet = events[0][1] if events and events[0][0] == "text" \
                else ""
            self.tree.add_list_item(snippet, parent=parent)
        else:
            self.tree.add_list_item("", parent=parent)
        self.walk(rest, parent)

    def _on_paragraph(self, b: Block, parent: Optional[Node]) -> None:
        self.flush_inline(parent)
        for li, line in enumerate(b.lines):
            if li > 0 and self.in_table:
                self.table_buffer.append("")  # LineBreak in table
            for kind, payload in _inline_events(line):
                if kind == "text":
                    snippet = payload.strip()
                    if "|" in snippet:
                        self.in_table = True
                        if self.table_buffer:
                            self.table_buffer[-1] += snippet
                        else:
                            self.table_buffer.append(snippet)
                    elif payload:
                        self.close_table()
                        self.inline_texts.append(payload)
                elif kind == "code":
                    self.close_table()
                    self.flush_inline(parent)
                    text = payload.strip()
                    if text:
                        self.tree.add_code(text, parent=parent)
                elif kind == "image":
                    self.close_table()
                    self.flush_inline(parent)
                    dest, title = payload
                    if title:
                        self.tree.add_text(KIND_CAPTION, title)
                    self.tree.add_picture(parent=parent, media_ref="")

    def _on_code(self, b: Block, parent: Optional[Node]) -> None:
        text = b.text.strip()
        if not text:
            return
        self.close_table()
        self.flush_inline(parent)
        self.tree.add_code(text, parent=parent)

    def _on_html(self, b: Block, parent: Optional[Node]) -> None:
        self.html_blocks += 1
        self.flush_inline(parent)
        self.close_table()
        body = b.text.strip()
        if body:
            self.tree.add_code(f"{_START_MARKER}{body}{_STOP_MARKER}",
                               parent=parent)


# ---------------------------------------------------------------------------
# HTML re-export for the delegation path (md_backend.py:389-423: the
# reference exports the marker-wrapped doc to HTML, strips the markers,
# and re-parses with the HTML backend)


def _render_html(tree: DocTree) -> str:
    out: List[str] = ["<html><body>"]

    def esc(t: str) -> str:
        return _html.escape(t, quote=False)

    def visit(node: Node) -> None:
        if node.is_group and node.group_label in ("list", "ordered_list"):
            tag = "ol" if node.group_label == "ordered_list" else "ul"
            out.append(f"<{tag}>")
            for ch in node.children:
                visit(ch)
            out.append(f"</{tag}>")
            return
        if node.is_group:
            for ch in node.children:
                visit(ch)
            return
        k = node.kind
        if k == "title":
            out.append(f"<h1>{esc(node.text)}</h1>")
        elif k == "section_header":
            lvl = min(max(node.level + 1, 2), 6)
            out.append(f"<h{lvl}>{esc(node.text)}</h{lvl}>")
        elif k == "list_item":
            out.append(f"<li>{esc(node.text)}</li>")
            for ch in node.children:
                visit(ch)
        elif k == "code":
            body = node.text
            if body.startswith(_START_MARKER) and body.endswith(_STOP_MARKER):
                out.append(body[len(_START_MARKER):-len(_STOP_MARKER)])
            else:
                out.append(f"<pre><code>{esc(body)}</code></pre>")
        elif k == "picture":
            out.append('<img src="#"/>')
        elif k == "table" and node.table is not None:
            out.append("<table>")
            from ..doctree import table_grid
            grid = table_grid(node.table)
            for r, row in enumerate(grid):
                cell_tag = "th" if (row and row[0].column_header) else "td"
                out.append("<tr>" + "".join(
                    f"<{cell_tag}>{esc(c.text)}</{cell_tag}>" for c in row)
                    + "</tr>")
            out.append("</table>")
        else:
            out.append(f"<p>{esc(node.text)}</p>")
        if k != "list_item":
            for ch in node.children:
                visit(ch)

    for child in tree.root.children:
        visit(child)
    out.append("</body></html>")
    return "\n".join(out)


def parse_md_document(text: str) -> DocTree:
    """Full Markdown document → DocTree (reading-order body tree)."""
    text = shorten_underscore_sequences(text)
    lines = [_expand_leading_tabs(ln) for ln in text.split("\n")]
    blocks = _parse_blocks(lines)
    w = _Walker()
    w.walk(blocks, None)
    w.flush_inline(None)
    w.close_table()
    if w.html_blocks > 0:
        from .html_parser import parse_html_document
        return parse_html_document(_render_html(w.tree))
    return w.tree
