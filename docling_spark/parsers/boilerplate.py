"""DOM-tree boilerplate stripping — main-content extraction over raw
HTML via text-density + link-density heuristics (the jusText /
Readability / trafilatura family, re-expressed deterministically; in
the spirit of the reference's HTML furniture rule,
/root/reference/docling/backend/html_backend.py content-layer split,
but generalized to web boilerplate the reference does not target).

The page is segmented into ATOMIC BLOCKS — deepest elements whose tag
is block-level — walked in document order. Each block gets exact
integer/ratio metrics, then a fixed rule chain classifies it:

1. ``furniture``    — an ancestor (or the block itself) is a known
   chrome tag (<nav> <footer> <header> <aside> <form> …) or carries a
   chrome class/id hint (nav, menu, footer, sidebar, comment, cookie,
   banner, …).
2. ``link_density`` — linked characters / characters > threshold
   (navigation lists, "related articles" link farms).
3. ``short_link``   — short block that still contains a link (isolated
   "read more" / breadcrumb stubs).
4. ``text_density`` — many descendant tags but few characters per tag
   (tag-soup widgets, button clusters).
5. ``kept``         — everything else is main content.

Every rule is integer/float-exact and template-replayable, so the
Spark operator's output is verifiable against an ANSI-SQL oracle on
Catalyst-templated pages.
"""

from __future__ import annotations

import re
from typing import List, Optional

from .dom import Element, parse_html

# tags that can FORM a block (atomic segmentation grain)
BLOCK_TAGS = frozenset((
    "p", "div", "td", "th", "li", "dd", "dt", "blockquote", "pre",
    "h1", "h2", "h3", "h4", "h5", "h6", "figcaption", "summary",
    "article", "section", "main", "nav", "footer", "header", "aside",
    "form", "caption",
))

# tags that mark everything under them as page chrome
FURNITURE_TAGS = frozenset((
    "nav", "footer", "header", "aside", "form", "menu", "button",
    "select", "noscript", "iframe",
))

# class/id hints for chrome containers (lower-cased substring match,
# word-ish boundaries to avoid e.g. "gradient" matching "ad")
FURNITURE_HINT_RE = re.compile(
    r"(?:^|[\s_-])(nav|menu|footer|header|sidebar|comment|comments|"
    r"share|social|ad|ads|advert|promo|cookie|banner|breadcrumb|"
    r"breadcrumbs|related|widget|popup|modal|subscribe)(?:$|[\s_-])")

DEFAULT_MAX_LINK_DENSITY_E4 = 4000   # >40% linked chars -> boilerplate
DEFAULT_MIN_TEXT_CHARS = 25          # short + linked -> boilerplate
DEFAULT_MIN_CHARS_PER_TAG_E4 = 100_000  # <10 chars/tag (x1e4) when tag-heavy
TAG_HEAVY_MIN_TAGS = 3


def _norm(text: str) -> str:
    return " ".join(text.split())


def _hinted(el: Element) -> bool:
    blob = " ".join(filter(None, (el.get("class"), el.get("id"))))
    return bool(blob) and bool(FURNITURE_HINT_RE.search(blob.lower()))


# positive anchors: real pages wrap the article in <main>/<article>;
# chrome never wraps those, so hint-matching stops at them (a hinted
# node INSIDE them still counts — e.g. an aside within the article)
CONTENT_ANCHOR_TAGS = frozenset(("main", "article"))
# skin/state flags live on <html>/<body> class lists (e.g. Wikipedia's
# "vector-feature-…-header-enabled"); never treat them as chrome hints
_HINT_EXEMPT = frozenset(("html", "body", "[document]"))


def _is_furniture(el: Element) -> bool:
    node: Optional[Element] = el
    while node is not None:
        if node.name in FURNITURE_TAGS:
            return True
        if node.name not in _HINT_EXEMPT and _hinted(node):
            return True
        if node.name in CONTENT_ANCHOR_TAGS:
            return False
        node = node.parent
    return False


def _link_chars(el: Element) -> int:
    total = 0
    for node in el.descendants():
        if isinstance(node, Element) and node.name == "a":
            total += len(_norm(node.text))
    if el.name == "a":
        total += len(_norm(el.text))
    return total


def _n_tags(el: Element) -> int:
    return sum(1 for n in el.descendants() if isinstance(n, Element))


def _atomic_blocks(root: Element) -> List[Element]:
    """Deepest block-tag elements, in document order."""
    out: List[Element] = []

    def visit(el: Element) -> bool:
        """Returns True if any descendant block was collected."""
        found = False
        for child in el.children:
            if isinstance(child, Element) and visit(child):
                found = True
        if not found and el.name in BLOCK_TAGS:
            out.append(el)
            return True
        return found or el.name in BLOCK_TAGS

    visit(root)
    return out


def classify_blocks(html: str) -> List[dict]:
    """Segment + classify. Each dict: tag, text, n_chars, link_chars,
    link_density_e4, n_tags, verdict ('kept' or the drop rule name)."""
    root = parse_html(html)
    body = root.find("body") or root
    blocks = []
    for el in _atomic_blocks(body):
        text = _norm(el.text)
        n_chars = len(text)
        link_chars = min(_link_chars(el), n_chars)
        n_tags = _n_tags(el)
        ld_e4 = (link_chars * 10000) // n_chars if n_chars else 10000
        cpt_e4 = (n_chars * 10000) // n_tags if n_tags else n_chars * 10000
        if _is_furniture(el):
            verdict = "furniture"
        elif n_chars == 0:
            verdict = "empty"
        elif ld_e4 > DEFAULT_MAX_LINK_DENSITY_E4:
            verdict = "link_density"
        elif n_chars < DEFAULT_MIN_TEXT_CHARS and link_chars > 0:
            verdict = "short_link"
        elif (n_tags >= TAG_HEAVY_MIN_TAGS
              and cpt_e4 < DEFAULT_MIN_CHARS_PER_TAG_E4):
            verdict = "text_density"
        else:
            verdict = "kept"
        blocks.append({
            "tag": el.name, "text": text, "n_chars": n_chars,
            "link_chars": link_chars, "link_density_e4": ld_e4,
            "n_tags": n_tags, "verdict": verdict,
        })
    return blocks


def strip_boilerplate(html: str) -> dict:
    """Main-content view of one page: kept text (blocks joined by
    newline, document order) + exact counters for the lineage metrics
    column."""
    blocks = classify_blocks(html)
    kept = [b for b in blocks if b["verdict"] == "kept"]
    judged = [b for b in blocks if b["verdict"] != "empty"]
    n_chars = sum(b["n_chars"] for b in judged)
    link_chars = sum(b["link_chars"] for b in judged)
    return {
        "text": "\n".join(b["text"] for b in kept),
        "n_kept": len(kept),
        "n_dropped": len(judged) - len(kept),
        "doc_link_density_e4":
            (link_chars * 10000) // n_chars if n_chars else 0,
    }
