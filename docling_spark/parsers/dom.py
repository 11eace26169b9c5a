"""Minimal HTML DOM on the Python stdlib ``html.parser``.

The reference parses HTML with BeautifulSoup over the *stdlib*
"html.parser" builder (/root/reference/docling/backend/html_backend.py:63),
so its tree semantics are reproducible without bs4. This shim provides
exactly the surface the extraction walker needs, with the same
behaviors:

 - start tags push; end tags pop to the nearest matching open tag
   (closing everything in between); unmatched end tags are ignored;
   void elements never push (html.parser reports no implied end tags,
   same as the bs4 html.parser builder).
 - ``.text`` concatenates descendant plain-text nodes only — contents
   of <script>/<style> and comments/doctypes are excluded (bs4 ≥4.9
   ``get_text`` semantics: exact-type NavigableString check).
 - entity references are decoded in normal data, kept raw inside
   script/style (html.parser convert_charrefs behavior, same as bs4).
 - "preformatted" strings (script/style payloads, comments, doctype)
   are flagged so callers can skip them for floating-text capture, the
   check the reference does via ``isinstance(el, PreformattedString)``
   (html_backend.py:140-142).

Node representation: plain text children are stored as bare ``str``
objects (an object-creation saving that is ~25% of tokenize time on
text-heavy documents); ``TextNode`` instances appear ONLY for
preformatted strings (script/style payloads, comments, declarations).
Consumers therefore distinguish three child classes: ``str`` (plain
text), ``TextNode`` (preformatted), ``Element``.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, List, Optional, Sequence, Union

VOID_ELEMENTS = frozenset((
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
))


class TextNode:
    __slots__ = ("data", "preformatted", "parent")

    def __init__(self, data: str, preformatted: bool = False) -> None:
        self.data = data
        self.preformatted = preformatted
        self.parent: Optional["Element"] = None

    @property
    def is_text(self) -> bool:
        return True


class Element:
    __slots__ = ("name", "_attrs", "children", "parent")

    def __init__(self, name: str,
                 attrs: Optional[Union[dict, str]] = None) -> None:
        self.name = name
        # the fast tokenizer passes the raw attribute body STRING and
        # defers parsing to first access (most elements' attrs are
        # never read); the stdlib path passes a ready dict
        self._attrs = attrs if attrs is not None else {}
        self.children: List[Union["Element", TextNode, str]] = []
        self.parent: Optional["Element"] = None

    @property
    def attrs(self) -> dict:
        if type(self._attrs) is str:
            self._attrs = _parse_attrs(self._attrs)
        return self._attrs

    @property
    def is_text(self) -> bool:
        return False

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def append(self, node: Union["Element", TextNode, str]) -> None:
        if node.__class__ is not str:
            node.parent = self
        self.children.append(node)

    def descendants(self) -> Iterator[Union["Element", TextNode, str]]:
        # iterative pre-order DFS: recursive `yield from` makes every
        # yielded node bubble through depth-many generator frames,
        # which dominates tree-walk cost on large documents.
        # NOTE: yields bare ``str`` for plain-text children (the
        # module-level node representation) — callers must handle it.
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            yield node
            if node.__class__ is Element and node.children:
                stack.extend(node.children[::-1])

    def find(self, names: Union[str, Sequence[str]]) -> Optional["Element"]:
        # inline DFS: these run per-element during table/list walks, so
        # the generator frame per yielded node is measurable overhead
        single = type(names) is str
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is Element:
                if node.name == names if single else node.name in names:
                    return node
                if node.children:
                    stack.extend(node.children[::-1])
        return None

    def find_all(self, names: Union[str, Sequence[str]],
                 recursive: bool = True) -> List["Element"]:
        single = type(names) is str
        out: List[Element] = []
        if not recursive:
            for node in self.children:
                if node.__class__ is Element and (
                        node.name == names if single
                        else node.name in names):
                    out.append(node)
            return out
        # matched nodes are still descended into (nested matches count)
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is Element:
                if node.name == names if single else node.name in names:
                    out.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return out

    @property
    def text(self) -> str:
        parts: List[str] = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            cls = node.__class__
            if cls is str:
                parts.append(node)
            elif cls is Element and node.children:
                stack.extend(node.children[::-1])
            # TextNode children are preformatted by construction
            # (script/style/comment/decl) — excluded from .text
        return "".join(parts)

    def replace_child(self, old, new) -> None:
        idx = self.children.index(old)
        if new.__class__ is not str:
            new.parent = self
        self.children[idx] = new


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack: List[Element] = [self.root]

    # -- helpers ---------------------------------------------------------
    @property
    def top(self) -> Element:
        return self.stack[-1]

    def _in_preformatted(self) -> bool:
        return self.top.name in ("script", "style")

    # -- HTMLParser hooks --------------------------------------------------
    def handle_starttag(self, tag, attrs):
        el = Element(tag, dict(attrs))
        self.top.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self.top.append(Element(tag, dict(attrs)))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignored (bs4 html.parser behavior)

    def handle_data(self, data):
        if data:
            if self._in_preformatted():
                self.top.append(TextNode(data, preformatted=True))
            else:
                self.top.children.append(data)  # plain text: bare str

    def handle_comment(self, data):
        self.top.append(TextNode(data, preformatted=True))

    def handle_decl(self, decl):
        self.top.append(TextNode(decl, preformatted=True))

    def unknown_decl(self, data):
        self.top.append(TextNode(data, preformatted=True))


# ---------------------------------------------------------------------------
# fast tokenizer
#
# html.parser spends most of its time in position bookkeeping and
# tolerant-recovery regexes (~75% of a large-document parse). The
# tokenizer below handles the WELL-FORMED subset with plain find()/one
# regex per tag and emits the exact same _TreeBuilder event stream; any
# construct outside that subset (unclosed comment, malformed tag,
# doctype with internal subset, stray '<') aborts the whole document
# to the stdlib parser, so output is identical by construction —
# tests/test_dom_fast.py re-parses every reference HTML fixture both
# ways and asserts tree equality.

_FAST_ATTR = re.compile(
    r"\s+([^\s/>=]+)"
    r"(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|((?![\"'=])[^\s>]*)))?")
_FAST_ENDTAG = re.compile(r"</\s*([a-zA-Z][-.:\w]*)\s*>")
_FAST_RAWTEXT = {t: re.compile(r"</\s*%s" % t, re.I)
                 for t in ("script", "style")}

# One alternation over every markup construct in the fast subset; the
# engine's C-level alternation replaces per-position find('<') +
# Python dispatch. Every alternative starts at a literal '<', so any
# '<' the master pattern could not match stays inside the inter-match
# gap — the gap check (no '<' in text) is therefore exactly the old
# "construct outside the subset" bail. Dispatch is on m.lastindex
# (empty groups count): 3=start (selfclose grp), 4=end, 5=comment,
# 6=marked section, 7=decl, 8=pi.
_FAST_MASTER = re.compile(
    r"<(?:"
    r"([a-zA-Z][-.:\w]*)"                        # 1 start tag name
    r"((?:\s+[^\s/>=]+"                          # 2 attr body
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|(?![\"'=])[^\s>]*))?"
    r")*)\s*(/?)>"                               # 3 self-closing
    r"|/\s*([a-zA-Z][-.:\w]*)\s*>"               # 4 end tag
    r"|!--(.*?)-->"                              # 5 comment
    r"|!\[(CDATA\[.*?)\]\s*\]\s*>"               # 6 marked section
    r"|!(?!--)([^>\[]*)>"                        # 7 decl ('<!--' without
    r"|\?([^>]*)>"                               # '-->' must BAIL, not
    r")", re.S)                                  # degrade to a decl); 8 pi


class _Bail(Exception):
    """Construct outside the fast subset — reparse with html.parser."""


def _parse_attrs(body: str) -> dict:
    """Attribute body → dict, last occurrence wins (the ``dict(attrs)``
    the builder applies to html.parser's pair list). Called lazily from
    Element.attrs on first access: the body string was already
    validated by _FAST_MASTER's start-tag branch at tokenize time, and
    since that branch's attribute unit is textually identical to _FAST_ATTR and
    greedy matching is deterministic, finditer here tiles the body
    exactly as the start-tag match did — contiguously and completely —
    so deferring the parse cannot change what an eager parse (with a
    contiguity bail) would have produced."""
    attrs: dict = {}
    for am in _FAST_ATTR.finditer(body):
        name, whole, dq, sq, uq = am.groups()
        if whole is None:
            attrs[name.lower()] = None
        else:
            v = dq if dq is not None else (sq if sq is not None else uq)
            attrs[name.lower()] = unescape(v) if "&" in v else v
    return attrs


def _fast_feed(builder: _TreeBuilder, s: str) -> None:
    # Tree building is inlined (local stack/top instead of the
    # HTMLParser hook methods) — on large documents the hook dispatch
    # plus the per-tag eager attribute parse were ~40% of tokenize
    # time. Event ORDER and semantics are identical to the hook path;
    # tests/test_dom_fast.py asserts tree equality against the stdlib
    # parser on every fixture and under fuzz.
    stack = builder.stack
    top = stack[-1]
    endtag_match = _FAST_ENDTAG.match
    pos, n = 0, len(s)
    # finditer: ONE C-level scan instead of a re.search call per
    # construct (~5k calls on a 236 KB page). The streams only diverge
    # after a raw-text (script/style) jump — an overlapping match
    # yielded from inside the consumed block could swallow the end
    # tag — so the iterator is RESTARTED at the new pos whenever
    # raw-text consumption moves pos beyond the current match's end.
    it = _FAST_MASTER.finditer(s)
    while True:
        for m in it:
            start = m.start()
            if start != pos:
                text = s[pos:start]
                if "<" in text:
                    # a '<' the master pattern could not consume:
                    # malformed tag / unclosed comment / conditional
                    # section / stray '<' — stdlib recovery territory,
                    # bail whole-document
                    raise _Bail
                if "&" in text:
                    text = unescape(text)
                # top is never script/style here: raw-text content is
                # consumed atomically below, so plain data is never
                # preformatted (matches _in_preformatted on the hook
                # path)
                top.children.append(text)        # plain text: bare str
            pos = m.end()
            branch = m.lastindex
            if branch == 3:              # start tag (grp 3 = '/?')
                tag, body, selfclose = m.group(1, 2, 3)
                if not tag.islower():
                    tag = tag.lower()
                el = Element(tag, body if body else None)  # lazy attrs
                el.parent = top
                top.children.append(el)
                if selfclose:            # self-closing: never pushes
                    continue
                if tag not in VOID_ELEMENTS:
                    stack.append(el)
                    top = el
                if tag == "script" or tag == "style":
                    # raw-text mode: everything until the MATCHING end
                    # tag is one preformatted data node, charrefs
                    # untouched. html.parser stays in cdata mode when
                    # the '</tag' prefix belongs to a longer/other tag
                    # name (`</scriptx>` inside <script> is data), so
                    # require a full end-tag match with the same name;
                    # a prefix that is not a clean end tag at all is
                    # stdlib-recovery territory — bail.
                    search = _FAST_RAWTEXT[tag].search
                    scan = pos
                    while True:
                        m2 = search(s, scan)
                        if not m2:
                            raise _Bail
                        m3 = endtag_match(s, m2.start())
                        if m3 is None:
                            raise _Bail
                        if m3.group(1).lower() == tag:
                            break
                        scan = m2.start() + 1
                    if m2.start() > pos:
                        node = TextNode(s[pos:m2.start()],
                                        preformatted=True)
                        node.parent = top
                        top.children.append(node)
                    pos = m2.start()
                    it = _FAST_MASTER.finditer(s, pos)
                    break                # restart at the end tag
            elif branch == 4:            # end tag
                tag = m.group(4)
                if not tag.islower():
                    tag = tag.lower()
                # pop to nearest matching open tag; unmatched → ignored
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i].name == tag:
                        del stack[i:]
                        break
                top = stack[-1]
            elif branch == 5:            # comment
                builder.handle_comment(m.group(5))
                top = stack[-1]
            elif branch == 6:            # marked section (CDATA[...,
                builder.unknown_decl(m.group(6))   # closer excluded —
                top = stack[-1]                # _markupbase semantics)
            elif branch == 7:            # declaration (no internal
                builder.handle_decl(m.group(7))    # subset: '[' can't
                top = stack[-1]                # appear in the group)
            # branch == 8: processing instruction — handle_pi: no-op
        else:
            break                        # iterator exhausted
    if pos < n:
        text = s[pos:n]
        if "<" in text:
            raise _Bail
        if "&" in text:
            text = unescape(text)
        top.children.append(text)


def parse_html(payload: str) -> Element:
    builder = _TreeBuilder()
    try:
        _fast_feed(builder, payload)
        return builder.root
    except _Bail:
        pass
    builder = _TreeBuilder()
    builder.feed(payload)
    builder.close()
    return builder.root
