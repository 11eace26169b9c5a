"""extract_spans has one doc path: Catalyst pre-assembles each document
(_preassembled) and one mapInPandas UDF parses it (_parse_doc). This
file states the assembly rules once more in plain Python
(`reference_assembly`) and checks the production path against them:

  * _preassembled rows equal reference_assembly, document by document;
  * extract_spans rows, export columns included, equal
    reference_assembly fed through _parse_doc.

Inputs are nine adversarial documents plus a seeded batch of random
ones. The adversarial cases:

  * media spans interleaved with payload spans (picture media_ref
    assignment order)
  * mixed payload kinds (first non-media kind wins, later kinds skip)
  * pdf_page override (a pdf_page span anywhere forces the paged path
    even when another kind came first — the elif-chain semantics)
  * media-only / empty / NULL / unknown-kind docs → SKIPPED
  * parser exception → FAILURE with the parser's module/message
  * null and duplicate offsets (stable-sort tie-break on input order)
  * null kind/text/media_ref fields
"""

import json
import random

from docling_spark.operators.extract import (
    _load_parsers,
    _parse_doc,
    _preassembled,
    extract_spans,
)
from docling_spark.schema import INPUT_SCHEMA

EXPORTS = ("markdown", "itxt", "html")


def reference_assembly(spans):
    """The per-doc assembly in plain Python: (payload_kind, pages,
    media_refs) for spans of (kind, text, media_ref, offset)."""
    ordered = sorted(spans or [], key=lambda s: s[3] or 0)
    media_refs = []
    payload_kind = None
    payloads = []
    page_payloads = []
    for kind, text, media_ref, _offset in ordered:
        kind = kind or ""
        if kind == "media":
            media_refs.append(media_ref or "")
        elif kind == "pdf_page":
            page_payloads.append(text or "")
            payload_kind = "pdf_page"
        elif payload_kind is None or payload_kind == kind:
            payload_kind = kind
            payloads.append(text or "")
    if payload_kind == "pdf_page":
        return payload_kind, page_payloads, media_refs
    return payload_kind, ["".join(payloads)], media_refs


def _assembly_key(kind, pages, media_refs):
    # a NULL payload kind is skipped before pages and media refs are
    # read, so only the kind is compared for it
    if kind is None:
        return (None, None, None)
    return (kind, list(pages), list(media_refs))


def _page_json(*lines):
    """Minimal structured-page payload (one body cell per line)."""
    return json.dumps({
        "width": 612.0, "height": 792.0,
        "cells": [{"index": i, "text": t,
                   "l": 72.0, "t": 300.0 + 20.0 * i,
                   "r": 400.0, "b": 314.0 + 20.0 * i}
                  for i, t in enumerate(lines)],
    })


ADVERSARIAL = [
    # interleaved media + html, duplicate offsets (stability)
    ("d1", [("html", "<h1>T</h1><p>a</p>", "", 2),
            ("media", "", "media://x", 1),
            ("html", "<figure></figure>", "", 2),
            ("media", "", "media://y", 0)]),
    # mixed kinds: md first by offset, html later is skipped
    ("d2", [("html", "<p>skipped</p>", "", 5),
            ("md", "# first\n\nbody", "", 1)]),
    # pdf_page override: html comes first but pdf_page wins
    ("d3", [("html", "<p>ignored</p>", "", 0),
            ("pdf_page", _page_json("line one", "line two"), "", 1),
            ("pdf_page", _page_json("page two text"), "", 2)]),
    # media-only → SKIPPED
    ("d4", [("media", "", "media://only", 0)]),
    # empty spans → SKIPPED
    ("d5", []),
    # unknown kind → SKIPPED
    ("d6", [("zzz", "payload", "", 0)]),
    # parser exception → FAILURE (invalid docling JSON)
    ("d7", [("docling_json", "{not json", "", 0)]),
    # null offset / null text / null media_ref / null kind
    ("d8", [("md", None, None, None),
            (None, "x", "", 1),
            ("md", "tail", "", 2)]),
    # NULL spans array (not just empty) → SKIPPED
    ("d9", None),
]

_FRAGMENTS = {
    "html": ["<h1>T</h1>", "<p>a</p>", "<figure></figure>",
             "<img src='a'/>", "<ul><li>x</li><li>y</li></ul>",
             "<table><tr><td>1</td><td>2</td></tr></table>",
             "<p>unclosed", "</div>", "plain"],
    "md": ["# head\n\n", "body text\n", "- item\n", "![alt](i.png)\n",
           "| a | b |\n|---|---|\n| 1 | 2 |\n", "```\ncode\n```\n"],
    "csv": ["a,b\n", "1,2\n", '"q,x",3\n', "x;y;z\n", ""],
    "zzz": ["payload"],
}


def _random_rows(n=320, seed=20261017):
    """Seeded random documents: kinds html / md / csv / media / pdf_page,
    an unknown kind and NULL; NULL and duplicate offsets; NULL text and
    media_ref; empty and NULL span arrays."""
    rng = random.Random(seed)
    kinds = ["html", "md", "csv", "media", "pdf_page", "zzz", None]
    rows = []
    for i in range(n):
        shape = rng.random()
        if shape < 0.04:
            rows.append((f"r{i}", None))
            continue
        if shape < 0.08:
            rows.append((f"r{i}", []))
            continue
        spans = []
        for _ in range(rng.randint(1, 6)):
            kind = rng.choice(kinds)
            media_ref = rng.choice(["", None, f"media://{rng.randint(0, 9)}"])
            if kind == "pdf_page":
                text = rng.choice([
                    _page_json(*[f"line {j}" for j in range(rng.randint(0, 3))]),
                    "{not json", ""])
            elif kind == "media":
                text = ""
            else:
                text = "".join(rng.choice(_FRAGMENTS.get(kind, ["x"]))
                               for _ in range(rng.randint(1, 3)))
            if rng.random() < 0.1:
                text = None
            offset = rng.choice([None, 0, 1, 2, 3, 4, 5])
            spans.append((kind, text, media_ref, offset))
        rows.append((f"r{i}", spans))
    return rows


ROWS = ADVERSARIAL + _random_rows()


def _canon(rows, exports=()):
    return sorted((r.doc_id, r.status, r.n_spans,
                   tuple(tuple(s) for s in r.spans),
                   tuple(tuple(e) for e in r.errors),
                   tuple(r[e] for e in exports)) for r in rows)


def _expected(rows, exports=()):
    """reference_assembly fed through the production parse function."""
    parsers = _load_parsers()
    out = []
    for doc_id, spans in rows:
        got, status, errors, rendered = _parse_doc(
            *reference_assembly(spans), parsers, exports)
        out.append((doc_id, status, len(got),
                    tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in got),
                    tuple((e["component"], e["module"], e["message"])
                          for e in errors),
                    tuple(rendered)))
    return sorted(out)


def test_preassembly_matches_reference(spark):
    docs = spark.createDataFrame(ROWS, INPUT_SCHEMA)
    got = {r.doc_id: _assembly_key(r.payload_kind, r.pages, r.media_refs)
           for r in _preassembled(docs).collect()}
    want = {doc_id: _assembly_key(*reference_assembly(spans))
            for doc_id, spans in ROWS}
    assert got == want
    assert got["d3"][0] == "pdf_page"
    assert got["d1"][2] == ["media://y", "media://x"]


def test_flat_parity_adversarial(spark):
    docs = spark.createDataFrame(ROWS, INPUT_SCHEMA)
    a = _canon(extract_spans(docs).collect())
    assert a == _expected(ROWS)
    by_id = {t[0]: t for t in a}
    assert by_id["d3"][1] == "success"          # paged path taken
    assert by_id["d4"][1] == "skipped"
    assert by_id["d5"][1] == "skipped"
    assert by_id["d6"][1] == "skipped"
    assert by_id["d9"][1] == "skipped"
    assert by_id["d7"][1] == "failure"
    assert by_id["d7"][4][0][1] == "docling_json"   # error module
    # d1: the picture span got the first media ref in offset order
    pics = [s for s in by_id["d1"][3] if s[0] == "picture"]
    assert pics and pics[0][2] == "media://y"
    # the random batch reaches every outcome
    assert {t[1] for t in a if t[0].startswith("r")} >= {
        "success", "skipped", "failure"}


def test_flat_parity_exports(spark):
    rows = [r for r in ROWS if r[0] in ("d1", "d2", "d3", "d7")
            or r[0].startswith("r")]
    docs = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = extract_spans(docs, with_markdown=True, with_itxt=True,
                        with_html=True)
    a = _canon(out.collect(), EXPORTS)
    assert a == _expected(rows, EXPORTS)
    assert any(t[5][0] for t in a if t[0] == "d2")   # markdown rendered
