"""HybridChunker-parity tests: the flat-span hierarchical chunker
(operators/hierchunk.py) against an INDEPENDENT derivation that walks
the groundtruth DoclingDocument body trees directly — heading levels
from ``SectionHeaderItem.level``, caption binding from
``TableItem.captions`` refs — i.e. the docling-core contract the
reference re-exports (/root/reference/docling/chunking/__init__.py:7-13).

The two implementations share only the token counter: the operator
consumes the flattened span stream + hints sidecar, the expected
derivation recurses over the nested JSON tree with dict state."""

from __future__ import annotations

import json
import re

import pytest

from docling_spark.golden import (
    GROUNDTRUTH_DIR,
    _resolve,
    _table_text,
    golden_hints,
    golden_spans,
)
from docling_spark.operators.hierchunk import _ntok, hier_chunks

MAXTOK = 64


def _fixture_docs():
    out = []
    for p in sorted(GROUNDTRUTH_DIR.glob("*.json")):
        try:
            gt = json.load(open(p, encoding="utf-8"))
        except Exception:
            continue
        if isinstance(gt, dict) and gt.get("schema_name") == "DoclingDocument":
            out.append((p.name, gt))
    return out


FIXTURES = _fixture_docs()
MULTILEVEL = ["unit_test_01.html.json", "wiki_duck.html.json",
              "unit_test_headers.docx.json", "ipa20180000016.json",
              "word_sample.docx.json", "redp5110_sampled.json"]


def tree_chunks(gt: dict, max_tokens: int = MAXTOK):
    """Expected chunks straight from the nested body tree."""
    heading_by_level: dict = {}
    chunks = []
    list_run = None
    attached_caps = set()
    flat_idx = [0]

    def prescan(ref):
        item = _resolve(gt, ref)
        if item is None:
            return
        if ref.startswith("#/tables") and \
                item.get("content_layer", "body") == "body":
            for cr in item.get("captions") or []:
                r = (cr.get("$ref") or cr.get("cref")) \
                    if isinstance(cr, dict) else None
                cap = _resolve(gt, r) if r else None
                if cap is not None and \
                        cap.get("content_layer", "body") == "body":
                    attached_caps.add(r)
        for child in item.get("children", []):
            cref = (child.get("$ref") or child.get("cref")) \
                if isinstance(child, dict) else None
            if cref:
                prescan(cref)

    prescan("#/body")

    def trail():
        return [heading_by_level[k] for k in sorted(heading_by_level)]

    def flush():
        nonlocal list_run
        if list_run is not None:
            chunks.append(list_run)
            list_run = None

    def visit(ref):
        nonlocal list_run
        item = _resolve(gt, ref)
        if item is None:
            return
        is_group = ref.startswith("#/groups") or ref in ("#/body",
                                                          "#/furniture")
        in_body = item.get("content_layer", "body") == "body"
        if not is_group and in_body:
            if ref.startswith("#/texts"):
                off = flat_idx[0]
                flat_idx[0] += 1
                label = item.get("label", "text")
                text = item.get("text", "")
                if label in ("title", "section_header"):
                    flush()
                    lv = 0 if label == "title" else int(item.get("level", 1))
                    for k in [k for k in heading_by_level if k > lv]:
                        del heading_by_level[k]
                    heading_by_level[lv] = text
                elif label == "list_item":
                    if text:
                        if list_run is None:
                            list_run = (trail(), [], [], [])
                        list_run[2].append(text)
                        list_run[3].append(off)
                elif ref in attached_caps:
                    flush()
                else:
                    flush()
                    if text:
                        chunks.append((trail(), [], [text], [off]))
            elif ref.startswith("#/pictures"):
                flush()
                flat_idx[0] += 1
            elif ref.startswith("#/tables"):
                flush()
                off = flat_idx[0]
                flat_idx[0] += 1
                caps = []
                for cr in item.get("captions") or []:
                    r = (cr.get("$ref") or cr.get("cref")) \
                        if isinstance(cr, dict) else None
                    cap = _resolve(gt, r) if r else None
                    if cap is not None and \
                            cap.get("content_layer", "body") == "body":
                        caps.append(cap.get("text", ""))
                chunks.append((trail(), caps, [_table_text(item)], [off]))
        for child in item.get("children", []):
            cref = (child.get("$ref") or child.get("cref")) \
                if isinstance(child, dict) else None
            if cref:
                visit(cref)

    visit("#/body")
    flush()

    # hybrid sizing — split on item boundaries / token windows
    out = []
    for headings, caps, texts, offs in chunks:
        ctx = sum(_ntok(h) for h in headings) + sum(_ntok(c) for c in caps)
        if ctx + sum(_ntok(t) for t in texts) <= max_tokens:
            out.append([headings, list(caps), list(texts), list(offs)])
            continue
        budget = max(1, max_tokens - ctx)
        run_t, run_o, rt = [], [], 0
        for t, o in zip(texts, offs):
            n = _ntok(t)
            if n > budget:
                if run_t:
                    out.append([headings, list(caps), run_t, run_o])
                    run_t, run_o, rt = [], [], 0
                toks = re.findall(r"\S+", t)
                for w in range(0, len(toks), budget):
                    out.append([headings, list(caps),
                                [" ".join(toks[w:w + budget])], [o]])
                continue
            if run_t and rt + n <= budget:
                run_t.append(t)
                run_o.append(o)
                rt += n
            else:
                if run_t:
                    out.append([headings, list(caps), run_t, run_o])
                run_t, run_o, rt = [t], [o], n
        if run_t:
            out.append([headings, list(caps), run_t, run_o])

    # merge peers
    merged = []
    for h, c, ts, os_ in out:
        if merged and merged[-1][0] == h and merged[-1][1] == c:
            cur = merged[-1]
            curtot = sum(_ntok(x) for x in cur[0] + cur[1] + cur[2])
            if curtot + sum(_ntok(x) for x in ts) <= max_tokens:
                cur[2].extend(ts)
                cur[3].extend(os_)
                continue
        merged.append([list(h), list(c), list(ts), list(os_)])
    return [{"chunk_id": j, "headings": h, "captions": c,
             "text": "\n".join(ts), "doc_items": o}
            for j, (h, c, ts, o) in enumerate(merged)]


def _key(c):
    return (list(c["headings"]), list(c["captions"]), c["text"],
            list(c["doc_items"]))


def test_flat_chunker_matches_tree_derivation_all_fixtures():
    assert len(FIXTURES) >= 40
    for name, gt in FIXTURES:
        got = hier_chunks(golden_spans(gt), golden_hints(gt),
                          max_tokens=MAXTOK)
        exp = tree_chunks(gt)
        assert [_key(c) for c in got] == [_key(c) for c in exp], name


def test_budget_invariant_and_order():
    for name, gt in FIXTURES:
        prev_item = -1
        for c in hier_chunks(golden_spans(gt), golden_hints(gt),
                             max_tokens=MAXTOK):
            ctx = sum(_ntok(h) for h in c["headings"]) + \
                sum(_ntok(x) for x in c["captions"])
            if c["n_tokens"] > MAXTOK:
                # only a single item whose lone window + ctx overflows
                assert len(c["doc_items"]) == 1 or ctx + 1 >= MAXTOK, name
            # doc_items advance across chunks (reading order; window
            # splits of one long item repeat its offset)
            assert c["doc_items"] == sorted(c["doc_items"]), name
            assert c["doc_items"][0] >= prev_item, name
            prev_item = c["doc_items"][-1]


def _spans(*rows):
    return [{"kind": k, "text": t, "media_ref": "", "offset": i}
            for i, (k, t) in enumerate(rows)]


def test_heading_trail_levels_pop_deeper():
    spans = _spans(("title", "T"),
                   ("section_header", "A"),        # level 1
                   ("section_header", "A.1"),      # level 2
                   ("text", "deep"),
                   ("section_header", "B"),        # level 1 again
                   ("text", "shallow"))
    hints = [0, 1, 2, -1, 1, -1]
    got = hier_chunks(spans, hints, max_tokens=64)
    assert got[0]["headings"] == ["T", "A", "A.1"]
    assert got[1]["headings"] == ["T", "B"]       # A.1 popped by B


def test_default_levels_without_hints():
    spans = _spans(("title", "T"), ("section_header", "A"),
                   ("section_header", "B"), ("text", "x"))
    got = hier_chunks(spans, None, max_tokens=64)
    # both headers level 1 -> B replaced A
    assert got[0]["headings"] == ["T", "B"]


def test_caption_adjacency_fallback_without_hints():
    spans = _spans(("table", "1x1 v"), ("caption", "Table 1"),
                   ("text", "after"))
    got = hier_chunks(spans, None, max_tokens=64)
    assert got[0]["captions"] == ["Table 1"]
    assert got[1]["text"] == "after"


def test_caption_hint_binds_position_independent():
    # caption BEFORE its table (pnas_sample.xml ordering)
    spans = _spans(("caption", "Table 1"), ("table", "1x1 v"))
    got = hier_chunks(spans, [1, -1], max_tokens=64)
    assert len(got) == 1
    assert got[0]["captions"] == ["Table 1"]
    # unhinted caption after a table does NOT bind when hints given —
    # it chunks standalone, then merge_peers folds it in as plain text
    spans = _spans(("table", "1x1 v"), ("caption", "Fig 8 caption"))
    got = hier_chunks(spans, [-1, -1], max_tokens=64)
    assert len(got) == 1
    assert got[0]["captions"] == []
    assert got[0]["text"] == "1x1 v\nFig 8 caption"
    got = hier_chunks(spans, [-1, -1], max_tokens=64, merge_peers=False)
    assert [c["text"] for c in got] == ["1x1 v", "Fig 8 caption"]


def test_list_items_merge_and_split_on_item_boundaries():
    items = [("list_item", f"item {i} alpha beta") for i in range(6)]
    spans = _spans(("section_header", "L"), *items)
    got = hier_chunks(spans, None, max_tokens=10)
    # ctx=1 -> budget 9 -> two items (4 tok each) per chunk
    assert all(c["headings"] == ["L"] for c in got)
    assert [len(c["doc_items"]) for c in got] == [2, 2, 2]
    assert got[0]["text"] == "item 0 alpha beta\nitem 1 alpha beta"


def test_long_text_window_split_and_merge_peers():
    long = " ".join(f"w{i}" for i in range(25))
    spans = _spans(("section_header", "H"), ("text", long),
                   ("text", "tail one"), ("text", "tail two"))
    got = hier_chunks(spans, None, max_tokens=10)
    # budget 9: windows of 9/9/7 tokens; greedy merge then packs
    # "tail one" (2 tok) onto the 7-token last window (ctx 1 -> 10),
    # and "tail two" starts a fresh chunk
    texts = [c["text"] for c in got]
    assert texts[0].split() == [f"w{i}" for i in range(9)]
    assert texts[2] == "w18 w19 w20 w21 w22 w23 w24\ntail one"
    assert got[2]["doc_items"] == [1, 2]
    assert texts[3] == "tail two"
    assert all(c["n_tokens"] <= 10 for c in got)


def test_merge_peers_off():
    spans = _spans(("text", "a"), ("text", "b"))
    got = hier_chunks(spans, None, max_tokens=64, merge_peers=False)
    assert [c["text"] for c in got] == ["a", "b"]


@pytest.mark.parametrize("name", MULTILEVEL)
def test_spark_operator_matches_pure_python(spark, name):
    gt = json.load(open(GROUNDTRUTH_DIR / name, encoding="utf-8"))
    spans = golden_spans(gt)
    hints = golden_hints(gt)
    from docling_spark.operators.hierchunk import chunk_documents_hier
    df = spark.createDataFrame(
        [(name, spans, hints)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, hints array<int>")
    got = [r.asDict() for r in
           chunk_documents_hier(df, max_tokens=MAXTOK,
                                hints_col="hints")
           .orderBy("chunk_id").collect()]
    exp = hier_chunks(spans, hints, max_tokens=MAXTOK)
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert list(g["headings"]) == e["headings"]
        assert list(g["captions"]) == e["captions"]
        assert g["text"] == e["text"]
        assert list(g["doc_items"]) == e["doc_items"]
        assert g["n_tokens"] == e["n_tokens"]


def test_heading_outline_title_resets_trail(spark):
    from docling_spark.operators.outline import heading_outline

    def sp(kind, text, off):
        return {"kind": kind, "text": text, "media_ref": "",
                "offset": off}

    df = spark.createDataFrame(
        [("d", [sp("title", "T", 0), sp("section_header", "A", 1),
                sp("title", "T2", 2), sp("section_header", "B", 3)])],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>")
    rows = sorted(heading_outline(df).collect(),
                  key=lambda r: r["span_offset"])
    assert [(r["title"], r["path"]) for r in rows] == [
        ("T", "T"), ("A", "T > A"), ("T2", "T2"), ("B", "T2 > B")]
