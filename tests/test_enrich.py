"""Enrichment framework (SURVEY §2.4): batched second pass over
processable spans, pluggable enrichers."""

import pandas as pd

from docling_spark.operators.enrich import (
    classify_code_language,
    enrich_spans,
)

SPAN_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")


def test_code_language_rule_precedence():
    s = pd.Series([
        "#include <v> def f(x): x",   # c wins over python (rule order)
        "def f(x): return 1",
        "function go() { }",
        "public static void main",
        "SELECT a FROM b",
        "package main",
        "fn add(a: i32) -> i32",
        "plain words only",
    ])
    assert list(classify_code_language(s)) == [
        "c", "python", "javascript", "java", "sql", "go", "rust",
        "unknown"]


def test_enrich_and_apply(spark):
    rows = [
        ("d1", [("title", "T", "", 0),
                ("code", "def f(): pass", "", 1),
                ("picture", "", "m://1", 2),
                ("formula", "\\sum x", "", 3)]),
        ("d2", [("text", "plain", "", 0),
                ("picture", "", "", 1)]),
    ]
    df = spark.createDataFrame(rows, SPAN_DDL)
    enriched = enrich_spans(df)
    got = {(r["doc_id"], r["offset"]): (r["kind"], r["enrichment"])
           for r in enriched.collect()}
    # only processable kinds appear (title/text filtered at the scan)
    assert got == {
        ("d1", 1): ("code", "python"),
        ("d1", 2): ("picture", "media"),
        ("d1", 3): ("formula", "latex"),
        ("d2", 1): ("picture", "inline"),
    }


def test_custom_enricher_slot(spark):
    rows = [("d1", [("picture", "", "m://x", 0)])]
    df = spark.createDataFrame(rows, SPAN_DDL)
    custom = {"picture": lambda pdf: pd.Series(
        ["classified"] * len(pdf), index=pdf.index)}
    out = enrich_spans(df, custom).collect()
    assert [r["enrichment"] for r in out] == ["classified"]


def test_omml_equations_bare_root_and_order(spark):
    from docling_spark.operators.enrich import omml_equations
    ns = 'xmlns:m="http://schemas.openxmlformats.org/officeDocument/2006/math"'
    bare = (f"<m:oMath {ns}><m:f><m:num><m:r><m:t>1</m:t></m:r></m:num>"
            "<m:den><m:r><m:t>2</m:t></m:r></m:den></m:f></m:oMath>")
    para = (f"<m:oMathPara {ns}>"
            "<m:oMath><m:r><m:t>first</m:t></m:r></m:oMath>"
            "<m:oMath><m:sSup><m:e><m:r><m:t>z</m:t></m:r></m:e>"
            "<m:sup><m:r><m:t>2</m:t></m:r></m:sup></m:sSup></m:oMath>"
            f"</m:oMathPara>")
    df = spark.createDataFrame([("a", bare), ("b", para)],
                               "doc_id string, omml string")
    rows = sorted(omml_equations(df).collect(),
                  key=lambda r: (r["doc_id"], r["eq_no"]))
    assert [(r["doc_id"], r["eq_no"], r["latex"]) for r in rows] == [
        ("a", 0, "\\frac{1}{2}"),
        ("b", 0, "first"),
        ("b", 1, "z^{2}"),
    ]


def test_omml_equations_malformed_xml_sentinel(spark):
    from docling_spark.operators.enrich import omml_equations
    df = spark.createDataFrame([("bad", "<m:oMath><unclosed")],
                               "doc_id string, omml string")
    rows = omml_equations(df).collect()
    assert [(r["doc_id"], r["eq_no"], r["latex"]) for r in rows] == [
        ("bad", -1, None)]
