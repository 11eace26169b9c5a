"""Character-entropy gate (operators/textstats.py:with_char_entropy)."""

import math
from collections import Counter


def _expected(text):
    n = len(text)
    num = sum(math.floor(1_000_000 * c * math.log(c / n))
              for c in Counter(text).values())
    return math.floor(-num / n)


def test_matches_closed_form_and_separates(spark):
    from docling_spark.operators.textstats import with_char_entropy
    docs = spark.createDataFrame(
        [(1, "aaaaaaaaaa"),            # degenerate → 0 entropy
         (2, "abcdefghij"),            # uniform → ln(10)
         (3, "The quick brown fox")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_char_entropy(docs).collect()}
    assert out[1]["entropy_e6"] == 0
    assert out[2]["entropy_e6"] == _expected("abcdefghij")
    # uniform 10-char alphabet ≈ ln(10) = 2.302585…
    assert abs(out[2]["entropy_e6"] - 2_302_585) <= 1
    assert out[3]["entropy_e6"] == _expected("the quick brown fox")
    assert out[1]["entropy_e6"] < out[3]["entropy_e6"]


def test_zero_shuffle_plan(spark):
    from docling_spark.operators.textstats import with_char_entropy
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    plan = with_char_entropy(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_source_bigram_entropy_matches_direct(spark):
    from docling_spark.operators.textstats import source_bigram_entropy
    docs = spark.createDataFrame(
        [(1, "rep", "a b a b a b a b"),
         (2, "div", "q w e r t y u i")],
        "doc_id long, source string, text string")
    out = {r["source"]: r for r in
           source_bigram_entropy(docs).collect()}
    # 'rep': bigrams (a,b)x4, (b,a)x3 — next is fully determined by
    # prev, H = 0 exactly
    assert out["rep"]["cond_entropy_e6"] == 0
    assert out["rep"]["n_bigrams"] == 7
    # 'div': 7 distinct bigrams, each prev seen once → every term
    # ln(1/1)=0 → H = 0 too; extend with a branching prev
    docs2 = spark.createDataFrame(
        [(1, "s", "x a x b")], "doc_id long, source string, text string")
    got = source_bigram_entropy(docs2).collect()[0]
    # bigrams: (x,a),(a,x),(x,b); c_x=2 → two terms ln(1/2)
    num = 2 * math.floor(1_000_000 * 1 * math.log(0.5))
    assert got["cond_entropy_e6"] == math.floor(-num / 3)


def test_single_token_docs_contribute_no_bigrams(spark):
    from docling_spark.operators.textstats import source_bigram_entropy
    docs = spark.createDataFrame(
        [(1, "s", "only"), (2, "s", "a b")],
        "doc_id long, source string, text string")
    got = source_bigram_entropy(docs).collect()[0]
    assert got["n_bigrams"] == 1
