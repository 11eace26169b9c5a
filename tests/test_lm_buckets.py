"""CCNet perplexity bucketing: exact-rank semantics
(operators/lmscore.py:lm_buckets)."""

from pyspark.sql import functions as F


def _docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang", "text")


def test_exact_buckets_are_equal_tertiles(spark):
    from docling_spark.operators.lmscore import lm_buckets
    docs = _docs(spark)
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    out = lm_buckets(docs, ref).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        n = len(rows)
        sizes = [sum(1 for r in rows if r["bucket"] == b)
                 for b in range(3)]
        # equal tertiles up to integer rounding
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        # bucket is monotone in score (ranks with doc_id tiebreak)
        rows.sort(key=lambda r: (r["mean_nll_e6"], r["doc_id"]))
        assert [r["bucket"] for r in rows] == sorted(
            r["bucket"] for r in rows), lang

