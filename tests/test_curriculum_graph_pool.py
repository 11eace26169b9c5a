"""Round-4 late additions: dup_ngram_fraction, HITS, code_detect,
curriculum_order, mean_pool_embeddings — edge cases beyond the
registry fixtures."""

from pyspark.sql import functions as F


def test_dup_ngram_fraction_clone_and_unique(spark):
    from docling_spark.operators.dedup import (dup_ngram_fraction,
                                               exploded_shingles)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta"),        # exact clone of 1
         (3, "wholly original text here")],
        "doc_id long, text string")
    nulls = spark.createDataFrame([(None, "alpha beta gamma"), (3, None)],
                                  "doc_id long, shingle string")
    sh = exploded_shingles(docs, n=3).unionByName(nulls)
    out = {r.doc_id: r for r in dup_ngram_fraction(sh).collect()}
    assert out[1].dup_frac_e4 == 10000
    assert out[2].dup_frac_e4 == 10000
    assert out[3].dup_frac_e4 == 0 and out[3].n_dup == 0
    # 4 tokens -> two 3-gram shingles, plus the NULL shingle, which
    # is never common
    assert out[3].n_grams == 3
    # the NULL doc_id group reads no common gram, though its one gram
    # occurs in three docs
    assert tuple(out[None]) == (None, 1, 0, 0)


def test_hits_star_graph(spark):
    # star: 3 hubs all point at one authority
    from docling_spark.operators.graph import hits
    edges = spark.createDataFrame(
        [("h1", "a"), ("h2", "a"), ("h3", "a")], "src string, dst string")
    out = {r.node: r for r in hits(edges, iters=2).collect()}
    assert out["a"].auth_e6 == 1_000_000   # the only authority
    assert out["a"].hub_e6 == 0            # no out-edges
    for h in ("h1", "h2", "h3"):
        assert out[h].hub_e6 == 1_000_000  # symmetric max hubs
        assert out[h].auth_e6 == 0         # no in-edges


def test_hits_multi_edge_counts(spark):
    # parallel edges are real multi-edges: u->a twice beats v->b once
    from docling_spark.operators.graph import hits
    edges = spark.createDataFrame(
        [("u", "a"), ("u", "a"), ("v", "b")], "src string, dst string")
    out = {r.node: r for r in hits(edges, iters=1).collect()}
    assert out["a"].auth_e6 == 1_000_000
    assert out["b"].auth_e6 == 500_000
    assert out["u"].hub_e6 == 1_000_000
    assert out["v"].hub_e6 > 0 and out["v"].hub_e6 < out["u"].hub_e6


def test_code_detect_branches(spark):
    from docling_spark.operators.textstats import code_detect
    code = ("def f(x):\n    return {x[0]: 1}\n"
            "class C:\n    pass\nimport os")
    prose = ("This is a perfectly ordinary paragraph of prose with "
             "no particular structure to speak of at all.")
    yamlish = "a:\n    b\n    c\n    d"  # indent-only path
    docs = spark.createDataFrame(
        [(1, code), (2, prose), (3, yamlish), (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in code_detect(docs).collect()}
    assert out[1].is_code == 1 and out[1].kw_hits >= 4
    assert out[2].is_code == 0 and out[2].symbol_e4 == 0
    assert out[3].is_code == 1 and out[3].indent_e4 == 7500
    assert out[4].is_code == 0 and out[4].symbol_e4 == 0  # empty text


def test_curriculum_order_buckets(spark):
    from docling_spark.operators.curate import curriculum_order
    # source s: 5 docs scores 50,40,30,20,10 -> n_buckets=2:
    # bucket 0 = ranks 1..3 (ceil boundary), bucket 1 = ranks 4..5
    rows = [(i, "s", (5 - i) * 10) for i in range(5)]
    rows += [(10, "t", 99)]  # singleton source -> bucket 0, intra 0
    docs = spark.createDataFrame(rows, "doc_id long, source string, "
                                       "score long")
    out = {r.doc_id: r for r in
           curriculum_order(docs, score_col="score",
                            n_buckets=2).collect()}
    assert [out[i].bucket for i in range(5)] == [0, 0, 0, 1, 1]
    assert [out[i].intra_rank for i in range(5)] == [0, 1, 2, 0, 1]
    assert out[10].bucket == 0 and out[10].intra_rank == 0


def test_mean_pool_embeddings_order_and_values(spark):
    from docling_spark.operators.vectorize import mean_pool_embeddings
    rows = [(1, 1, [2.0, 4.0]), (1, 0, [0.0, 0.0]),  # out-of-order pos
            (2, 0, [1.0, -1.0])]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, embedding array<float>")
    out = {(r.doc_id, r.dim): r for r in
           mean_pool_embeddings(df).collect()}
    assert out[(1, 0)].pooled_e4 == 10000      # mean(0,2)=1.0
    assert out[(1, 1)].pooled_e4 == 20000      # mean(0,4)=2.0
    assert out[(1, 0)].n_chunks == 2
    assert out[(2, 1)].pooled_e4 == -10000     # floor is toward -inf
