"""Unit tests for the curation operators added for training-data
pipelines: PII scrub, repetition signals, decontamination, sequence
packing, weighted sampling. Each also has a driver oracle entry in
``__spark_entry__`` — these tests pin the semantics on handcrafted
rows where the expected values are computed by hand."""

import pytest
from pyspark.sql import functions as F

from docling_spark.operators.decontam import decontaminate
from docling_spark.operators.packing import pack_sequences, sample_weighted
from docling_spark.operators.scrub import with_pii_scrub
from docling_spark.operators.textstats import with_repetition


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.example.com and ssn 123-45-6789 end"),
         (2, "call (555) 010-1234 or 555-010-9999 from 192.168.0.1"),
         (3, "card 4111 1111 1111 1111 or 4111-1111-1111-1234 ok"),
         (4, "no pii here at all")],
        ["doc_id", "text"])
    out = _rows(with_pii_scrub(docs))
    assert out[1]["n_email"] == 1 and out[1]["n_ssn"] == 1
    assert out[1]["scrubbed"] == "mail <EMAIL> and ssn <SSN> end"
    assert out[2]["n_phone"] == 2 and out[2]["n_ipv4"] == 1
    assert out[2]["scrubbed"] == "call <PHONE> or <PHONE> from <IPV4>"
    assert out[3]["n_card"] == 2
    assert out[3]["scrubbed"] == "card <CARD> or <CARD> ok"
    assert out[4]["n_pii"] == 0
    assert out[4]["scrubbed"] == "no pii here at all"


def test_pii_counts_are_order_independent(spark):
    # ssn-shaped and phone-shaped digits in one doc: each pattern
    # counts its own matches on the RAW text
    docs = spark.createDataFrame(
        [(1, "a 123-45-6789 b 123-456-7890 c")], ["doc_id", "text"])
    r = _rows(with_pii_scrub(docs))[1]
    assert r["n_ssn"] == 1 and r["n_phone"] == 1 and r["n_pii"] == 2
    assert r["scrubbed"] == "a <SSN> b <PHONE> c"


def test_repetition_signals(spark):
    # 4 lines of 7 chars each, one repeated once → dup_line_frac = 1/4
    # and dup chars = 7 of 28
    text = "line aa\nline bb\nline aa\nline cc"
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = _rows(with_repetition(docs))[1]
    assert r["n_lines"] == 4
    assert r["dup_line_frac_e4"] == 2500
    assert r["dup_line_char_frac_e4"] == 2500
    # tokens: line aa line bb line aa line cc → 7 bigrams, 5 distinct
    # ('line aa' and 'aa line' each ×2) → dup 2/7, top 2/7
    assert r["dup_bigram_frac_e4"] == int(2 / 7 * 10000)
    assert r["top_bigram_frac_e4"] == int(2 / 7 * 10000)


def test_repetition_no_dups(spark):
    docs = spark.createDataFrame([(1, "alpha beta gamma")],
                                 ["doc_id", "text"])
    r = _rows(with_repetition(docs))[1]
    assert r["n_lines"] == 1
    assert r["dup_line_frac_e4"] == 0
    assert r["dup_bigram_frac_e4"] == 0
    assert r["top_bigram_frac_e4"] == 5000  # 1 of 2 bigrams


def test_decontaminate_flags_exact_and_partial(spark):
    bench = spark.createDataFrame(
        [("one two three four five six seven eight",)], ["text"])
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight"),   # exact
         (2, "one two three four five nine ten eleven twelve"),  # partial
         (3, "totally different words with no overlap at all")],
        ["doc_id", "text"])
    out = _rows(decontaminate(docs, bench, n=5, threshold=0.5))
    assert out[1]["contam_e4"] == 10000 and out[1]["contaminated"] == 1
    # doc 2: 5 grams, 1 hit (one..five) → 2000
    assert out[2]["n_grams"] == 5 and out[2]["n_hit"] == 1
    assert out[2]["contaminated"] == 0
    assert out[3]["n_hit"] == 0 and out[3]["contaminated"] == 0


def test_pack_sequences_layout(spark):
    docs = spark.createDataFrame(
        [(i, 10) for i in range(8)], ["doc_id", "n_tokens"])
    out = pack_sequences(docs, seq_len=16, n_shards=1)
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    # one shard, doc_id order: starts 0,10,20,...
    for i, r in enumerate(rows):
        assert r["shard_id"] == 0
        assert r["start_tok"] == 10 * i
        assert r["first_seq"] == (10 * i) // 16
        assert r["last_seq"] == (10 * i + 9) // 16
        assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1
    # doc 0 spans [0,10) → seq 0 only; doc 1 spans [10,20) → seqs 0-1
    assert rows[0]["n_seqs"] == 1 and rows[1]["n_seqs"] == 2


def test_pack_sequences_sharding_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, 5) for i in range(100)], ["doc_id", "n_tokens"])
    a = {r["doc_id"]: r["shard_id"]
         for r in pack_sequences(docs, seq_len=32, n_shards=8).collect()}
    b = {r["doc_id"]: r["shard_id"]
         for r in pack_sequences(docs, seq_len=32, n_shards=8).collect()}
    assert a == b
    assert set(a.values()) == set(range(8))  # all shards populated


def test_sample_weighted_rates_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "xx") for i in range(400)],
        ["doc_id", "lang"])
    keep_all = sample_weighted(docs, {"en": 10000, "xx": 10000})
    assert keep_all.count() == 400
    none_default = sample_weighted(docs, {"en": 10000})
    kept = [r["lang"] for r in none_default.collect()]
    assert set(kept) == {"en"} and len(kept) == 200
    half = sample_weighted(docs, {"en": 5000, "xx": 5000})
    n1, n2 = half.count(), half.count()
    assert n1 == n2  # deterministic draw
    assert 100 < n1 < 300  # ~50% of 400, md5-uniform


@pytest.mark.parametrize("n_tokens", [0, 1])
def test_pack_sequences_degenerate_docs(spark, n_tokens):
    docs = spark.createDataFrame([(1, n_tokens)], ["doc_id", "n_tokens"])
    r = pack_sequences(docs, seq_len=8, n_shards=1).collect()[0]
    # empty/1-token docs still occupy exactly one sequence slot
    assert r["n_seqs"] == 1 and r["first_seq"] == 0


def test_source_reputation_signals_and_gate(spark):
    from docling_spark.operators.curate import (gate_by_source,
                                                source_reputation)

    rows = []
    # good.org: 4 distinct prose docs, stop-word rich
    for i in range(4):
        rows.append((i, "the quick brown fox and the lazy dog "
                        "jumped over it for fun in the sun " + str(i),
                     "good.org"))
    # mirror.net: 4 docs, all the same text -> dup_ratio 7500
    for i in range(4, 8):
        rows.append((i, "the exact same mirrored page text is here "
                        "and it is long enough to pass", "mirror.net"))
    # thin.io: 4 distinct but tiny docs -> avg tokens below floor
    for i in range(8, 12):
        rows.append((i, "tiny doc " + str(i), "thin.io"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")
    rep = source_reputation(docs, max_dup_ratio_e4=2500,
                            min_avg_tokens_e4=100_000,
                            min_stop_ratio_e4=300)
    by_src = {r["source"]: r for r in rep.collect()}
    assert by_src["good.org"]["keep"] == 1
    assert by_src["good.org"]["dup_ratio_e4"] == 0
    assert by_src["mirror.net"]["keep"] == 0
    assert by_src["mirror.net"]["dup_ratio_e4"] == 7500
    assert by_src["thin.io"]["keep"] == 0
    assert by_src["thin.io"]["avg_tokens_e4"] < 100_000

    kept = gate_by_source(docs, rep)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 3]
    # the gate must be a broadcast semi-join: the corpus never shuffles
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_source_reputation_exact_distinct_count(spark):
    from docling_spark.operators.curate import source_reputation

    docs = spark.createDataFrame(
        [(i, "the word and more of it is that " + str(i % 3), "s")
         for i in range(6)],
        "doc_id long, text string, source string")
    rep = source_reputation(docs, min_avg_tokens_e4=10_000).collect()
    assert rep[0]["n_docs"] == 6
    # 6 docs over 3 distinct texts: 3 of the 6 are repeats
    assert rep[0]["dup_ratio_e4"] == 5000


def test_knn_classify_majority_and_tiebreak(spark):
    from docling_spark.operators.similarity import knn_classify

    # 2-d corpus: labels 0 cluster near +x, labels 1 near +y; one
    # query sits on +x (majority 0), one equidistant query forces a
    # 2-2-1 -> clear, and a tie case breaks toward the smaller label
    emb = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [0.95, 0.05], 0),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1), (5, [0.05, 0.95], 1),
    ]
    df = spark.createDataFrame(
        emb, "vec_id long, embedding array<double>, label int")
    vecs = df.select("vec_id", "embedding")
    labels = df.select("vec_id", "label")

    q = spark.createDataFrame([(100, [1.0, 0.02])],
                              "vec_id long, embedding array<double>")
    out = knn_classify(vecs, q, labels, k=3).collect()
    assert len(out) == 1
    assert out[0]["pred_label"] == 0 and out[0]["votes"] == 3

    # k=6 over a 3/3 labeled corpus: tie -> smaller label wins
    q2 = spark.createDataFrame([(101, [1.0, 1.0])],
                               "vec_id long, embedding array<double>")
    out2 = knn_classify(vecs, q2, labels, k=6).collect()
    assert out2[0]["pred_label"] == 0 and out2[0]["votes"] == 3


def test_dedup_boilerplate_lines(spark):
    from docling_spark.operators.curate import dedup_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "subscribe to our newsletter\nunique content alpha\nok"),
            (2, "subscribe to our newsletter\nunique content beta\nok"),
            # whitespace/case variant still matches the normalized fp
            (3, "  SUBSCRIBE   to our Newsletter \nunique content gamma"),
            # doc that is ALL boilerplate -> empty text survives
            (4, "subscribe to our newsletter"),
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_boilerplate_lines(docs, min_df=2,
                                   min_line_chars=8).collect()}
    assert out[1]["text"] == "unique content alpha\nok"
    assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 1
    # 'ok' is under min_line_chars: kept even though it repeats
    assert out[2]["text"] == "unique content beta\nok"
    assert out[3]["text"] == "unique content gamma"
    assert out[4]["text"] == "" and out[4]["n_kept"] == 0
    assert out[4]["n_dropped"] == 1


def test_pq_codes_and_recall_vs_exact(spark):
    """PQ codes are m small ints, and ADC top-k has reasonable overlap
    with exact cosine top-k on the synthetic corpus (approximation
    sanity, not a strict bound)."""
    from docling_spark.operators.similarity import (knn_bruteforce,
                                                    knn_pq, pq_encode)

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    codes = pq_encode(emb).collect()
    assert all(len(r["codes"]) == 4 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])

    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["nbr_id"])
             for r in knn_bruteforce(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["nbr_id"])
              for r in knn_pq(emb, queries, k=10).collect()}
    # 4x16 codebook on 64-dim synthetic data: expect SOME overlap per
    # query set, and exactly k results per query either way
    assert len(approx) == len(exact) == 50
    assert len(exact & approx) >= 10


def test_kmeans_separates_obvious_clusters(spark):
    from docling_spark.operators.clustering import kmeans_assign

    # vec 0 and vec 1 are the deterministic inits — one per cluster
    rows = ([(0, [10.0, 0.0]), (1, [0.0, 10.0])]
            + [(10 + i, [10.5 + 0.1 * i, 0.3]) for i in range(6)]
            + [(20 + i, [0.1 * i, 10.5]) for i in range(6)])
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(df, k=2, iters=3).collect()}
    right = {out[i] for i in [0] + [10 + i for i in range(6)]}
    top = {out[i] for i in [1] + [20 + i for i in range(6)]}
    assert right == {0} and top == {1}
    # deterministic across runs
    out2 = {r["vec_id"]: r["cluster"]
            for r in kmeans_assign(df, k=2, iters=3).collect()}
    assert out == out2


def test_embed_hash_semantics(spark):
    import hashlib
    import math

    from docling_spark.operators.vectorize import embed_hash

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "Apple  APPLE banana"),
         (3, "")],
        "doc_id long, text string")
    out = {r["vec_id"]: list(r["embedding"])
           for r in embed_hash(docs, dim=16).collect()}
    # case/whitespace normalization: docs 1 and 2 embed identically
    assert out[1] == out[2]
    # empty doc -> zero vector (no NaNs from the norm guard)
    assert out[3] == [0.0] * 16
    # hand-build doc 1: apple x2, banana x1 into signed buckets
    v = [0.0] * 16
    for tok, cnt in (("apple", 2), ("banana", 1)):
        h = hashlib.md5(tok.encode()).hexdigest()
        b = int(h[:8], 16) % 16
        s = 1.0 if int(h[8], 16) >= 8 else -1.0
        v[b] += s * cnt
    n = math.sqrt(sum(x * x for x in v))
    want = [x / n for x in v]
    assert out[1] == want
    assert abs(sum(x * x for x in out[1]) - 1.0) < 1e-12  # unit norm


def test_embed_hash_feeds_vector_stack(spark):
    """End-to-end: text -> hash embeddings -> exact kNN returns the
    near-duplicate text as the nearest neighbor."""
    from docling_spark.operators.similarity import knn_bruteforce
    from docling_spark.operators.vectorize import embed_hash

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy cat"),
         (2, "completely unrelated legal boilerplate text here"),
         (3, "another wholly different sentence about spark plans")],
        "doc_id long, text string")
    emb = embed_hash(docs)
    nn = knn_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=1)
    top = nn.collect()[0]
    assert top["nbr_id"] == 1  # the near-dup wins


def test_kmv_distinct_estimates(spark):
    from docling_spark.operators.sketch import kmv_distinct

    rows = ([("big", i) for i in range(500)]       # 500 distinct
            + [("big", i) for i in range(100)]     # repeats don't count
            + [("small", i) for i in range(7)])    # < k -> exact
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r["grp"]: r for r in
           kmv_distinct(df, group_col="grp", value_col="v",
                        k=32).collect()}
    assert out["small"]["n_exact_small"] == 1
    assert out["small"]["est_distinct_e4"] == 7 * 10000  # exact
    assert out["big"]["n_exact_small"] == 0
    # the estimate is a deterministic function of the 32nd-smallest
    # md5 unit hash — pin it to the hand-computed value (this sample
    # happens to land ~+70%; KMV guarantees ~1/sqrt(k) only on
    # average, and the determinism is the contract being tested)
    import hashlib
    import math
    us = sorted(int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)
                / 2 ** 48 for i in range(500))
    want = math.floor(31 / us[31] * 10000)
    assert out["big"]["est_distinct_e4"] == want
    # determinism across runs (hash-based, no RNG)
    out2 = {r["grp"]: r["est_distinct_e4"] for r in
            kmv_distinct(df, group_col="grp", value_col="v",
                         k=32).collect()}
    assert out2["big"] == out["big"]["est_distinct_e4"]


def test_quantiles_exact_order_statistics(spark):
    from docling_spark.operators.sketch import quantiles_exact

    rows = [("a", float(v), i) for i, v in enumerate(range(1, 11))]
    rows += [("b", 42.0, 100)]
    df = spark.createDataFrame(rows, "grp string, v double, id long")
    out = {(r["grp"], r["p_pct"]): r["value"] for r in
           quantiles_exact(df, group_col="grp", value_col="v",
                           tie="id").collect()}
    # n=10: p50 -> rank ceil(5)=5 -> value 5; p90 -> rank 9; p99 -> 10
    assert out[("a", 50)] == 5.0
    assert out[("a", 90)] == 9.0
    assert out[("a", 99)] == 10.0
    # singleton group: every quantile is the one value
    assert out[("b", 50)] == out[("b", 99)] == 42.0


def test_dedup_substrings_removes_shared_spans(spark):
    from docling_spark.operators.substring import dedup_substrings

    blurb = "one two three four five six seven eight"  # 8 tokens, k=4
    rows = [
        (1, "alpha beta gamma " + blurb),
        (2, blurb + " delta epsilon zeta"),
        (3, "unrelated words entirely here okay fine"),
        # within-doc repeat only: min_df counts DISTINCT docs, so kept
        (4, "x y z w " + "p q r s p q r s"),
        (5, "tiny doc"),  # shorter than k: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_substrings(df, k=4, min_df=2).collect()}
    assert out[1]["text"] == "alpha beta gamma"
    assert out[1]["n_removed"] == 8
    assert out[2]["text"] == "delta epsilon zeta"
    assert out[3]["n_removed"] == 0
    assert out[4]["n_removed"] == 0
    assert out[5]["text"] == "tiny doc"
    assert out[5]["n_removed"] == 0


def test_semdedup_drops_clone_keeps_original(spark):
    from docling_spark.operators.clustering import semdedup

    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(16)]
    rows.append((100, rows[3][1]))      # exact clone of vec 3
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semdedup(df, k=4, iters=2, threshold=0.99).collect()}
    assert out[3]["keep"] == 1          # lowest id wins
    assert out[100]["keep"] == 0        # clone dropped
    assert out[100]["cluster"] == out[3]["cluster"]
    assert sum(1 - r["keep"] for r in out.values()) == 1


def test_lm_score_orders_by_reference_likeness(spark):
    from docling_spark.operators.lmscore import lm_score

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog")
         for i in range(5)], "doc_id long, text string")
    docs = spark.createDataFrame([
        (1, "the quick brown fox"),          # pure in-vocabulary
        (2, "the quick zzz qqq"),            # half unseen
        (3, "xxyy zzqq aabb ccdd"),          # all unseen
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score(docs, ref).collect()}
    assert (out[1]["mean_nll_e6"] < out[2]["mean_nll_e6"]
            < out[3]["mean_nll_e6"])
    # all-unseen doc scores exactly the unseen-class log-prob
    assert out[3]["n_tokens"] == 4


def test_lm_score_partition_invariant(spark):
    """The integer-quantized per-token log-probs make document sums
    independent of partitioning / aggregation order — the property
    naive float log-prob sums do NOT have."""
    from docling_spark.operators.lmscore import lm_score

    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text"))
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    a = {r["doc_id"]: r["mean_nll_e6"]
         for r in lm_score(docs.repartition(1), ref).collect()}
    b = {r["doc_id"]: r["mean_nll_e6"]
         for r in lm_score(docs.repartition(16), ref).collect()}
    assert a == b


def test_split_docs_stable_and_partitioned(spark):
    from docling_spark.operators.packing import split_docs

    docs = spark.createDataFrame([(i,) for i in range(2000)],
                                 "doc_id long")
    out = {r["doc_id"]: r["split"] for r in split_docs(docs).collect()}
    frac = sum(1 for s in out.values() if s == "train") / 2000
    assert 0.87 < frac < 0.93
    # growth never moves existing docs across splits
    bigger = spark.createDataFrame([(i,) for i in range(4000)],
                                   "doc_id long")
    out2 = {r["doc_id"]: r["split"] for r in split_docs(bigger).collect()}
    assert all(out2[k] == v for k, v in out.items())
    with pytest.raises(ValueError):
        split_docs(docs, weights_e4={"train": 9999})


def test_canonical_representatives_prefers_quality(spark):
    from docling_spark.operators.dedup import canonical_representatives

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, component long")
    scores = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (8, 5)],
        "doc_id long, n_tokens int")
    out = {r["component"]: r for r in canonical_representatives(
        comp, scores, score_col="n_tokens").collect()}
    # component 1: doc 2 and 3 tie at 50 -> lowest id wins
    assert out[1]["canonical_id"] == 2
    assert out[1]["n_members"] == 3
    assert out[1]["best_n_tokens"] == 50
    assert out[7]["canonical_id"] == 7


def test_cap_per_group_exact_and_stable(spark):
    from docling_spark.operators.packing import cap_per_group

    docs = spark.createDataFrame(
        [(i, "big.org" if i < 95 else "small.org") for i in range(100)],
        "doc_id long, source string")
    out = cap_per_group(docs, group_col="source", n=10)
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big.org"]) == 10     # capped
    assert len(by_src["small.org"]) == 5    # under the cap: all kept
    # stable: same subset on re-run
    again = {r["doc_id"] for r in out.collect() if r["source"] == "big.org"}
    assert again == by_src["big.org"]


def test_quantiles_sketch_accuracy_vs_exact(spark):
    """Sketch estimates are within one bin width of the exact
    order-statistics quantiles, and a constant group degenerates to
    the constant."""
    from docling_spark.operators.sketch import (quantiles_exact,
                                                quantiles_sketch)

    rows = [("a", float(v), i) for i, v in enumerate(range(1000))]
    rows += [("c", 7.0, 9999), ("c", 7.0, 9998)]
    df = spark.createDataFrame(rows, "grp string, v double, id long")
    exact = {(r["grp"], r["p_pct"]): r["value"] for r in
             quantiles_exact(df, group_col="grp", value_col="v",
                             tie="id").collect()}
    sk = {(r["grp"], r["p_pct"]): r["est_e2"] / 100.0 for r in
          quantiles_sketch(df, group_col="grp", value_col="v",
                           bins=256).collect()}
    width = 999.0 / 256
    for p in (50, 90, 99):
        assert abs(sk[("a", p)] - exact[("a", p)]) <= width + 0.01
        assert sk[("c", p)] == 7.0


def test_lm_score_bigram_backoff_tiers(spark):
    """Observed bigrams score strictly better than either backoff
    tier. (The two backoff tiers do NOT order against each other in
    general: a frequent prefix concentrates mass on its observed
    continuations, pushing its unseen-continuation probability
    α/(c1+α(V+1)) below the wholly-unseen uniform 1/(V+1).)"""
    from docling_spark.operators.lmscore import lm_score_bigram

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(4)],
        "doc_id long, text string")
    docs = spark.createDataFrame([
        (1, "the cat sat"),     # all observed transitions
        (2, "the zzz cat"),     # seen prefixes, unseen continuations
        (3, "qqq www eee"),     # wholly unseen prefixes
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score_bigram(docs, ref).collect()}
    assert out[1]["mean_nll_e6"] < out[2]["mean_nll_e6"]
    assert out[1]["mean_nll_e6"] < out[3]["mean_nll_e6"]
    assert out[1]["n_trans"] == 2


def test_gap_filled_series_semantics(spark):
    import datetime
    from docling_spark.operators.timeseries import gap_filled_series

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", base, 10.0),
        ("a", base + datetime.timedelta(hours=3), 20.0),
        ("b", base + datetime.timedelta(hours=1), 5.0),
    ]
    ev = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {(r["k"], r["slot_epoch"]): r for r in
           gap_filled_series(ev, key_col="k", trailing_slots=2).collect()}
    slots = sorted(s for (k, s) in out if k == "a")
    assert len(slots) == 4           # dense grid over global span
    s0, s1, s2, s3 = slots
    assert out[("a", s1)]["n_events"] == 0          # gap slot exists
    assert out[("a", s1)]["sum_value_e2"] is None
    assert out[("a", s1)]["locf_value_e2"] == 1000  # carried forward
    assert out[("a", s3)]["locf_value_e2"] == 2000
    # trailing-2 mean with gap-as-zero: slot3 = (0 + 2000)/2
    assert out[("a", s3)]["ma_value_e2"] == 1000
    # key b: slot before its first event has NULL locf
    assert out[("b", s0)]["locf_value_e2"] is None
    assert out[("b", s1)]["locf_value_e2"] == 500


def test_flag_anomalies_spike_detection(spark):
    import datetime
    from docling_spark.operators.timeseries import (flag_anomalies,
                                                    gap_filled_series)

    base = datetime.datetime(2024, 1, 1)
    # steady 10.0/hour for 10 hours, then a 100.0 spike
    rows = [("a", base + datetime.timedelta(hours=h), 10.0)
            for h in range(10)]
    rows.append(("a", base + datetime.timedelta(hours=10), 100.0))
    ev = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    grid = gap_filled_series(ev, key_col="k")
    out = {r["slot_epoch"]: r for r in
           flag_anomalies(grid, key_col="k").collect()}
    slots = sorted(out)
    # first slot has no history: never flagged
    assert out[slots[0]]["anomaly"] == 0
    # steady slots: not anomalous
    assert all(out[s]["anomaly"] == 0 for s in slots[1:10])
    # the spike (100 > 2x baseline of 10) is flagged
    assert out[slots[10]]["anomaly"] == 1
    assert out[slots[10]]["baseline_e2"] == 1000


def test_interpolate_series_linear_blend(spark):
    import datetime
    from docling_spark.operators.timeseries import (gap_filled_series,
                                                    interpolate_series)

    base = datetime.datetime(2024, 1, 1)
    rows = [("a", base, 10.0),
            ("a", base + datetime.timedelta(hours=3), 40.0)]
    ev = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    grid = gap_filled_series(ev, key_col="k")
    out = {r["slot_epoch"]: r["interp_value_e2"] for r in
           interpolate_series(grid, key_col="k").collect()}
    s = sorted(out)
    # 1000 .. 4000 over 3 slots: linear 1000, 2000, 3000, 4000
    assert [out[x] for x in s] == [1000, 2000, 3000, 4000]


def test_c4_line_filter_keeps_punctuated_prose(spark):
    from docling_spark.operators.curate import c4_line_filter

    text = ("The quick brown fox jumps.\n"
            "no punctuation fragment\n"
            "click here\n"
            "Was that really enough words?\n"
            'He said "stop".')
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = c4_line_filter(docs).collect()[0]
    assert r["text"] == ("The quick brown fox jumps.\n"
                         "Was that really enough words?\n"
                         'He said "stop".')
    assert r["n_kept"] == 3 and r["n_dropped"] == 2


def test_gopher_rules_individual_gates(spark):
    from docling_spark.operators.textstats import gopher_rules

    prose = ("the quick brown fox and the lazy dog have fun with "
             "that ball " * 5).strip()                 # 60 words, stops
    docs = spark.createDataFrame([
        (1, prose),
        (2, "short doc with the stops and that"),       # < 50 words
        (3, " ".join(["zzzzzzzzzzzzzzzz"] * 60)),       # mean len > 10
        (4, " ".join(["12"] * 30 + ["the", "and"] + ["ok"] * 28)),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["r_words"] == 0 and out[2]["keep"] == 0
    assert out[3]["r_meanlen"] == 0 and out[3]["r_stops"] == 0
    # doc 4: 30/60 words non-alphabetic -> alpha rule fails
    assert out[4]["r_alpha"] == 0 and out[4]["r_words"] == 1


def test_cms_heavy_hitters_bounds(spark):
    from docling_spark.operators.sketch import cms_heavy_hitters
    import hashlib

    # zipf-ish stream: token t_i appears (40 - i) times
    rows = [(f"t{i:02d}",) for i in range(40) for _ in range(40 - i)]
    df = spark.createDataFrame(rows, "token string")
    out = cms_heavy_hitters(df, value_col="token", depth=4,
                            width=64, k=10).collect()
    assert [r["rank"] for r in out] == list(range(1, 11))
    # exact counts, correct order (count desc, token asc tiebreak)
    assert [r["token"] for r in out] == [f"t{i:02d}" for i in range(10)]
    assert [r["cnt"] for r in out] == [40 - i for i in range(10)]
    for r in out:
        # CMS one-sided error: estimate never undercounts
        assert r["est_cnt"] >= r["cnt"]
        assert r["overcount"] == r["est_cnt"] - r["cnt"]

    # the estimate is the hand-computable min over 4 bucket sums
    cnt = {f"t{i:02d}": 40 - i for i in range(40)}

    def bucket(seed, val):
        return int(hashlib.md5(f"{seed}:{val}".encode())
                   .hexdigest()[:12], 16) % 64

    sums = {}
    for s in range(4):
        for v, c in cnt.items():
            sums[(s, bucket(s, v))] = sums.get((s, bucket(s, v)), 0) + c
    for r in out:
        want = min(sums[(s, bucket(s, r["token"]))] for s in range(4))
        assert r["est_cnt"] == want

    # NULL/empty values are dropped, not counted
    rows2 = rows + [(None,), ("",)]
    df2 = spark.createDataFrame(rows2, "token string")
    out2 = cms_heavy_hitters(df2, value_col="token", depth=4,
                             width=64, k=10).collect()
    assert [(r["token"], r["cnt"]) for r in out2] \
        == [(r["token"], r["cnt"]) for r in out]


def test_reservoir_sample_deterministic_and_weighted(spark):
    from docling_spark.operators.sampling import \
        reservoir_sample_per_source
    rows = [(f"d{i:03d}", "a", 1 if i < 90 else 1000)
            for i in range(100)]
    docs = spark.createDataFrame(
        rows, "doc_id string, source string, w long")
    got1 = sorted(r["doc_id"] for r in reservoir_sample_per_source(
        docs, k=10, weight_col="w").collect())
    got2 = sorted(r["doc_id"] for r in reservoir_sample_per_source(
        docs, k=10, weight_col="w").collect())
    assert got1 == got2 and len(got1) == 10          # deterministic
    # the 10 heavy docs (w=1000, 10% of rows) must dominate the sample
    heavy = sum(1 for d in got1 if int(d[1:]) >= 90)
    assert heavy >= 7
    # different salt → different draw (k=5 of the 10 heavy docs, so
    # the chosen subset varies with the salt)
    got_a = sorted(r["doc_id"] for r in reservoir_sample_per_source(
        docs, k=5, weight_col="w").collect())
    got_b = sorted(r["doc_id"] for r in reservoir_sample_per_source(
        docs, k=5, weight_col="w", salt="s2").collect())
    assert got_a != got_b


def test_reservoir_sample_uniform_without_weight(spark):
    from docling_spark.operators.sampling import \
        reservoir_sample_per_source
    docs = spark.createDataFrame(
        [(f"d{i}", "s") for i in range(50)],
        "doc_id string, source string")
    out = reservoir_sample_per_source(docs, k=5).collect()
    assert len(out) == 5
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [1, 2, 3, 4, 5]


def test_stratified_split_stable_and_proportional(spark):
    from docling_spark.operators.sampling import stratified_split
    docs = spark.createDataFrame(
        [(f"d{i}", "s") for i in range(2000)],
        "doc_id string, source string")
    out = {r["doc_id"]: r["split"]
           for r in stratified_split(docs).collect()}
    frac_train = sum(1 for v in out.values() if v == "train") / 2000
    assert 0.96 <= frac_train <= 0.995
    # growth stability: adding docs never reassigns existing ones
    grown = spark.createDataFrame(
        [(f"d{i}", "s") for i in range(3000)],
        "doc_id string, source string")
    out2 = {r["doc_id"]: r["split"]
            for r in stratified_split(grown).collect()}
    assert all(out2[k] == v for k, v in out.items())


def _held(spark):
    """Ids of the RDDs the session holds persisted right now."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_curate_path_leaves_no_cache_held(spark, tmp_path, capsys):
    """curate(), simhash_pairs() and the curate job (default flags and
    with its one strip-stage cache) end holding no persisted RDD they
    did not release. RDDs that earlier tests in this shared session
    localCheckpointed stay listed after clearCache, and the context
    cleaner may release some of them meanwhile, so the check is that
    no id outside the set held before these runs is held after them.
    With their old persists, curate() left 2 RDDs held and
    simhash_pairs() 1."""
    from docling_spark.operators.curate import curate
    from docling_spark.operators.dedup import simhash_pairs
    from jobs.curate import main

    docs_path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    spark.catalog.clearCache()
    before = _held(spark)
    assert curate(docs).count() > 0
    assert _held(spark) - before == set()
    assert simhash_pairs(docs).count() > 0
    assert _held(spark) - before == set()
    for name, flags in (("default", []),
                        ("boilerplate", ["--strip-boilerplate"])):
        argv = ["--input", docs_path, "--output", str(tmp_path / name),
                "--partitions", "4", *flags]
        assert main(argv, _spark=spark) == 0
        assert "committed" in capsys.readouterr().out
        assert _held(spark) - before == set(), name


def test_corpus_operators_leave_no_cache_held(spark):
    """One action on each of these corpus operators leaves no new RDD
    persisted: an operator that caches a frame for a single action has
    no point at which to release it."""
    from docling_spark.operators.dedup import (dup_ngram_fraction,
                                               exploded_shingles,
                                               ngram_novelty,
                                               winnow_overlap_pairs)
    from docling_spark.operators.retrieval import bm25_topk
    from docling_spark.operators.sketch import cms_heavy_hitters
    from docling_spark.operators.textstats import (tokens_col,
                                                   winnow_fingerprints)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    queries = spark.createDataFrame([(1, "data report")],
                                    "query_id long, qtext string")
    runs = {
        "winnow_overlap_pairs": lambda: winnow_overlap_pairs(
            winnow_fingerprints(docs)),
        "ngram_novelty": lambda: ngram_novelty(exploded_shingles(docs)),
        "dup_ngram_fraction": lambda: dup_ngram_fraction(
            exploded_shingles(docs)),
        "bm25_topk": lambda: bm25_topk(docs, queries),
        "cms_heavy_hitters": lambda: cms_heavy_hitters(
            docs.select(F.explode(tokens_col()).alias("token")),
            value_col="token"),
    }
    spark.catalog.clearCache()
    before = _held(spark)
    for name, run in runs.items():
        run().count()
        assert _held(spark) - before == set(), name
