"""Round-3 curation additions: unicode canonicalization
(operators/normalize.py), bloom-filter incremental dedup + shingle
containment (operators/dedup.py), per-group percentile quality gate
(operators/curate.py)."""

import unicodedata


def test_canonicalized_nfc_controls_whitespace(spark):
    from docling_spark.operators.normalize import canonicalized
    docs = spark.createDataFrame(
        [(1, "café latte"),        # decomposed accent
         (2, "café latte"),          # composed — must hash equal
         (3, "a\x07b\x00c"),              # C0 controls stripped
         (4, "  x \t\t y  "),             # hws collapse + trim
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in canonicalized(docs).collect()}
    assert out[1]["norm_sha256"] == out[2]["norm_sha256"]
    assert out[1]["text_norm"] == "café latte"
    assert unicodedata.is_normalized("NFC", out[1]["text_norm"])
    assert out[3]["text_norm"] == "abc"
    assert out[4]["text_norm"] == "x y"
    assert out[5]["text_norm"] is None


def test_canonicalized_zero_shuffle(spark):
    from docling_spark.operators.normalize import canonicalized
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    plan = canonicalized(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_bloom_membership_members_and_novel(spark):
    from docling_spark.operators.dedup import bloom_membership
    seen = spark.createDataFrame(
        [(i, f"shared document body number {i}") for i in range(20)],
        "doc_id long, text string")
    probes = spark.createDataFrame(
        # 0-9: exact members (whitespace-normalized); 100+: novel
        [(i + 1000, f"shared  document body number {i}")
         for i in range(10)]
        + [(i + 2000, f"completely novel probe text {i} zzz")
           for i in range(10)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["bloom_dup"]
           for r in bloom_membership(seen, probes).collect()}
    assert all(out[i + 1000] == 1 for i in range(10))
    # 4 hashes into 2^18 bits from 80 set positions: P(fp) ~ (80/2^18)^4
    assert all(out[i + 2000] == 0 for i in range(10))


def test_bloom_set_bits_broadcast(spark):
    from docling_spark.operators.dedup import bloom_membership
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    plan = bloom_membership(docs, docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_containment_full_embedding(spark):
    from docling_spark.operators.dedup import (exploded_shingles,
                                               ngram_containment)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    sh = exploded_shingles(docs, n=3)
    rows = ngram_containment(sh, pairs).collect()
    assert len(rows) == 1
    assert rows[0]["containment"] == 1.0  # doc 1 fully inside doc 2


def test_adaptive_quality_gate_per_group(spark):
    from docling_spark.operators.curate import adaptive_quality_gate
    rows = ([(i, "a", i) for i in range(1, 11)]          # scores 1..10
            + [(i + 100, "b", i * 100) for i in range(1, 11)])
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, score long")
    out = adaptive_quality_gate(docs, score_col="score",
                                group_col="source", q=0.3)
    got = {(r["source"], r["score"]) for r in out.collect()}
    # q=0.3 over 1..10 → threshold 3.7 → keep 4..10 in both groups
    assert {s for g, s in got if g == "a"} == set(range(4, 11))
    assert {s for g, s in got if g == "b"} == {i * 100
                                               for i in range(4, 11)}


def test_winnow_overlap_ranks_copy_above_unrelated(spark):
    from docling_spark.operators.dedup import winnow_overlap_pairs
    from docling_spark.operators.textstats import winnow_fingerprints
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tomorrow"),
         (3, "completely different text with no overlap at all here")],
        "doc_id long, text string")
    fps = winnow_fingerprints(docs)
    rows = winnow_overlap_pairs(fps, min_shared=2, max_df=10).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["overlap_e4"] > 9000


def test_ngram_novelty_clone_scores_zero(spark):
    from docling_spark.operators.dedup import (exploded_shingles,
                                               ngram_novelty)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),     # exact clone
         (3, "totally fresh shingle content here")],
        "doc_id long, text string")
    nulls = spark.createDataFrame([(None, "alpha beta gamma"), (3, None)],
                                  "doc_id long, shingle string")
    sh = exploded_shingles(docs, n=3).unionByName(nulls)
    out = {r["doc_id"]: r for r in ngram_novelty(sh).collect()}
    assert out[1]["novelty_e4"] == 10000
    assert out[2]["novelty_e4"] == 0
    assert out[3]["novelty_e4"] == 10000
    # the NULL shingle is one more shingle, owned by its only doc;
    # the NULL doc_id group owns nothing
    assert tuple(out[3]) == (3, 4, 4, 10000)
    assert tuple(out[None]) == (None, 1, 0, 0)


def test_idf_rarity_orders_rare_above_common(spark):
    from docling_spark.operators.textstats import idf_rarity
    docs = spark.createDataFrame(
        [(i, "the common shared words") for i in range(1, 10)]
        + [(10, "zyzzyva xylophone quixotic jackdaw")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["mean_idf_e6"] for r in idf_rarity(docs).collect()}
    assert out[10] > out[1]
    import math
    # doc 10's tokens each appear in exactly 1 of 10 docs → ln(10)
    assert out[10] == math.floor(math.log(10) * 1e6)
    assert out[1] == math.floor(math.log(10 / 9) * 1e6)


def test_url_blocklist_suffix_semantics(spark):
    from docling_spark.operators.weburl import url_blocklist_gate
    df = spark.createDataFrame(
        [(1, "https://WWW.Deep.Sub.Blocked.org:443/x"),  # suffix hit
         (2, "https://blocked.org/y"),                   # exact hit
         (3, "https://notblocked.org/z"),                # no suffix match
         (4, "https://fine.example.net/w")],
        "doc_id long, url string")
    bl = spark.createDataFrame([("blocked.org",)], "domain string")
    kept = {r["doc_id"] for r in url_blocklist_gate(df, bl).collect()}
    assert kept == {3, 4}


def test_url_blocklist_broadcast_no_doc_shuffle(spark):
    from docling_spark.operators.weburl import url_blocklist_gate
    df = spark.createDataFrame(
        [(i, f"https://h{i}.example.com/p") for i in range(100)],
        "doc_id long, url string")
    bl = spark.createDataFrame([("h7.example.com",)], "domain string")
    plan = url_blocklist_gate(df, bl)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_minhash_estimate_tracks_exact_jaccard(spark):
    from docling_spark.operators.dedup import (exploded_shingles,
                                               minhash_jaccard_est,
                                               minhash_signatures_indep,
                                               ngram_jaccard)
    docs = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we wf"),
         (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we wf x y"),
         (3, "entirely different tokens here nothing shared at all ok")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)],
                                  "doc_a long, doc_b long")
    sh = exploded_shingles(docs, n=3)
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard_e4"]
           for r in minhash_jaccard_est(
               minhash_signatures_indep(sh), pairs).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard(sh, pairs).collect()}
    # near-identical pair estimates high, disjoint pair exactly 0
    assert est[(1, 2)] >= 6000 and exact[(1, 2)] > 0.8
    # disjoint pair: estimator says 0; the exact verify emits no row
    # at all (its shingle equijoin has no intersection to count)
    assert est[(1, 3)] == 0
    assert (1, 3) not in exact


def test_script_mix_counts_and_flag(spark):
    from docling_spark.operators.textstats import script_mix
    docs = spark.createDataFrame(
        [(1, "hello world"),
         (2, "hello мир"),          # latin + cyrillic → mix
         (3, "你好世界"),
         (4, "αβγ and مرحبا")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_mix(docs).collect()}
    assert out[1]["n_latin"] == 10 and out[1]["latin_cyrillic_mix"] == 0
    assert out[2]["n_cyrillic"] == 3 and out[2]["latin_cyrillic_mix"] == 1
    assert out[3]["n_cjk"] == 4
    assert out[4]["n_greek"] == 3 and out[4]["n_arabic"] == 5
    assert out[4]["latin_cyrillic_mix"] == 0


def test_script_mix_zero_shuffle(spark):
    from docling_spark.operators.textstats import script_mix
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    plan = script_mix(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_pair_eval_precision_recall(spark):
    from docling_spark.operators.dedup import pair_eval
    pred = spark.createDataFrame([(1, 2), (3, 4), (5, 6)],
                                 "doc_a long, doc_b long")
    truth = spark.createDataFrame([(1, 2), (3, 4), (7, 8), (9, 10)],
                                  "doc_a long, doc_b long")
    r = pair_eval(pred, truth).collect()[0]
    assert (r["n_pred"], r["n_truth"], r["n_hit"]) == (3, 4, 2)
    assert r["precision_e4"] == 6666  # 2/3
    assert r["recall_e4"] == 5000     # 2/4


def test_dedup_report_ratios(spark):
    from docling_spark.operators.dedup import dedup_report
    docs = spark.createDataFrame(
        [(1, "a", "same text"), (2, "a", "same text"),
         (3, "a", "same  TEXT"),          # normalizes equal too
         (4, "a", "other"), (5, "b", "unique one"), (6, "b", "two")],
        "doc_id long, source string, text string")
    out = {r["source"]: r for r in dedup_report(docs).collect()}
    assert out["a"]["n_docs"] == 4 and out["a"]["n_unique"] == 2
    assert out["a"]["max_cluster"] == 3
    assert out["a"]["dup_ratio_e4"] == 5000
    assert out["b"]["dup_ratio_e4"] == 0


def test_mad_gate_drops_only_outliers(spark):
    from docling_spark.operators.curate import mad_outlier_gate
    rows = ([(i, "a", 100 + (i % 7)) for i in range(40)]   # tight core
            + [(90, "a", 100000), (91, "a", 1)])           # outliers
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, score long")
    kept = {r["doc_id"] for r in
            mad_outlier_gate(docs, score_col="score").collect()}
    assert 90 not in kept and 91 not in kept
    assert all(i in kept for i in range(40))


def test_mad_gate_zero_mad_keeps_whole_group(spark):
    # >=50% of the group at the median → MAD = 0; the gate must keep
    # the whole group (robust-z fallback), not just median-exact rows.
    from docling_spark.operators.curate import mad_outlier_gate
    rows = ([(i, "a", 50) for i in range(10)]      # all identical: MAD 0
            + [(20, "a", 51), (21, "a", 9999)]     # off-median, still kept
            + [(30, "b", 10), (31, "b", 12), (32, "b", 14),
               (33, "b", 1000)])                   # normal group: MAD 2
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, score long")
    kept = {r["doc_id"] for r in
            mad_outlier_gate(docs, score_col="score").collect()}
    assert all(i in kept for i in range(10)) and 20 in kept and 21 in kept
    assert 30 in kept and 31 in kept and 32 in kept and 33 not in kept


def test_vocab_jaccard_exact_and_kmv_agree(spark):
    from docling_spark.operators.sketch import (group_vocab_jaccard,
                                                kmv_jaccard)
    rows = ([("a", f"tok{i}") for i in range(200)]
            + [("b", f"tok{i}") for i in range(100, 300)]   # J = 1/3
            + [("c", f"tok{i}") for i in range(1000, 1100)])  # disjoint
    df = spark.createDataFrame(rows, "src string, tok string")
    exact = {(r["grp_a"], r["grp_b"]): r["jaccard_e4"]
             for r in group_vocab_jaccard(
                 df, group_col="src", value_col="tok").collect()}
    assert exact == {("a", "b"): 3333}  # zero-overlap pairs omitted
    est = {(r["grp_a"], r["grp_b"]): r["est_jaccard_e4"]
           for r in kmv_jaccard(df, group_col="src", value_col="tok",
                                k=512).collect()}
    # k >= |union| → the sketch IS the exact answer
    assert est[("a", "b")] == 3333
    assert est[("a", "c")] == 0 and est[("b", "c")] == 0
    # small k: unbiased estimate, loose tolerance
    est64 = {(r["grp_a"], r["grp_b"]): r["est_jaccard_e4"]
             for r in kmv_jaccard(df, group_col="src", value_col="tok",
                                  k=64).collect()}
    assert 1500 <= est64[("a", "b")] <= 5500


def test_minhash_lsh_indep_family_finds_planted_clones(spark):
    from docling_spark.operators.dedup import minhash_dedup
    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} "
             f"zeta{i} eta{i} theta{i} iota{i} kappa{i}")
         for i in range(20)]
        + [(i + 1000, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} "
                      f"zeta{i} eta{i} theta{i} iota{i} kappa{i} extra")
           for i in range(20)],
        "doc_id long, text string")
    out = minhash_dedup(docs, n=3, num_hashes=16, bands=4,
                        threshold=0.5, hash_family="indep")
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert all((i, i + 1000) in pairs for i in range(20))
