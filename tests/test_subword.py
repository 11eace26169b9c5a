"""Subword encoders (operators/subword.py): WordPiece greedy
longest-match and Unigram Viterbi, driven through real Spark plans
(Arrow pandas_udf), with a brute-force Viterbi cross-check."""

from itertools import combinations

from pyspark.sql import functions as F

from docling_spark.operators.subword import (UNK, unigram_encode,
                                             wordpiece_encode)


def _enc_wp(spark, words, vocab, **kw):
    df = spark.createDataFrame([(words,)], "tokens array<string>")
    return wordpiece_encode(df, vocab, **kw).head()["wp_tokens"]


def _enc_ug(spark, words, vocab, **kw):
    df = spark.createDataFrame([(words,)], "tokens array<string>")
    return unigram_encode(df, vocab, **kw).head()["ug_tokens"]


def test_wordpiece_longest_match_first(spark):
    vocab = ["un", "##able", "##a", "##ble", "unable"]
    # whole word present beats any decomposition
    assert _enc_wp(spark, ["unable"], vocab) == ["unable"]
    # without the whole word, longest prefix then longest continuation
    assert _enc_wp(spark, ["unable"],
                   ["un", "##able", "##a", "##ble"]) == ["un", "##able"]


def test_wordpiece_unk_is_whole_word(spark):
    # a match-then-dead-end word falls back to ONE [UNK], not
    # [matched..., UNK] — the BERT whole-word fallback
    vocab = ["ab", "##c"]
    assert _enc_wp(spark, ["abz"], vocab) == [UNK]
    assert _enc_wp(spark, ["zq"], vocab) == [UNK]


def test_wordpiece_multi_word_and_edge_rows(spark):
    vocab = ["ab", "##ab"]
    df = spark.createDataFrame(
        [(1, ["abab", "ab"]), (2, []), (3, None), (4, ["", "ab"])],
        "doc_id int, tokens array<string>")
    got = {r["doc_id"]: r["wp_tokens"]
           for r in wordpiece_encode(df, vocab).collect()}
    assert got[1] == ["ab", "##ab", "ab"]
    assert got[2] == []
    assert got[3] == []          # NULL array → empty, row kept
    assert got[4] == ["ab"]      # empty word skipped


def _viterbi_brute(w, vocab):
    """All segmentations by exhaustive cut enumeration; best integer
    score with longer-piece-at-each-boundary tie preference encoded as
    lexicographic key (score, piece lengths from the END)."""
    n = len(w)
    best = None
    for k in range(n):
        for cuts in combinations(range(1, n), k):
            bounds = [0, *cuts, n]
            segs = [w[a:b] for a, b in zip(bounds, bounds[1:])]
            if any(s not in vocab for s in segs):
                continue
            score = sum(vocab[s] for s in segs)
            key = (score, tuple(len(s) for s in reversed(segs)))
            if best is None or key > best[0]:
                best = (key, segs)
    return best[1] if best else [UNK]


def test_unigram_matches_bruteforce(spark):
    vocab = {"a": -2_000_000, "b": -2_100_000, "ab": -1_500_000,
             "ba": -1_600_000, "abab": -2_500_000, "bb": -1_900_000}
    words = ["abab", "ababb", "babab", "aab", "bbbb", "ababab"]
    df = spark.createDataFrame([(words,)], "tokens array<string>")
    got = unigram_encode(df, vocab).head()["ug_tokens"]
    want = []
    for w in words:
        want.extend(_viterbi_brute(w, vocab))
    assert got == want


def test_unigram_tie_prefers_longer_piece(spark):
    # "abab" as abab(-3.0) vs ab+ab(-3.0): tie → single longer piece
    vocab = {"ab": -1_500_000, "abab": -3_000_000}
    assert _enc_ug(spark, ["abab"], vocab) == ["abab"]


def test_unigram_unk_and_edges(spark):
    vocab = {"ab": -1_500_000}
    df = spark.createDataFrame(
        [(1, ["zq"]), (2, ["ab", "zq", "abab"]), (3, None)],
        "doc_id int, tokens array<string>")
    got = {r["doc_id"]: r["ug_tokens"]
           for r in unigram_encode(df, vocab).collect()}
    assert got[1] == [UNK]
    assert got[2] == ["ab", UNK, "ab", "ab"]
    assert got[3] == []


def test_bpe_train_greedy_disjoint_and_order(spark):
    from docling_spark.operators.bpe import bpe_train
    df = spark.createDataFrame(
        [(["a", "b", "a", "b"],), (["a", "b", "a", "b", "a", "b"],)],
        "tokens array<string>")
    merges = bpe_train(df, rounds=5)
    # r1: "a b" count 2+3=5 ; r2: "ab ab" 1+2=3 (greedy: [ab]*3 →
    # [abab, ab], never [ab, abab]) ; r3: "abab ab" on the odd doc;
    # r4: no adjacent pairs remain → early stop
    assert merges == [("a b", 5), ("ab ab", 3), ("abab ab", 1)]


def test_bpe_train_tie_breaks_lexicographic(spark):
    from docling_spark.operators.bpe import bpe_train
    df = spark.createDataFrame([(["b", "c"],), (["a", "b"],)],
                               "tokens array<string>")
    merges = bpe_train(df, rounds=1)
    assert merges == [("a b", 1)]


def test_bpe_train_stops_when_no_pairs(spark):
    from docling_spark.operators.bpe import bpe_train
    df = spark.createDataFrame([(["x"],), ([],)], "tokens array<string>")
    assert bpe_train(df, rounds=3) == []


def test_bpe_encode_applies_in_rank_order(spark):
    from docling_spark.operators.bpe import bpe_encode, bpe_train
    df = spark.createDataFrame(
        [(["a", "b", "a", "b"],), (["a", "b", "a", "b", "a", "b"],),
         (["a", "c", "b"],)],
        "tokens array<string>")
    merges = bpe_train(df.limit(2), rounds=3)
    out = {tuple(r["tokens"]): r["bpe_tokens"]
           for r in bpe_encode(df, merges).collect()}
    assert out[("a", "b", "a", "b")] == ["abab"]
    # merge 3 ("abab ab") then coalesces the greedy leftover
    assert out[("a", "b", "a", "b", "a", "b")] == ["ababab"]
    # merges only fire on ADJACENT learned pairs — 'c' blocks them
    assert out[("a", "c", "b")] == ["a", "c", "b"]


def test_bpe_train_drops_null_and_empty_symbols(spark):
    from docling_spark.operators.bpe import bpe_train
    df = spark.createDataFrame(
        [(["a", None, "", "b"],), (["a", "b"],)],
        "tokens array<string>")
    # post-filter both docs are [a, b]: one merge, count 2 — a NULL
    # pair key must never win the argmax and crash pair.split
    assert bpe_train(df, rounds=2) == [("a b", 2)]
