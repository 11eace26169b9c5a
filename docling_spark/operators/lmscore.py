"""CCNet-style language-model quality filtering.

CCNet (Wenzek et al. 2020) filters web text by the perplexity of a
KenLM 5-gram model trained on Wikipedia. The engine spelling keeps the
pipeline shape (train a reference LM → score every document by mean
negative log-likelihood → gate on a threshold) with a unigram
add-alpha model, which is deterministic, needs no external model file,
and — critically for the oracle — can be made ORDER-INDEPENDENT:

* the log-probability of each DISTINCT vocabulary token is computed
  once and quantized to an integer (floor(ln p · 1e6)) in the
  vocabulary table itself;
* each document then SUMS INTEGERS — immune to the float-summation-
  order differences that make naive distributed log-prob sums
  non-replayable across engines (and across Spark runs with different
  partitioning!);
* the mean NLL is one final double division of two exact integers.

Plug a real KenLM in by swapping the vocabulary table for an
Arrow-batched UDF over the model file — the gate and plan shape stay
identical.

Plan shape: the reference slice aggregates to a vocabulary table
(bounded by vocabulary, not corpus); scoring is one token explode +
one broadcast join against that table + ONE groupBy(doc_id) with
algebraic aggregates (map-side partial). No windows, no sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens_col

LM_ALPHA = 0.5
LM_SCALE = 1_000_000


def unigram_lm_table(ref: DataFrame, *, alpha: float = LM_ALPHA):
    """Train the reference model: (token, lp_e6) for every vocabulary
    token, plus the unseen-token log-prob as a 1-row DataFrame.
    Add-alpha smoothing over vocabulary V (+1 unseen class):
    p(tok) = (c + α) / (N + α·(V+1))."""
    toks = ref.select(F.explode(tokens_col()).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    stats = counts.agg(F.sum("c").alias("n"),
                       F.count("*").alias("v"))
    denom = F.col("n") + alpha * (F.col("v") + 1)
    vocab = (counts.crossJoin(F.broadcast(stats))
             .select("token",
                     F.floor(F.log((F.col("c") + alpha) / denom)
                             * LM_SCALE).cast("long").alias("lp_e6")))
    unseen = stats.select(
        F.floor(F.log(alpha / denom) * LM_SCALE)
        .cast("long").alias("lp_e6"))
    return vocab, unseen


def _mean_nll(docs: DataFrame, ref: DataFrame, keys: tuple,
              alpha: float) -> DataFrame:
    """``keys`` + (n_tokens, mean_nll_e6) of each document under the
    unigram model trained on ``ref``: one token explode, one broadcast
    vocab join, one 1-row unseen-token cross join, ONE groupBy(keys)
    with algebraic aggregates, and the floor of the mean."""
    vocab, unseen = unigram_lm_table(ref, alpha=alpha)
    toks = docs.select(*keys, F.explode(tokens_col()).alias("token"))
    scored = (toks
              .join(F.broadcast(vocab), "token", "left")
              .crossJoin(F.broadcast(
                  unseen.select(F.col("lp_e6").alias("_u"))))
              .select(*keys, F.coalesce("lp_e6", "_u").alias("lp")))
    agg = (scored.groupBy(*keys)
           .agg(F.count("*").alias("_n"), F.sum("lp").alias("_slp")))
    return agg.select(
        *keys, F.col("_n").cast("int").alias("n_tokens"),
        F.floor(-1.0 * F.col("_slp") / F.col("_n"))
        .cast("long").alias("mean_nll_e6"))


def lm_score(docs: DataFrame, ref: DataFrame, *,
             alpha: float = LM_ALPHA,
             max_mean_nll_e6: int = None) -> DataFrame:
    """(doc_id, text) → (doc_id, n_tokens, mean_nll_e6[, keep]) —
    mean negative log-likelihood (×1e6, floored) of each document
    under the unigram model trained on ``ref``. Lower = more like the
    reference corpus. With ``max_mean_nll_e6`` set, adds the CCNet
    keep/drop gate column."""
    out = _mean_nll(docs, ref, ("doc_id",), alpha)
    if max_mean_nll_e6 is not None:
        out = out.withColumn(
            "keep", (F.col("mean_nll_e6") <= max_mean_nll_e6)
            .cast("int"))
    return out


def bigram_lm_tables(ref: DataFrame, *, alpha: float = LM_ALPHA):
    """Train the bigram reference model. Returns (bigram_table,
    prefix_table, floor_lp):

    * ``bigram_table`` (bigram, lp_e6): floor(ln p(cur|prev)·1e6) for
      every observed bigram, p = (c2+α)/(c1+α·(V+1));
    * ``prefix_table`` (token, lp_e6): the unseen-continuation
      log-prob for each observed prefix, α/(c1+α·(V+1));
    * ``floor_lp``: 1-row DataFrame with the wholly-unseen-prefix
      log-prob ln(1/(V+1)).

    c1 is derived FROM the bigram counts (occurrences as prefix), and
    V is the distinct-prefix count — both reproducible identically in
    SQL, which is what makes the quantized table engine-exact."""
    t = tokens_col()
    n = F.size(t)
    bg = F.zip_with(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b))
    bigrams = (ref.select(F.explode(bg).alias("bigram"))
               .groupBy("bigram").agg(F.count("*").alias("c2")))
    prefix = (bigrams
              .withColumn("prev", F.split("bigram", " ")[0])
              .groupBy("prev").agg(F.sum("c2").alias("c1")))
    stats = prefix.agg(F.count("*").alias("v"))
    denom = F.col("c1") + alpha * (F.col("v") + 1)
    joined = (bigrams
              .withColumn("prev", F.split("bigram", " ")[0])
              .join(prefix, "prev")
              .crossJoin(F.broadcast(stats)))
    bigram_table = joined.select(
        "bigram",
        F.floor(F.log((F.col("c2") + alpha) / denom) * LM_SCALE)
        .cast("long").alias("lp_e6"))
    prefix_table = (prefix.crossJoin(F.broadcast(stats))
                    .select(F.col("prev").alias("token"),
                            F.floor(F.log(alpha / denom) * LM_SCALE)
                            .cast("long").alias("lp_e6")))
    floor_lp = stats.select(
        F.floor(F.log(1.0 / (F.col("v") + 1)) * LM_SCALE)
        .cast("long").alias("lp_e6"))
    return bigram_table, prefix_table, floor_lp


def lm_score_bigram(docs: DataFrame, ref: DataFrame, *,
                    alpha: float = LM_ALPHA,
                    max_mean_nll_e6: int = None) -> DataFrame:
    """Bigram version of :func:`lm_score` — scores each document's
    TRANSITIONS (positions 2..n) under p(cur|prev) with add-α
    smoothing, two-level backoff (observed bigram → observed prefix →
    wholly unseen), all three tiers integer-quantized so the document
    sum stays order-independent. Returns (doc_id, n_trans,
    mean_nll_e6[, keep]).

    Both model tables are broadcast into the transition joins, so the
    document transition stream never shuffles before the per-doc
    aggregate."""
    bt, pt, fl = bigram_lm_tables(ref, alpha=alpha)
    bt, pt = F.broadcast(bt), F.broadcast(pt)
    t = tokens_col()
    n = F.size(t)
    bg = F.zip_with(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b))
    trans = docs.select("doc_id", F.explode(bg).alias("bigram"))
    scored = (trans
              .join(bt.withColumnRenamed("lp_e6", "_lp2"), "bigram",
                    "left")
              .withColumn("token", F.split("bigram", " ")[0])
              .join(pt.withColumnRenamed("lp_e6", "_lp1"), "token",
                    "left")
              .crossJoin(F.broadcast(
                  fl.withColumnRenamed("lp_e6", "_lp0")))
              .select("doc_id",
                      F.coalesce("_lp2", "_lp1", "_lp0").alias("lp")))
    agg = (scored.groupBy("doc_id")
           .agg(F.count("*").alias("_n"), F.sum("lp").alias("_slp")))
    out = agg.select(
        "doc_id", F.col("_n").cast("int").alias("n_trans"),
        F.floor(-1.0 * F.col("_slp") / F.col("_n"))
        .cast("long").alias("mean_nll_e6"))
    if max_mean_nll_e6 is not None:
        out = out.withColumn(
            "keep", (F.col("mean_nll_e6") <= max_mean_nll_e6)
            .cast("int"))
    return out


def lm_buckets(docs: DataFrame, ref: DataFrame, *,
               n_buckets: int = 3,
               alpha: float = LM_ALPHA) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4: sort
    each language by LM perplexity, cut into equal parts; 'head' is
    the most reference-like slice, used as the high-quality corpus).

    ``docs``: (doc_id, lang, text) → (doc_id, lang, n_tokens,
    mean_nll_e6, bucket), bucket 0..n_buckets-1 (0 = head).

    Documents are scored exactly as in :func:`lm_score`, then ranked
    inside their language by a total order (row_number over
    mean_nll_e6 with a doc_id tiebreak, divided by the language's
    count), so each language is bucketed in one window partition."""
    out = _mean_nll(docs, ref, ("doc_id", "lang"), alpha)
    w = Window.partitionBy("lang").orderBy("mean_nll_e6", "doc_id")
    rn = F.row_number().over(w)
    cnt = F.count("*").over(Window.partitionBy("lang"))
    bucket = F.floor(F.lit(float(n_buckets)) * (rn - 1) / cnt)
    return out.select("doc_id", "lang", "n_tokens", "mean_nll_e6",
                      bucket.cast("int").alias("bucket"))


def ngram_counts(docs: DataFrame, *, n: int = 3,
                 min_count: int = 2) -> DataFrame:
    """Corpus n-gram count table — the KenLM / infini-gram training
    prep (Heafield 2011): every order-``n`` token window with its
    corpus count, pruned at ``min_count`` (singleton pruning is the
    standard KenLM default for n>2).

    Scale shape: the n-gram column is built DOC-LOCALLY by zipping
    ``n`` shifted slices of the already-materialized token array (no
    position explode + self-join), then ONE shuffle counts them
    (map-side partial). Output is bounded by distinct-n-gram count;
    at web scale write it partitioned by ``pmod(xxhash64(ngram), k)``
    and feed the shards to the LM trainer."""
    from .textstats import tokens_col

    staged = docs.select(tokens_col().alias("_t"))
    sz = F.size("_t")
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0]
    grams = F.when(sz >= n, F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.array_join(F.slice("_t", i, n), " "))
    ).otherwise(F.array().cast("array<string>"))
    return (staged.select(F.explode(grams).alias("ngram"))
            .groupBy("ngram").agg(F.count("*").cast("long").alias("c"))
            .filter(F.col("c") >= min_count))
