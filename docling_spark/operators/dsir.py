"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

Select pretraining documents that look like a small high-quality
TARGET corpus: featurize every document as hashed n-gram counts, fit
bag-of-hashed-ngrams models on the target (p) and the raw pool (q),
weight each document by its log importance ratio
log w(x) = Σ_gram (log p_bucket − log q_bucket), then resample with
Gumbel-top-k — the paper's trick that turns "sample k docs with
probability ∝ w(x)" into a deterministic ranking: rank by
log w(x) + Gumbel noise and keep the top k.

Engine spelling (everything oracle-replayable, per the repo's
conventions established in lmscore.py / sketch.py):

* n-grams = unigrams + space-joined bigrams of the canonical
  normalization (textstats.tokens_col);
* bucket = first-8-hex md5 of the gram, mod ``buckets`` — the exact
  formula every other replayable hash here uses;
* per-bucket log-probs (add-1 over buckets) are quantized to integers
  (floor(ln p · 1e6)) INSIDE the 2·B-row model table, so document
  weights are INTEGER sums — order-independent across partitions and
  engines;
* Gumbel noise is a pure function of doc_id: u = md5-unit-hash
  (48-bit prefix / 2^48, sketch.py:_unit_hash), g = −ln(−ln u) —
  deterministic, reproducible, and independent of the weights as the
  estimator requires.

Scale shape: the model is TWO bounded aggregations (≤``buckets`` rows
each — map-side combinable, broadcast afterwards); scoring is one
narrow gram explode + broadcast join + ONE groupBy(doc_id) with
algebraic sums; resampling is the salted two-phase top-k
(retrieval.distributed_topk) — no global sort ever sees the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .retrieval import distributed_topk
from .textstats import tokens_col

DSIR_BUCKETS = 256
DSIR_SCALE = 1_000_000
_HASH_DENOM = float(1 << 48)


def _grams_col() -> Column:
    """Unigrams + bigrams of the canonical tokenization."""
    t = tokens_col()
    n = F.size(t)
    bg = F.zip_with(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b))
    return F.concat(t, bg)


def _bucket_col(gram: Column, buckets: int) -> Column:
    return F.pmod(F.conv(F.substring(F.md5(gram), 1, 8), 16, 10)
                  .cast("long"), F.lit(buckets)).cast("int")


def _doc_bucket_counts(df: DataFrame, buckets: int) -> DataFrame:
    """(doc_id, text) → (doc_id, bucket, c): per-document hash-bucket
    histogram. ONE gram explode + ONE groupBy whose map-side combine
    collapses each document to ≤``buckets`` rows before the shuffle —
    every downstream consumer (pool model, scoring join) reads this
    compact frame instead of re-exploding the corpus."""
    b = df.select("doc_id", F.explode(_grams_col()).alias("gram")) \
          .select("doc_id",
                  _bucket_col(F.col("gram"), buckets).alias("bucket"))
    return b.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))


def _logprobs_from_counts(counts: DataFrame, buckets: int,
                          out: str) -> DataFrame:
    """(bucket, c) marginal → (bucket, <out>): integer-quantized add-1
    log-prob of each hash bucket, dense over all buckets so unseen
    buckets get the smoothed floor. ≤``buckets`` rows."""
    total = counts.agg(F.sum("c").alias("n"))
    grid = counts.sparkSession.range(buckets) \
        .select(F.col("id").cast("int").alias("bucket"))
    dense = (grid.join(counts, "bucket", "left")
             .crossJoin(F.broadcast(total))
             .select("bucket",
                     F.floor(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
                                   / (F.col("n") + buckets))
                             * DSIR_SCALE).cast("long").alias(out)))
    return dense


def _bucket_logprobs(df: DataFrame, buckets: int,
                     out: str) -> DataFrame:
    """(doc_id, text) slice → (bucket, <out>) add-1 log-probs."""
    b = df.select(F.explode(_grams_col()).alias("gram")) \
          .select(_bucket_col(F.col("gram"), buckets).alias("bucket"))
    counts = b.groupBy("bucket").agg(F.count("*").alias("c"))
    return _logprobs_from_counts(counts, buckets, out)


def dsir_weights(docs: DataFrame, target: DataFrame, *,
                 buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(doc_id, text) × target slice → (doc_id, n_grams, weight_e6,
    keep): integer log importance ratio per document; keep = 1 when
    the document looks more target-like than pool-like (weight > 0).

    The pool model q and the per-document scores are BOTH derived from
    one persisted per-doc bucket histogram, so the corpus is tokenized
    and md5-hashed exactly once (the target slice is small by the
    method's design and is exploded directly). Without the cache the
    explode and md5 run once per consumer (the scores, the pool counts
    and their total): an input already partitioned by doc_id leaves
    the histogram no exchange to reuse (sf0.1 on 4 cores:
    ``dsir_weights`` 1.5-1.9 s cached, 2.4-3.6 s without)."""
    bc = _doc_bucket_counts(docs, buckets).persist()
    p = _bucket_logprobs(target, buckets, "lp_t")
    q = _logprobs_from_counts(
        bc.groupBy("bucket").agg(F.sum("c").alias("c")), buckets, "lp_s")
    llr = F.broadcast(p.join(q, "bucket")
                      .select("bucket",
                              (F.col("lp_t") - F.col("lp_s"))
                              .alias("llr")))
    agg = (bc.join(llr, "bucket")
           .groupBy("doc_id")
           .agg(F.sum("c").alias("_n"),
                F.sum(F.col("c") * F.col("llr")).alias("_w")))
    return agg.select(
        "doc_id", F.col("_n").cast("int").alias("n_grams"),
        F.col("_w").cast("long").alias("weight_e6"),
        (F.col("_w") > 0).cast("int").alias("keep"))


def dsir_resample(docs: DataFrame, target: DataFrame, *, k: int,
                  buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Gumbel-top-k resampling: rank documents by
    weight + Gumbel(doc_id) and keep the global top ``k`` via the
    salted two-phase top-k. Returns (doc_id, score_e6, rank)."""
    w = dsir_weights(docs, target, buckets=buckets)
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                16, 10).cast("double") / F.lit(_HASH_DENOM))
    gumbel = -F.log(-F.log(u))
    scored = w.select(
        "doc_id",
        F.floor((F.col("weight_e6") / F.lit(float(DSIR_SCALE)) + gumbel)
                * DSIR_SCALE).cast("long").alias("score_e6"),
        F.lit(0).alias("_g"))
    top = distributed_topk(scored, key="_g", order="score_e6",
                           tie="doc_id", k=k)
    return top.select("doc_id", "score_e6",
                      F.col("rank").cast("int").alias("rank"))
