"""fastText-style linear quality classifier (Naive-Bayes token LLR).

GPT-3 (Brown et al. 2020, Appendix A), CCNet/RedPajama, and LLaMA all
gate web documents with a cheap linear bag-of-tokens classifier
trained "curated reference vs raw crawl" (fastText or logistic
regression over token features). The engine spelling keeps exactly
that pipeline shape — train on two labeled corpus slices, score every
document by a per-token linear sum, gate on a threshold — with a
Naive-Bayes log-likelihood-ratio model, which is deterministic,
closed-form (no SGD), and, like ``lmscore.py``, ORDER-INDEPENDENT:

* the LLR of each DISTINCT vocabulary token,
  ``ln p(tok|pos) − ln p(tok|neg)`` with add-alpha smoothing over the
  shared vocabulary, is computed once and quantized to an integer
  (``floor(llr · 1e6)``) in the model table itself;
* each document then SUMS INTEGERS — immune to float-summation-order
  differences across engines and across Spark partitionings;
* the mean LLR is one final double division of two exact integers.

NB with shared-vocabulary add-alpha smoothing IS a linear classifier
over token counts (weights = the LLR table, bias = the class prior),
so this is the same model family fastText fits by SGD — swap in real
fastText weights by replacing the model table; the scoring plan is
unchanged.

Plan shape: training aggregates each slice to a vocabulary table
(bounded by vocabulary, not corpus); scoring is one token explode +
one broadcast join against that table + ONE groupBy(doc_id) with
algebraic aggregates (map-side partial). No windows, no sorts, no
driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col

NB_ALPHA = 0.5
NB_SCALE = 1_000_000


def nb_model_table(pos: DataFrame, neg: DataFrame, *,
                   alpha: float = NB_ALPHA):
    """Train the classifier: (token, llr_e6) for every token observed
    in EITHER class, plus the unseen-token LLR as a 1-row DataFrame.

    Smoothing is add-alpha over the SHARED vocabulary V (union of both
    classes, +1 unseen slot), so both class distributions normalize
    over the same support and the LLR is a proper linear weight:

        llr(t) = ln (cp(t)+α)/(Np+α(V+1)) − ln (cn(t)+α)/(Nn+α(V+1))

    quantized as ``floor(llr · 1e6)`` — ONE floor of the difference
    (not a difference of floors), the form an oracle replays exactly.
    """
    cp = (pos.select(F.explode(tokens_col()).alias("token"))
          .groupBy("token").agg(F.count("*").alias("cp")))
    cn = (neg.select(F.explode(tokens_col()).alias("token"))
          .groupBy("token").agg(F.count("*").alias("cn")))
    vocab = (cp.join(cn, "token", "full")
             .select("token",
                     F.coalesce("cp", F.lit(0)).alias("cp"),
                     F.coalesce("cn", F.lit(0)).alias("cn")))
    stats = vocab.agg(F.sum("cp").alias("np"),
                      F.sum("cn").alias("nn"),
                      F.count("*").alias("v"))
    dp = F.col("np") + alpha * (F.col("v") + 1)
    dn = F.col("nn") + alpha * (F.col("v") + 1)
    model = (vocab.crossJoin(F.broadcast(stats))
             .select("token",
                     F.floor((F.log((F.col("cp") + alpha) / dp)
                              - F.log((F.col("cn") + alpha) / dn))
                             * NB_SCALE).cast("long").alias("llr_e6")))
    unseen = stats.select(
        F.floor((F.log(alpha / dp) - F.log(alpha / dn))
                * NB_SCALE).cast("long").alias("llr_e6"))
    return model, unseen


def quality_classify(docs: DataFrame, pos: DataFrame, neg: DataFrame,
                     *, alpha: float = NB_ALPHA,
                     min_mean_llr_e6: int | None = None) -> DataFrame:
    """(doc_id, text) → (doc_id, n_tokens, mean_llr_e6[, keep]) —
    mean token log-likelihood ratio (×1e6, floored) of each document
    under the NB model trained on the ``pos`` (curated) vs ``neg``
    (raw) slices. Higher = more like the curated corpus. With
    ``min_mean_llr_e6`` set, adds the GPT-3-style keep/drop gate
    column (class priors cancel into the threshold, so the gate is
    exactly the NB decision rule with an adjustable bias).

    The model table is broadcast into the token join, so the document
    token stream never shuffles before the per-doc aggregate."""
    model, unseen = nb_model_table(pos, neg, alpha=alpha)
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    scored = (toks
              .join(F.broadcast(model), "token", "left")
              .crossJoin(F.broadcast(
                  unseen.select(F.col("llr_e6").alias("_u"))))
              .select("doc_id",
                      F.coalesce("llr_e6", "_u").alias("llr")))
    agg = (scored.groupBy("doc_id")
           .agg(F.count("*").alias("_n"), F.sum("llr").alias("_sl")))
    out = agg.select(
        "doc_id", F.col("_n").cast("int").alias("n_tokens"),
        F.floor(F.col("_sl") / F.col("_n"))
        .cast("long").alias("mean_llr_e6"))
    if min_mean_llr_e6 is not None:
        out = out.withColumn(
            "keep", (F.col("mean_llr_e6") >= min_mean_llr_e6)
            .cast("int"))
    return out
