"""Word co-occurrence counts + PMI (the GloVe / word2vec-negative-
sampling precompute, Pennington et al. 2014; Church & Hanks 1990).

Embedding pipelines precompute a corpus-wide co-occurrence matrix —
for every unordered token pair within a W-token window, how often it
occurs — then weight pairs by pointwise mutual information. At corpus
scale this is the canonical "pair explosion" Spark job, and the shape
matters:

* pair generation is DOC-LOCAL and NARROW: each document expands to
  ≤ W·n pairs inside one array expression (no self-join of an
  exploded position table, which would shuffle the corpus token
  stream twice and explode the join on hot tokens);
* the token array is materialized once per document before the HOF
  expression (array HOFs are interpreted — embedding the tokenizer in
  the lambda re-tokenizes per element);
* then exactly ONE shuffle counts pairs (map-side partial), the
  unigram table (bounded by vocabulary) is broadcast onto it twice,
  and totals ride a 1-row broadcast.

PMI is quantized: floor(ln(c_xy·N²/(P·c_x·c_y)) · 1e6) over exact
integer counts — engine-exact and order-independent, same contract as
``lmscore``/``classify``. Pairs are canonicalized (lexicographically
least token first) so both window directions merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import norm_text

PMI_SCALE = 1_000_000


def cooccurrence_pmi(docs: DataFrame, *, window: int = 4,
                     min_count: int = 2) -> DataFrame:
    """(doc_id, text) → (x, y, c_xy, c_x, c_y, pmi_e6) for every
    unordered token pair co-occurring within ``window`` tokens at
    least ``min_count`` times. The unigram table is broadcast into
    both vocabulary joins, so the pair-count table never shuffles
    after its own aggregate."""
    staged = docs.select(F.split(norm_text(), " ").alias("_t"))
    pairs = F.flatten(F.transform(
        F.col("_t"),
        lambda tok, i: F.transform(
            F.slice("_t", i + 2, window),
            lambda ctx: F.struct(
                F.least(tok, ctx).alias("x"),
                F.greatest(tok, ctx).alias("y")))))
    pair_counts = (staged
                   .select(F.explode(pairs).alias("_p"))
                   .groupBy(F.col("_p.x").alias("x"),
                            F.col("_p.y").alias("y"))
                   .agg(F.count("*").alias("c_xy"))
                   .filter(F.col("c_xy") >= min_count))
    uni = (docs.select(F.explode(F.split(norm_text(), " "))
                       .alias("token"))
           .groupBy("token").agg(F.count("*").alias("c")))
    totals = (staged.agg(
        F.sum(F.size("_t")).alias("_n"),
        F.sum(F.least(F.size("_t") - 1, F.lit(window)) * F.size("_t")
              - F.when(F.size("_t") - 1 < window,
                       (F.size("_t") - 1) * F.size("_t") / 2)
              .otherwise(F.lit(window * (window + 1) / 2))
              ).cast("long").alias("_p")))
    uni = F.broadcast(uni)
    ux = uni.select(F.col("token").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("token").alias("y"), F.col("c").alias("c_y"))
    out = (pair_counts.join(ux, "x").join(uy, "y")
           .crossJoin(F.broadcast(totals)))
    return out.select(
        "x", "y", F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        # ratio in doubles (the long product overflows at web scale);
        # identical left-assoc grouping as the SQL oracle
        F.floor(F.log(F.col("c_xy").cast("double") * F.col("_n")
                      * F.col("_n")
                      / (F.col("_p").cast("double") * F.col("c_x")
                         * F.col("c_y")))
                * PMI_SCALE).cast("long").alias("pmi_e6"))
