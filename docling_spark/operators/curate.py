"""Corpus curation — the composed training-data pipeline: quality
gate → language gate → exact dedup → near-dup removal, in one
declarative plan.

This is the canonical 100 TB pretraining-data flow built from the
engine's verified pieces (textstats quality/language signals, md5
fingerprints, SimHash Hamming-ball pairs). Everything before the final
anti-join is pure ``pyspark.sql.functions``; candidate pairs come only
from the band-bucket equijoin (operators/dedup.simhash_pairs), never an
all-pairs product.

Plan shape at scale:
* signals + fingerprint: one projection over the scan (no shuffle)
  tokenizes each doc once and computes n_tokens, lang_pred and the
  fingerprint;
* exact dedup + gates: one shuffle on fingerprint (every doc, the
  gated-out ones too); the window keeps min doc_id, and the token and
  language gates join ``rn == 1`` in the filter above it. Gated-out
  docs with one normalized text (empty or NULL text, short repeated
  boilerplate) share one fingerprint, so each such group is one
  window partition, sorted in one task;
* near-dup: the SimHash agg (one shuffle) + band self-equijoin;
* final: left-anti join of representatives against dropped ids.

Nothing is cached. The representatives feed both the pair generation
and the final anti-join, so their lineage (gates, scores, exact-dedup
window) runs once per consumer; the SimHash signature runs once, as
its exchange is reused across the band join. On perfbench curate_dedup
(4 cores) this kept docs/s within run-to-run spread and cut peak RSS
by a quarter against caching both.

Greedy pair-drop rule: for every verified near-dup pair the HIGHER
doc_id is dropped. This is deterministic and oracle-replayable; it is
not transitive clustering (a full clique-collapse would use connected
components) — at curation time dropping every edge's higher end
over-removes slightly, which is the conservative direction for
training data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import simhash_pairs
from .textstats import (EN_STOPWORDS, LANG_ORDER, _pred_from_scores,
                        _staged, lang_score)


def curate(docs: DataFrame, *, lang: str = "en",
           min_tokens: int = 10, max_tokens: int = 100_000) -> DataFrame:
    """(doc_id, text) → curated (doc_id, text, n_tokens, fingerprint):
    documents that pass the token-count quality gate, are identified as
    ``lang``, and survive exact + SimHash near-duplicate removal (the
    lowest doc_id of each duplicate group/pair is kept), with their
    text as given."""
    # staged projections: tokenize/normalize ONCE, score languages off
    # the materialized array, argmax off the materialized scores (an
    # inline per-language tokens_col() spelling re-tokenizes per score
    # reference in the interpreted-HOF path — measured 4× on this
    # pipeline)
    scored = _staged(docs).select(
        "doc_id", "text",
        F.size("_toks").alias("n_tokens"),
        *[lang_score(lg, F.col("_toks")).alias(f"_s_{lg}")
          for lg in LANG_ORDER],
        F.md5("_nt").alias("fingerprint"))
    base = scored.select(
        "doc_id", "text", "n_tokens", "fingerprint",
        _pred_from_scores({lg: F.col(f"_s_{lg}") for lg in LANG_ORDER})
        .alias("lang_pred"))
    # the gates run after the exact-dedup window, in one filter with
    # rn == 1: a predicate on the non-partition columns stays above the
    # window, so it reads the materialized n_tokens/lang_pred instead
    # of being pushed into the scan projection, where it re-tokenized
    # per score reference. The rows are the same: the docs of one
    # fingerprint share their normalized text, so all or none pass.
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    reps = (base
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1)
                    & (F.col("n_tokens") >= min_tokens)
                    & (F.col("n_tokens") <= max_tokens)
                    & (F.col("lang_pred") == lang))
            .drop("rn", "lang_pred"))

    pairs = simhash_pairs(reps.select("doc_id", "text"))
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (reps.join(dropped, "doc_id", "left_anti")
            .select("doc_id", "text", "n_tokens", "fingerprint"))


def source_reputation(docs: DataFrame, *,
                      max_dup_ratio_e4: int = 2500,
                      min_avg_tokens_e4: int = 100_000,
                      min_stop_ratio_e4: int = 500) -> DataFrame:
    """Per-source (domain) reputation — the CCNet/RefinedWeb-style
    domain-level curation pass: aggregate quality signals per
    ``source`` and flag sources worth keeping, so a whole bad domain
    (SEO spam, mirror farms) is dropped in one decision instead of
    per-document.

    Returns (source, n_docs, dup_ratio_e4, avg_tokens_e4,
    stop_ratio_e4, keep):

    * ``dup_ratio_e4`` — share of docs whose normalized-text md5 repeats
      within the source (mirror/boilerplate marker);
    * ``avg_tokens_e4`` — mean token count ×1e4 (thin-content marker);
    * ``stop_ratio_e4`` — stop-word share of all tokens (gibberish /
      non-prose marker);
    * ``keep`` — 1 iff all three clear their thresholds.

    Scale shape: one projection over the scan (normalize + tokenize,
    staged once), then ONE groupBy(source) whose aggregates are all
    algebraic (count/sum partial-agg map-side). The duplicate count is
    the exact count(DISTINCT md5) — a two-phase expand keyed on
    (source, fingerprint)."""
    staged = _staged(docs).select(
        "source",
        F.size("_toks").alias("_nt_toks"),
        F.size(F.filter(F.col("_toks"),
                        lambda t: t.isin(EN_STOPWORDS))).alias("_stop"),
        F.md5("_nt").alias("_fp"))
    agg = staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("_fp").alias("_n_uniq"),
        F.sum("_nt_toks").alias("_sum_toks"),
        F.sum("_stop").alias("_sum_stop"))
    dup_ratio = F.floor(F.lit(10000.0) * (F.col("n_docs") - F.col("_n_uniq"))
                        / F.col("n_docs")).cast("long")
    avg_toks = F.floor(F.lit(10000.0) * F.col("_sum_toks")
                       / F.col("n_docs")).cast("long")
    stop_ratio = F.floor(F.lit(10000.0) * F.col("_sum_stop")
                         / F.greatest(F.col("_sum_toks"), F.lit(1))
                         ).cast("long")
    return agg.select(
        "source", F.col("n_docs").cast("long").alias("n_docs"),
        dup_ratio.alias("dup_ratio_e4"),
        avg_toks.alias("avg_tokens_e4"),
        stop_ratio.alias("stop_ratio_e4"),
        ((dup_ratio <= max_dup_ratio_e4)
         & (avg_toks >= min_avg_tokens_e4)
         & (stop_ratio >= min_stop_ratio_e4)).cast("int").alias("keep"))


def gate_by_source(docs: DataFrame, reputation: DataFrame) -> DataFrame:
    """Keep only documents whose source passed :func:`source_reputation`.
    The reputation table is source-cardinality (tiny vs the corpus), so
    the gate is a BROADCAST semi-join — the 100 TB doc table never
    shuffles."""
    keep = reputation.filter(F.col("keep") == 1).select("source")
    return docs.join(F.broadcast(keep), "source", "left_semi")


def adaptive_quality_gate(docs: DataFrame, *, score_col: str,
                          group_col: str = "source",
                          q: float = 0.3) -> DataFrame:
    """Per-group adaptive quality threshold: keep rows whose score is at
    or above the group's exact q-quantile (linear interpolation, the
    quantile_cont / percentile semantics shared by Spark and ANSI SQL).
    Fixed global cutoffs misfire when domains score on different
    distributions — the FineWeb/DataComp-style per-domain gate keeps
    the same survival fraction everywhere.

    Scale shape: ONE shuffle on group_col for the exact percentile
    (group cardinality = number of domains, tiny), thresholds broadcast
    back — the doc table itself never re-shuffles. At 10^12 docs swap
    F.percentile for percentile_approx(…, accuracy) if exact per-group
    sort memory becomes the bound; the gate shape is unchanged."""
    th = (docs.groupBy(group_col)
          .agg(F.percentile(F.col(score_col), F.lit(q)).alias("_th")))
    return (docs.join(F.broadcast(th), group_col)
            .filter(F.col(score_col) >= F.col("_th"))
            .drop("_th"))


def mad_outlier_gate(docs: DataFrame, *, score_col: str,
                     group_col: str = "source",
                     k_e4: int = 35000) -> DataFrame:
    """Two-sided robust outlier gate: keep rows with |score − median|
    ≤ k·MAD per group (k_e4 = k·10⁴, default 3.5 — the robust z-score
    cut). Unlike a mean/stddev gate, one mega-document can't drag the
    threshold.

    Degenerate groups: when ≥50% of a group shares the median score
    the MAD collapses to 0 and the cut |score−med| ≤ k·0 would keep
    only rows EXACTLY at the median — silently discarding most of a
    homogeneous group (common for short boilerplate-heavy sources).
    A zero MAD means the robust scale estimate carries no information,
    not that everything off-median is an outlier, so the gate keeps
    the whole group in that case (the standard robust-z fallback; the
    oracle replays the same rule).

    Same scale shape as adaptive_quality_gate: two tiny grouped exact
    percentiles (swap in percentile_approx at 10^12 rows), broadcast
    back; the doc table never re-shuffles."""
    med = (docs.groupBy(group_col)
           .agg(F.percentile(F.col(score_col), F.lit(0.5))
                .alias("_med")))
    j = docs.join(F.broadcast(med), group_col)
    mad = (j.groupBy(group_col)
           .agg(F.percentile(F.abs(F.col(score_col) - F.col("_med")),
                             F.lit(0.5)).alias("_mad")))
    return (j.join(F.broadcast(mad), group_col)
            .filter((F.col("_mad") == 0)
                    | (F.abs(F.col(score_col) - F.col("_med")) * 10000
                       <= F.lit(k_e4) * F.col("_mad")))
            .drop("_med", "_mad"))


def dedup_boilerplate_lines(docs: DataFrame, *, min_df: int = 2,
                            min_line_chars: int = 8) -> DataFrame:
    """CCNet-style cross-document line dedup: a line whose normalized
    md5 occurs in ≥ ``min_df`` DISTINCT documents is boilerplate (nav
    bars, cookie banners, copyright footers) and is removed from every
    document; lines shorter than ``min_line_chars`` normalized chars
    are never dropped (too ambiguous to be evidence of mirroring).

    Returns (doc_id, text, n_kept, n_dropped) with boilerplate lines
    removed and the remaining lines re-joined in original order.

    Scale shape: explode to lines (narrow), ONE count-distinct-docs
    aggregation keyed on line fingerprint (two-phase expand — the
    standard exact spelling; at 100 TB the frequent-line table is
    ~1e6 rows, so it broadcasts), one equijoin back, ONE
    groupBy(doc_id) reassembly with sort_array — the same
    doc-reassembly idiom as the paged-PDF path. Nothing is
    order-dependent: the line position rides through the explode."""
    norm = F.lower(F.trim(F.regexp_replace(F.col("line"), r"\s+", " ")))
    lines = (docs
             .select("doc_id",
                     F.posexplode(F.split(F.col("text"), "\n"))
                      .alias("pos", "line"))
             .withColumn("_norm", norm)
             .withColumn("fp", F.when(F.length("_norm") >= min_line_chars,
                                      F.md5(F.col("_norm"))))
             .drop("_norm"))
    boiler = (lines.filter(F.col("fp").isNotNull())
              .groupBy("fp")
              .agg(F.count_distinct("doc_id").alias("df"))
              .filter(F.col("df") >= min_df)
              .select("fp"))
    kept_flag = F.col("b_fp").isNull()
    joined = (lines.join(boiler.select(F.col("fp").alias("b_fp")),
                         lines["fp"] == F.col("b_fp"), "left"))
    return (joined
            .groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(kept_flag,
                                   F.struct("pos", "line")))),
                        lambda x: x["line"]), "\n").alias("text"),
                F.sum(kept_flag.cast("int")).cast("int").alias("n_kept"),
                F.sum((~kept_flag).cast("int")).cast("int")
                 .alias("n_dropped")))


def c4_line_filter(docs: DataFrame, *, min_words: int = 3) -> DataFrame:
    """C4-style intra-document line filtering (Raffel et al. 2020,
    §2.2): keep only lines that end in terminal punctuation
    (``. ! ? "``) and have at least ``min_words`` words — the pass
    that strips nav menus, button labels, and list fragments WITHIN a
    page (complementing dedup_boilerplate_lines, which removes lines
    repeated ACROSS pages).

    Returns (doc_id, text, n_kept, n_dropped) with survivors re-joined
    in order. Pure Catalyst array functions — a zero-shuffle
    projection; the line predicate is a Java↔RE2-portable character
    class so the oracle replays it exactly."""
    lines = F.split(F.col("text"), "\n")
    keep = lambda ln: (
        (F.size(F.split(F.trim(ln), " ")) >= min_words)
        & F.trim(ln).rlike('[.!?"]$'))
    kept = F.filter(lines, keep)
    return docs.select(
        "doc_id",
        F.array_join(kept, "\n").alias("text"),
        F.size(kept).cast("int").alias("n_kept"),
        (F.size(lines) - F.size(kept)).cast("int").alias("n_dropped"))


def curriculum_order(docs: DataFrame, *, score_col: str,
                     source_col: str = "source",
                     n_buckets: int = 10) -> DataFrame:
    """Quality-stratified, source-balanced curriculum ordering:
    assigns every doc a (bucket, intra_rank) pair whose ascending sort
    IS the training order — bucket 0 holds each source's best
    ``1/n_buckets`` slice, so training sweeps quality tiers from best
    to worst while round-robining sources inside each tier (the
    data-mixing analogue of curriculum learning; mixing quality tiers
    this way is how pipelines schedule "anneal on best data last" —
    reverse the bucket sort for that).

    Buckets are per-SOURCE quality quantiles computed from ranks, not
    global score percentiles: integer-exact (no float percentile
    boundary ambiguity), immune to cross-source score-scale drift
    (source A's 0.9 and source B's 0.9 rarely mean the same thing),
    and replayable in ANSI SQL.

        rn      = row_number() over (partition by source
                                     order by score desc, doc_id)
        bucket  = floor((rn-1) · n_buckets / count(source))
        intra   = rn - 1 - ceil(bucket · count / n_buckets)

    Scale shape: one source-partitioned window sort + one broadcast
    join of per-source counts — no global window, no single-partition
    stage. The materialized global order is the RANGE sort by
    (bucket, intra_rank, source, doc_id) the trainer's writer applies;
    a mega-source's window sort is the only fat partition and spills
    gracefully (or pre-salt by score band and merge ranks).
    Output: (doc_id, source, bucket, intra_rank).

    ``score_col`` must be non-NULL: Spark's DESC default is
    NULLS LAST while other engines differ (a replay oracle would
    silently disagree on rank) — gate or coalesce scores upstream."""
    w = Window.partitionBy(source_col).orderBy(
        F.col(score_col).desc(), F.col("doc_id"))
    counts = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("_n"))
    rn = docs.select("doc_id", source_col,
                     F.row_number().over(w).cast("long").alias("_rn"))
    # _rn is long BEFORE the × n_buckets: row_number returns int32,
    # which wraps past ~214M rows in one source — the mega-source
    # case the docstring plans for
    bucket = F.floor((F.col("_rn") - 1) * n_buckets / F.col("_n"))
    start = F.ceil(bucket * F.col("_n") / n_buckets)
    return (rn.join(F.broadcast(counts), source_col)
            .select("doc_id", source_col,
                    bucket.cast("int").alias("bucket"),
                    (F.col("_rn") - 1 - start).cast("long")
                    .alias("intra_rank")))
