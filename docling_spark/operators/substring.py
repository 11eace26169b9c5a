"""Exact repeated-substring removal — the "dedup repeated substrings"
pass from Lee et al. 2021 (Deduplicating Training Data Makes Language
Models Better), re-expressed for Spark.

The single-node reference method builds a suffix array over the whole
corpus; that is not distributable. The standard distributed spelling —
used here — fingerprints every k-token window, finds fingerprints that
occur in ≥ ``min_df`` DISTINCT documents, and removes every token
covered by a repeated window. The result is the same "no ≥k-token
span is shared verbatim across min_df documents" postcondition.

Plan shape (all built-in functions, whole-stage codegen, no HOF-lambda
interpretation in the hot path):

1. tokenize once (projection over the scan);
2. windows: ``posexplode(sequence(0, n-k))`` + per-row md5 over the
   slice — NARROW (no shuffle), k× token volume like a MinHash
   shingler;
3. repeated fingerprints: ONE groupBy(fp) with
   ``count_distinct(doc_id)`` (two-phase expand, map-side partial) —
   at corpus scale the surviving table is boilerplate-cardinality
   (licenses, headers), so the join back BROADCASTS;
4. covered positions: window-hit starts exploded to (doc_id, pos) and
   deduped;
5. reconstruction: token explode → left-anti join on (doc_id, pos) →
   the groupBy(doc_id) ``sort_array(collect_list(struct(pos,tok)))``
   reassembly idiom shared with dedup_boilerplate_lines and the
   paged-PDF document assembly.

Same-document repeats do NOT count toward ``min_df`` (the count is
distinct docs): a phrase repeated only inside one document is style,
not corpus duplication. Lower ``min_df`` to 1 is meaningless here (every
window occurs in its own doc); within-doc repetition is covered by the
doc_repetition quality signal instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col


def dedup_substrings(docs: DataFrame, *, k: int = 20,
                     min_df: int = 2) -> DataFrame:
    """(doc_id, text) → (doc_id, text, n_kept, n_removed) with every
    token that sits inside a k-token window shared verbatim by
    ≥ ``min_df`` distinct documents removed; surviving tokens are
    re-joined in original order on single spaces (the tokenizer
    normalizes whitespace, so uncovered docs round-trip exactly).
    The repeated-fingerprint table is broadcast into the window join.
    """
    staged = docs.select("doc_id", tokens_col().alias("toks"))
    n = F.size("toks")
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))

    wins = (staged
            .select("doc_id", "toks", F.explode(starts).alias("s"))
            .select("doc_id", "s",
                    F.md5(F.concat_ws(
                        " ", F.slice("toks", F.col("s") + 1, k)))
                    .alias("fp")))

    bad = (wins.groupBy("fp")
           .agg(F.count_distinct("doc_id").alias("df"))
           .filter(F.col("df") >= min_df)
           .select("fp"))

    covered = (wins.join(F.broadcast(bad), "fp")
               .select("doc_id",
                       F.explode(F.sequence(F.col("s"),
                                            F.col("s") + (k - 1)))
                       .alias("pos"))
               .distinct())

    toks = staged.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok"))
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")

    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "tok"))),
                            lambda x: x["tok"]), " ").alias("text"),
                    F.count("*").cast("int").alias("n_kept")))

    totals = staged.select("doc_id", n.alias("_n"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("text", F.lit("")).alias("text"),
                    F.coalesce("n_kept", F.lit(0)).cast("int")
                    .alias("n_kept"),
                    (F.col("_n") - F.coalesce("n_kept", F.lit(0)))
                    .cast("int").alias("n_removed")))
