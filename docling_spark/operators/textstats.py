"""Text-analysis operators for training-data pipelines.

Everything here except winnowing is pure ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen friendly — so at 100 TB the hot path
never crosses the Arrow boundary; the one exception
(``winnow_fingerprints``) needs a true sliding-window minimum and runs
it as a single Arrow-batched NumPy pass. Each operator has an exact
ANSI SQL equivalent (the DuckDB oracles in ``__spark_entry__``): the
Spark expression and the SQL are two spellings of the same formula.

Operators: token counting (whitespace + BPE-style regex), quality
scoring (incl. Gopher-style signals), language-ID (stop-word marker
heuristic), document fingerprinting (exact md5 + MOSS winnowing).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# marker stop-words per language for the n-gram/stop-word heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "und", "die", "ist"],
    "fr": ["le", "la", "et", "est"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # deterministic argmax precedence

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as"]


def norm_text() -> Column:
    """Whitespace-collapsed, lower-cased text (the engine's canonical
    normalization — analogue of the reference's sanitize step,
    models/page_assemble_model.py:32-63, minus glyph fixes)."""
    return F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))


def tokens_col() -> Column:
    return F.split(norm_text(), " ")


# BPE-style pre-tokenizer (ASCII subset of the GPT-2 pattern: letter
# runs, digit runs, single punctuation marks) — class-based so the
# Java and RE2 regex engines agree character-for-character
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _staged(docs: DataFrame, with_lines: bool = False) -> DataFrame:
    """Materialize the normalized text + token array (and optionally
    the trimmed non-empty line array) ONCE as columns before the
    signal math. Array higher-order functions are CodegenFallback
    (interpreted), so an expression tree that embeds ``tokens_col()``
    at every use site re-tokenizes the whole document per use — and
    per *element* when nested inside another HOF lambda (measured 30×
    on doc_language_id, O(n²) on the bigram build). CollapseProject
    keeps these aliases materialized because each is referenced more
    than once and is non-cheap."""
    lines_raw = F.transform(F.split(F.col("text"), "\n"),
                            lambda x: F.trim(x))
    cols = [docs["*"], norm_text().alias("_nt"),
            F.split(norm_text(), " ").alias("_toks")]
    if with_lines:
        cols.append(F.filter(lines_raw, lambda x: x != "").alias("_lines"))
    return docs.select(*cols)


def with_token_stats(docs: DataFrame) -> DataFrame:
    toks = F.col("_toks")
    return _staged(docs).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("_nt").alias("n_chars_norm"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.size(F.regexp_extract_all(F.col("_nt"), F.lit(BPE_TOKEN_RE), 0))
         .alias("n_bpe_tokens"),
    )


def with_quality(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stop-word quality signals + Gopher-style
    repetition/shape signals (symbol ratio, alphabetic-token ratio,
    max token length) + a keep flag (the boilerplate-quality gate of a
    pretraining pipeline)."""
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_chars = F.length("_nt")
    punct = F.length(F.regexp_replace(F.col("_nt"), r"[^.,;:!?]", ""))
    symbol = F.length(F.regexp_replace(F.col("_nt"), r"[^#…]", ""))
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin(EN_STOPWORDS)))
    alpha_hits = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    max_tok = F.array_max(F.transform(toks, lambda t: F.length(t)))
    # ratios ship as floor(x*1e4) bigints: exact integer comparison
    # across engines (no float-rounding divergence vs the SQL oracle)
    def e4(x):
        return F.floor(x * 10000).cast("long")

    mean_tok_len = (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1))
    return _staged(docs).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        e4(punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio_e4"),
        e4(symbol / F.greatest(n_chars, F.lit(1))).alias("symbol_ratio_e4"),
        e4(stop_hits / F.greatest(n_tokens, F.lit(1)))
         .alias("stopword_ratio_e4"),
        e4(alpha_hits / F.greatest(n_tokens, F.lit(1)))
         .alias("alpha_token_ratio_e4"),
        e4(mean_tok_len).alias("mean_token_len_e4"),
        max_tok.cast("int").alias("max_token_len"),
        ((n_tokens >= 10) & (n_tokens <= 100000)).cast("int")
         .alias("quality_keep"),
    )


def lang_score(lang: str, toks: Column) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(LANG_MARKERS[lang])))


def _pred_from_scores(s: dict) -> Column:
    """Fixed-precedence CASE argmax over score columns/expressions:
    en > es > de > fr on ties, so Spark and the SQL oracle agree."""
    return (
        F.when((s["en"] > 0) & (s["en"] >= s["es"]) & (s["en"] >= s["de"])
               & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["es"] > 0) & (s["es"] >= s["de"]) & (s["es"] >= s["fr"]),
              F.lit("es"))
        .when((s["de"] > 0) & (s["de"] >= s["fr"]), F.lit("de"))
        .when(s["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("und")))


def with_language_id(docs: DataFrame) -> DataFrame:
    """Stop-word-marker language ID. Two staged projections: marker
    scores computed once off the materialized token array, then the
    CASE argmax off the materialized score columns (the argmax
    references every score up to 4×; inlined interpreted-HOF scores
    would re-tokenize the document each time — measured 30× slower)."""
    toks = F.col("_toks")
    scored = _staged(docs).select(
        "doc_id", F.col("lang").alias("lang_true"),
        *[lang_score(lang, toks).alias(f"score_{lang}")
          for lang in LANG_ORDER])
    s = {lang: F.col(f"score_{lang}") for lang in LANG_ORDER}
    return scored.select(
        "doc_id", "lang_true",
        *[f"score_{lang}" for lang in LANG_ORDER],
        _pred_from_scores(s).alias("lang_pred"))


_SCRIPT_CLASSES = {
    # char-class per script; Java regex and RE2 both accept the
    # equivalent ranges (the oracle spells them \\x{hhhh})
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "cjk": "[一-鿿]",
    "arabic": "[؀-ۿ]",
}


def script_mix(docs: DataFrame) -> DataFrame:
    """Unicode script profile per doc: letter counts for
    Latin/Cyrillic/Greek/CJK/Arabic plus a mixed-script flag
    (Latin+Cyrillic blending is the classic homoglyph-spam /
    wrong-language signal a fasttext gate misses on short texts).
    Counts are length(text) − length(strip(class)) — pure Catalyst,
    zero shuffle, whole-stage codegen."""
    n = F.length("text")

    def cnt(rx):
        return (n - F.length(F.regexp_replace(F.col("text"), rx, ""))) \
            .cast("long")

    counts = {k: cnt(rx) for k, rx in _SCRIPT_CLASSES.items()}
    mixed = ((counts["latin"] > 0) & (counts["cyrillic"] > 0)).cast("int")
    return docs.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        mixed.alias("latin_cyrillic_mix"))


def idf_rarity(docs: DataFrame) -> DataFrame:
    """Mean-IDF rarity score per doc: rare-vocabulary documents score
    high, listicle/boilerplate documents of common words score low —
    the corpus-relative complement of the absolute LM-quality gates.

    All arithmetic is order-independent: per-token idf = ln(N/df) is
    quantized to floor(·1e6) BIGINT before the per-doc SUM, so the
    result is bit-identical regardless of aggregation order (a raw
    double sum would drift between engines). Shapes: df table = one
    shuffle on token; the idf table is broadcast into the
    occurrence→idf join, which so adds no shuffle of the occurrences."""
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    df_tbl = (toks.distinct()
              .groupBy("token").agg(F.count("*").alias("df")))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    idf = (df_tbl.crossJoin(F.broadcast(n_docs))
           .select("token",
                   F.floor(F.log(F.col("n_docs") / F.col("df")) * 1e6)
                    .cast("long").alias("idf_e6")))
    per_doc = (toks.join(F.broadcast(idf), "token")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.sum("idf_e6").alias("idf_sum_e6")))
    return per_doc.select(
        "doc_id", "n_tokens",
        F.floor(F.col("idf_sum_e6") / F.col("n_tokens"))
         .cast("long").alias("mean_idf_e6"))


def _winnow_udf(k: int, w: int):
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    md5 = hashlib.md5
    from_bytes = int.from_bytes

    @pandas_udf("array<long>")
    def fps(texts: pd.Series) -> pd.Series:
        # per-batch gram→hash memo: md5 is the whole cost of this UDF
        # (one call per character position), and k-grams repeat
        # heavily across positions and documents. digest()[:4] is the
        # same value as int(hexdigest()[:8], 16) without the hex
        # round-trip, so the DuckDB oracle replay is unchanged.
        cache: dict = {}

        def gram_hashes(grams):
            hs = []
            ap = hs.append
            get = cache.get
            for g in grams:
                v = get(g)
                if v is None:
                    v = cache[g] = from_bytes(md5(g).digest()[:4],
                                              "big")
                ap(v)
            return hs

        out = []
        for t in texts:
            t = t or ""
            n = len(t)
            if n < k:
                out.append([from_bytes(
                    md5(t.encode("utf-8")).digest()[:4], "big")])
                continue
            tb = t.encode("utf-8")
            if len(tb) == n:   # ASCII: byte slices == char slices
                grams = [tb[i:i + k] for i in range(n - k + 1)]
            else:              # multibyte: slice chars, then encode
                grams = [t[i:i + k].encode("utf-8")
                         for i in range(n - k + 1)]
            if n < k + w - 1:
                out.append([min(gram_hashes(grams))])
            else:
                hs = np.asarray(gram_hashes(grams), dtype=np.int64)
                mins = np.lib.stride_tricks.sliding_window_view(
                    hs, w).min(axis=1)
                out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return fps


def winnow_fingerprints(docs: DataFrame, *, k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme: rolling
    k-gram hashes over normalized text, minimum per w-window, distinct
    mins): one (doc_id, fp) row per selected fingerprint. Guarantees
    any shared substring of length ≥ k + w - 1 yields at least one
    shared fingerprint — the content-overlap primitive exact hashing
    misses; shared-fp counts feed plagiarism/near-dup candidate joins.

    Normalization stays in Catalyst; the sliding-window minimum runs
    as one Arrow-batched NumPy pass (a nested Catalyst
    ``transform(slice(...))`` would re-evaluate the gram array per
    window — O(n²) in the interpreted HOF path). Hashes are md5's
    leading 8 hex digits, so the DuckDB oracle replays them exactly
    with materialized list expressions. Short docs (< k chars)
    contribute their whole-text hash."""
    fps = _winnow_udf(k, w)
    # explode_OUTER + null-guard: a plain explode's inferred pruning
    # predicate re-evaluates the Arrow winnower below the generate
    # (two ArrowEvalPython nodes per branch — 6 evaluations in the
    # self-joined overlap query). The winnower always emits ≥1 fp
    # (whole-text hash for short docs), so semantics are identical.
    return (docs.select("doc_id", norm_text().alias("_nt"))
            .select("doc_id",
                    F.explode_outer(fps(F.col("_nt"))).alias("fp"))
            .filter(F.col("fp").isNotNull()))


def _top_bigram_udf():
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def top_bigram_count(tok_arrays: pd.Series) -> pd.Series:
        out = []
        for toks in tok_arrays:
            toks = list(toks) if toks is not None else []
            if len(toks) < 2:
                out.append(0)
                continue
            c = Counter(zip(toks, toks[1:]))
            out.append(max(c.values()))
        return pd.Series(out, dtype="int32")

    return top_bigram_count


def with_repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1) — the
    boilerplate/spam markers a pretraining gate needs beyond
    ``with_quality``:

    - ``dup_line_frac_e4``: fraction of lines that repeat an earlier
      line (lines split on ``\\n``, trimmed, empties dropped)
    - ``dup_line_char_frac_e4``: fraction of line characters living in
      repeated line instances
    - ``dup_bigram_frac_e4``: fraction of token-bigram instances that
      are repeats
    - ``top_bigram_frac_e4``: share of bigram instances taken by the
      single most frequent bigram (the one signal that needs a mode,
      computed in one Arrow-batched Counter pass — a Catalyst spelling
      would be an O(n²) interpreted HOF)

    Everything else is linear ``array_distinct`` math, zero-shuffle
    (all signals are doc-local), so at 100 TB it fuses into the scan
    stage. Three staged projections keep each derived array (lines,
    distinct lines, tokens, bigrams) evaluated exactly once; the
    bigram build is a ``zip_with`` of two slices of the materialized
    token array — the previous indexed-transform spelling embedded the
    tokenizer inside the element lambda, re-tokenizing the document
    per bigram (O(n²) interpreted, measured 23 s → 1.4 s at sf0.1).
    """
    toks = F.col("_toks")
    n_tok = F.size(toks)
    staged = _staged(docs, with_lines=True).select(
        "doc_id", "_lines", "_toks",
        F.array_distinct("_lines").alias("_ulines"),
        F.when(n_tok >= 2, F.zip_with(
            F.slice(toks, 1, n_tok - 1),
            F.slice(toks, 2, n_tok - 1),
            lambda a, b: F.concat(a, F.lit("\x1f"), b)))
        .otherwise(F.array().cast("array<string>")).alias("_bi"))
    n_lines = F.size("_lines")
    n_uniq_lines = F.size("_ulines")
    chars_all = F.aggregate("_lines", F.lit(0),
                            lambda acc, x: acc + F.length(x))
    chars_uniq = F.aggregate("_ulines", F.lit(0),
                             lambda acc, x: acc + F.length(x))
    n_bi = F.size("_bi")
    n_uniq_bi = F.size(F.array_distinct("_bi"))
    top_bi = _top_bigram_udf()

    def e4(x):
        return F.floor(x * 10000).cast("long")

    return staged.select(
        "doc_id",
        n_lines.cast("int").alias("n_lines"),
        e4((n_lines - n_uniq_lines) / F.greatest(n_lines, F.lit(1)))
         .alias("dup_line_frac_e4"),
        e4((chars_all - chars_uniq) / F.greatest(chars_all, F.lit(1)))
         .alias("dup_line_char_frac_e4"),
        e4((n_bi - n_uniq_bi) / F.greatest(n_bi, F.lit(1)))
         .alias("dup_bigram_frac_e4"),
        e4(top_bi(F.col("_toks")) / F.greatest(n_bi, F.lit(1)))
         .alias("top_bigram_frac_e4"),
    )


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 of normalized text (the
    Spark-native analogue of the reference's sha256 document identity,
    utils/utils.py:19-37 — md5 here because the dedup layers reuse it)."""
    return docs.select(
        "doc_id", F.md5(norm_text()).alias("fingerprint"))


GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(docs: DataFrame, *, min_words: int = 50,
                 max_words: int = 100_000) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, Table A1 — the
    rule-based filter suite MassiveText popularized), deterministic
    subset, every threshold an INTEGER cross-comparison so the gate
    replays exactly in any engine:

    * ``r_words``    — min_words ≤ word count ≤ max_words;
    * ``r_meanlen``  — 3 ≤ mean word length ≤ 10
      (as 3·n ≤ total_chars ≤ 10·n);
    * ``r_alpha``    — ≥80% of words contain an alphabetic character
      (as 5·n_alpha ≥ 4·n);
    * ``r_bullets``  — ≤90% of lines start with a bullet;
    * ``r_ellipsis`` — ≤30% of lines end with an ellipsis;
    * ``r_stops``    — ≥2 distinct Gopher stop words present;
    * ``keep``       — all of the above.

    One staged projection (tokenize/split once), zero shuffles."""
    staged = _staged(docs, with_lines=True)
    toks = F.col("_toks")
    lines = F.col("_lines")
    n = F.size(toks)
    total_chars = F.length(F.regexp_replace(F.col("_nt"), " ", ""))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(F.filter(
        lines, lambda ln: ln.startswith("- ") | ln.startswith("* ")))
    n_ellip = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    n_stops = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(s) for s in GOPHER_STOPS])))

    r_words = (n >= min_words) & (n <= max_words)
    r_meanlen = (total_chars >= 3 * n) & (total_chars <= 10 * n)
    r_alpha = 5 * n_alpha >= 4 * n
    r_bullets = 10 * n_bullet <= 9 * n_lines
    r_ellipsis = 10 * n_ellip <= 3 * n_lines
    r_stops = n_stops >= 2
    keep = (r_words & r_meanlen & r_alpha & r_bullets & r_ellipsis
            & r_stops)
    return staged.select(
        "doc_id", n.cast("int").alias("n_words"),
        r_words.cast("int").alias("r_words"),
        r_meanlen.cast("int").alias("r_meanlen"),
        r_alpha.cast("int").alias("r_alpha"),
        r_bullets.cast("int").alias("r_bullets"),
        r_ellipsis.cast("int").alias("r_ellipsis"),
        r_stops.cast("int").alias("r_stops"),
        keep.cast("int").alias("keep"))


def with_readability(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade (Kincaid et al.
    1975) — the readability gate some curation recipes layer on top
    of the Gopher/C4 shape rules. Syllables are approximated the
    standard dictionary-free way (count of vowel GROUPS [aeiouy]+ per
    token, ≥1 per non-empty token); sentences are [.!?]+ runs in the
    normalized text (min 1). Both are pure Catalyst regex/HOF counts
    — zero-shuffle, fused into the scan — and the two scores ship as
    floor(x·1e3) integers for exact cross-engine comparison.

    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    FKG = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    """
    toks = F.col("_toks")
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    syl_of = lambda t: F.greatest(  # noqa: E731
        F.size(F.filter(F.split(t, "[^aeiouy]+"),
                        lambda s: s != "")), F.lit(1))
    syllables = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + syl_of(t))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("_nt"),
                                    F.lit(r"[.!?]+"), 0)),
        F.lit(1))
    wps = n_tokens.cast("double") / sentences
    spw = syllables.cast("double") / n_tokens
    return _staged(docs).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        syllables.cast("long").alias("n_syllables"),
        sentences.cast("int").alias("n_sentences"),
        F.floor((F.lit(206.835) - 1.015 * wps - 84.6 * spw) * 1000)
        .cast("long").alias("fre_e3"),
        F.floor((0.39 * wps + 11.8 * spw - 15.59) * 1000)
        .cast("long").alias("fkg_e3"))


def with_char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-distribution entropy — the cheap
    binary-junk / encoding-garbage gate (near-zero entropy = repeated
    filler; near-log|alphabet| entropy on short docs = random bytes;
    natural text sits in a stable band).

    Integer-exact spelling: over the NORMALIZED text, the entropy
    numerator is Σ_c floor(1e6 · c_c · ln(c_c / n)) — one floored
    integer per DISTINCT character, summed exactly — and
    ent_e6 = floor(−numerator / n). Order-independent, so the
    Arrow-batched doc-local pass (zero shuffle — no char explode, no
    groupBy) matches the SQL oracle's explode+group spelling
    bit-for-bit.
    """
    import math

    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ent_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            n = len(t)
            if n == 0:
                out.append(0)
                continue
            num = 0
            for c in Counter(t).values():
                num += math.floor(1_000_000 * c * math.log(c / n))
            out.append(math.floor(-num / n))
        return pd.Series(out, dtype="int64")

    return _staged(docs).select(
        "doc_id", F.length("_nt").alias("n_chars"),
        ent_udf(F.col("_nt")).alias("entropy_e6"))


def vocab_growth(docs: DataFrame, *, bucket_size: int = 100) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct token
    types as the corpus is consumed in doc_id order, reported per
    doc_id bucket of ``bucket_size`` documents. The trainer-side use
    is tokenizer sizing / OOV forecasting: the curve's flattening
    point tells how much corpus a vocabulary of a given size covers.

    Scale shape: each type is attributed to the FIRST document it
    appears in (min(doc_id) per token — ONE shuffle, map-side partial
    min), then bucketed and counted (second tiny shuffle on bucket
    ids). The cumulative sum is a window over the BUCKET table whose
    row count is corpus_span/bucket_size — the caller sizes buckets so
    that table is bounded (e.g. 10^12 docs / 10^8 bucket = 10^4 rows),
    so the unpartitioned ordered window never sees corpus-scale rows.

    Output: (bucket_id, first_doc, new_types, cum_types) where
    first_doc = bucket_id*bucket_size, new_types = types first seen in
    the bucket, cum_types = vocabulary size after the bucket.
    """
    first = (docs
             .select("doc_id", F.explode(F.array_distinct(tokens_col()))
                     .alias("token"))
             .filter(F.col("token") != "")
             .groupBy("token")
             .agg(F.min("doc_id").alias("first_doc")))
    per_bucket = (first
                  .groupBy(F.floor(F.col("first_doc") / bucket_size)
                           .cast("long").alias("bucket_id"))
                  .agg(F.count("*").alias("new_types")))
    w = Window.orderBy("bucket_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return per_bucket.select(
        "bucket_id",
        (F.col("bucket_id") * bucket_size).cast("long").alias("first_doc"),
        F.col("new_types").cast("long").alias("new_types"),
        F.sum("new_types").over(w).cast("long").alias("cum_types"))


def doc_sentences(docs: DataFrame) -> DataFrame:
    """Sentence segmentation over normalized text: one row per
    sentence with its index and token count — the unit relation for
    sentence-level dedup, bitext alignment, and per-sentence quality
    gates (WMT-style corpus prep).

    Sentences are maximal runs terminated by [.!?]+ — extracted with
    ``regexp_extract_all`` (shared by Java regex and RE2, so the SQL
    oracle replays it exactly; lookbehind splits are RE2-unsupported).
    A trailing fragment with no terminal punctuation is dropped by
    construction on both engines.

    Scale shape: zero shuffle — one narrow pass, a bounded doc-local
    explode (posexplode keeps the index without a window), token
    counts from the already-split sentence. Everything whole-stage
    codegen except the HOF trim."""
    sents = F.expr(r"regexp_extract_all(_nt, '[^.!?]+[.!?]+', 0)")
    staged = _staged(docs).select(
        "doc_id", F.transform(sents, lambda s: F.trim(s)).alias("_s"))
    ex = staged.select(
        "doc_id", F.posexplode("_s").alias("sent_idx", "sentence"))
    return ex.select(
        "doc_id", F.col("sent_idx").cast("int").alias("sent_idx"),
        "sentence",
        F.size(F.split(F.col("sentence"), " ")).cast("int")
        .alias("n_tokens"))


def source_bigram_entropy(docs: DataFrame, *,
                          group_col: str = "source") -> DataFrame:
    """Per-group conditional bigram entropy H(next|prev) over the
    canonical token stream — the corpus-diversity signal behind
    repetition audits: boilerplate-heavy or templated sources score
    near 0 (next token is predictable), diverse prose scores high.

    Integer-exact spelling (the with_char_entropy discipline): the
    numerator is Σ_{ab} floor(1e6 · c_ab · ln(c_ab / c_a)), one
    floored integer per DISTINCT bigram summed exactly, and
    ent_e6 = floor(−numerator / N_bigrams) — order-independent, so
    the distributed sum matches the SQL oracle bit-for-bit.

    Scale shape: one narrow doc-local bigram explode, ONE shuffle on
    (group, prev, next) with map-side partial counts, a window-free
    second aggregate on (group, prev) joined back (both tables are
    vocab²-bounded, ≪ corpus), then a tiny groupBy(group). The
    corpus itself is never re-shuffled."""
    toks = tokens_col()
    # guard: F.sequence(1, 0) would generate a DESCENDING [1, 0] for
    # single-token docs, so gate the bigram expansion on size >= 2
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(F.element_at(toks, i).alias("a"),
                               F.element_at(toks, i + 1).alias("b")))
    ).otherwise(F.array().cast("array<struct<a string, b string>>"))
    ab = (docs.select(F.col(group_col).alias("grp"),
                      F.explode(pairs).alias("p"))
          .groupBy("grp", F.col("p.a").alias("a"),
                   F.col("p.b").alias("b"))
          .agg(F.count("*").alias("c_ab")))
    a = ab.groupBy("grp", "a").agg(F.sum("c_ab").alias("c_a"))
    terms = (ab.join(a, ["grp", "a"])
             .select("grp", "c_ab",
                     F.floor(F.lit(1_000_000.0) * F.col("c_ab")
                             * F.log(F.col("c_ab") / F.col("c_a")))
                     .cast("long").alias("t")))
    return (terms.groupBy("grp")
            .agg(F.sum("t").alias("_num"),
                 F.sum("c_ab").alias("n_bigrams"))
            .select(F.col("grp").alias("source"),
                    F.col("n_bigrams").cast("long").alias("n_bigrams"),
                    F.floor(-F.col("_num") / F.col("n_bigrams"))
                    .cast("long").alias("cond_entropy_e6")))


def oov_rate(docs: DataFrame, *, vocab_k: int = 1000,
             group_col: str = "source") -> DataFrame:
    """Vocabulary-coverage report: per group, the fraction of token
    occurrences falling outside the corpus's own top-``vocab_k``
    vocabulary — the coverage/OOV screen run before committing to a
    tokenizer vocab size (sources with high OOV under the candidate
    vocab will fragment into [UNK]/byte fallbacks at training time).
    Output (group, n_tokens, n_oov, oov_e6 = floor(1e6·oov/tokens)).

    Vocabulary selection is deterministic: count-desc then token-asc.
    Pure Catalyst. Scale shape: one map-side-combined groupBy(token)
    (vocab-bounded output), a TakeOrderedAndProject top-k (never a
    global sort — k is bounded), the vocab BROADCAST back against the
    token stream, and one tiny groupBy(group). The corpus re-shuffles
    only for the token count, keyed on token, where the partial
    aggregation has already collapsed each partition to its distinct
    tokens."""
    words = (docs.select(F.col(group_col).alias("grp"),
                         F.explode(tokens_col()).alias("token"))
             .filter(F.col("token") != ""))
    vocab = (words.groupBy("token").agg(F.count("*").alias("n"))
             .orderBy(F.col("n").desc(), "token").limit(vocab_k)
             .select("token", F.lit(1).alias("_inv")))
    j = words.join(F.broadcast(vocab), "token", "left")
    return (j.groupBy("grp")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
                 .alias("n_oov"))
            .select(F.col("grp").alias(group_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_oov").cast("long").alias("n_oov"),
                    F.floor(F.col("n_oov") * 1_000_000
                            / F.col("n_tokens"))
                    .cast("long").alias("oov_e6")))


# code_detect keyword list: one alternation, word-bounded, shared
# verbatim with the DuckDB oracle (RE2 and java.util.regex agree on
# \b over ASCII). Deliberately small and cross-language.
CODE_KEYWORDS = ("def|class|import|return|function|var|const|void|"
                 "public|static|struct|lambda|elif")


def code_detect(docs: DataFrame, *,
                symbol_e4_min: int = 300,
                kw_min: int = 2,
                indent_e4_min: int = 4000) -> DataFrame:
    """Prose-vs-code routing signals + gate — integer-exact, pure
    Catalyst (zero shuffle, composes into the scan stage).

    A pretraining mix treats code and prose differently (separate
    dedup thresholds, separate quality gates, different packing), and
    crawl HTML carries plenty of unlabeled code (<pre> blocks, raw
    .py/.js fetches), so the router must work from text alone:

    - ``symbol_e4``: code-punctuation chars ({}[]();<>=&|#) per char
      ×10⁴ — prose sits <150, real code >400;
    - ``kw_hits``: word-bounded hits of a small cross-language keyword
      alternation (CODE_KEYWORDS);
    - ``indent_e4``: fraction of lines starting with a tab or ≥4
      spaces ×10⁴ — indentation regularity survives even
      symbol-light code (Python, YAML);
    - ``is_code``: (symbol_e4 ≥ symbol_e4_min AND kw_hits ≥ kw_min)
      OR indent_e4 ≥ indent_e4_min.

    This is the deterministic stand-in for a fastText code classifier
    (model weights are an o-o-s pluggable slot, like doc_language_id's
    NN upgrade); thresholds are calibrated for routing, not for
    benchmark-grade classification."""
    text = F.col("text")
    n_chars = F.length(text)
    symbols = n_chars - F.length(
        F.regexp_replace(text, r"[{}\[\]();<>=&|#]", ""))
    kw = F.size(F.regexp_extract_all(
        text, F.lit(r"\b(" + CODE_KEYWORDS + r")\b"), 1))
    lines = F.split(text, "\n", -1)
    indented = F.size(F.filter(
        lines, lambda x: x.rlike(r"^(\t|    )")))
    # counts go through long BEFORE the ×10⁴ (an int32 count over a
    # ~1 MB minified-JS doc would wrap negative mid-expression)
    symbol_e4 = F.when(n_chars > 0,
                       F.floor(symbols.cast("long") * 10000 / n_chars)) \
                 .otherwise(F.lit(0)).cast("long")
    indent_e4 = F.floor(indented.cast("long") * 10000
                        / F.size(lines)).cast("long")
    is_code = (((symbol_e4 >= symbol_e4_min) & (kw >= kw_min))
               | (indent_e4 >= indent_e4_min)).cast("int")
    return docs.select(
        "doc_id", symbol_e4.alias("symbol_e4"),
        kw.cast("long").alias("kw_hits"),
        indent_e4.alias("indent_e4"), is_code.alias("is_code"))
