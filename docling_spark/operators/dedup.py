"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):

* exact dedup — one shuffle on a 32-byte fingerprint; the window picks
  the canonical doc per group (min doc_id). At skew (one viral page
  duplicated 10^6×) AQE skew-join handles the fat group because the
  window partitions by fingerprint, not doc.
* MinHash+LSH — shingle → k minhashes → b bands; candidate pairs come
  ONLY from band-bucket equijoins (never an all-pairs product), then
  the exact Jaccard verify runs on candidates alone. Band buckets are
  md5 strings → uniform shuffle keys.
* All hashing is md5 (lexicographic min over hex strings), which is
  portable to ANSI SQL — the DuckDB oracle runs the identical formula.

One Python UDF: the Arrow-batched word shingler (``shingle``, a scalar
pandas UDF) under ``exploded_shingles``. Every other step is
``pyspark.sql.functions``.
"""

from __future__ import annotations

import re
from typing import List

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import norm_text


def dedup_exact(docs: DataFrame) -> DataFrame:
    """(doc_id, text, …) → (doc_id, canonical_id, is_dup)."""
    fp = docs.select("doc_id", F.md5(norm_text()).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return (fp
            .withColumn("canonical_id", F.min("doc_id").over(w))
            .withColumn("is_dup",
                        (F.col("doc_id") != F.col("canonical_id"))
                        .cast("int"))
            .select("doc_id", "fingerprint", "canonical_id", "is_dup"))


# Java \s (non-unicode): the exact class regexp_replace(\s+) matches,
# so the Arrow shingler normalizes byte-for-byte like the Catalyst/SQL
# spelling (norm_text) and the DuckDB oracle.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingle_udf(n: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def shingle(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            norm = _JAVA_WS.sub(" ", t or "").strip(" ").lower()
            toks = norm.split(" ")
            if len(toks) >= n:
                sh = list(dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)))
            else:
                sh = [norm]
            out.append(sh)
        return pd.Series(out)

    return shingle


def exploded_shingles(docs: DataFrame, *, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — one row per distinct word n-gram per doc.

    This is THE scale-bearing representation: every downstream MinHash /
    Jaccard step is a codegen-friendly hash aggregate or equi-join over
    it. Shingle construction runs as an Arrow-batched pandas UDF (a
    Catalyst higher-order spelling, transform+slice+array_join, builds
    an interpreted expression tree per element and measured 8× slower
    AND GC-bound). The reference spelling of the semantics is the
    DuckDB ``SHINGLE_CTE`` in ``__spark_entry__``: distinct word
    n-grams of the normalized text, and a document shorter than n
    tokens contributes its whole normalized text as its one shingle.
    The Python loop normalizes with the same Java-\\s class, so the
    oracles replay it byte for byte."""
    # explode_OUTER + null-guard, not plain explode: the inner
    # generate's inferred pruning predicate (size>0 AND isnotnull)
    # embeds the UDF expression and gets pushed below the generate —
    # Catalyst then evaluates the Arrow shingler TWICE per document
    # (observed as two ArrowEvalPython nodes in every shingle-based
    # plan). The shingler never returns null/empty arrays (short docs
    # yield [norm]), so the outer variant is semantically identical;
    # the guard on the generate OUTPUT can't be pushed below it.
    return (docs.select(
        "doc_id",
        F.explode_outer(_shingle_udf(n)(F.col("text"))).alias("shingle"))
        .filter(F.col("shingle").isNotNull()))


def banded_hashes(sigs: DataFrame, *, num_hashes: int = 16,
                  bands: int = 4) -> DataFrame:
    """Signatures → (doc_id, band_id, band_hash): md5 of the '|'-joined
    signature slice per band. Band hashes are uniform shuffle keys."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws(
                "|", *[F.col(f"h{b * rows_per_band + i}").cast("string")
                       for i in range(rows_per_band)])).alias("band_hash"))
        for b in range(bands)
    ])
    return (sigs.select("doc_id", F.explode(band_structs).alias("b"))
            .select("doc_id", F.col("b.band_id").alias("band_id"),
                    F.col("b.band_hash").alias("band_hash")))


def ngram_jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets, computed only for
    the given candidate pairs: equijoin on shingle within pairs →
    |A∩B| / (|A| + |B| − |A∩B|). Candidate pairs are broadcast when
    small (Catalyst/AQE decides); the shingle table never self-products."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (pairs.alias("p")
             .join(a, F.col("p.doc_a") == F.col("a.doc_id"))
             .join(b, (F.col("p.doc_b") == F.col("b.doc_id"))
                   & (F.col("a.shingle") == F.col("b.shingle")))
             .groupBy("p.doc_a", "p.doc_b")
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
            .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
            .select(
                "doc_a", "doc_b",
                (F.col("n_inter")
                 / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")))
                .alias("jaccard")))


def ngram_containment(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle containment C(A→B) = |A∩B| / |A| for the given
    candidate pairs — the asymmetric near-dup signal (a short doc fully
    embedded in a long one) that Jaccard under-scores when set sizes
    differ (the Dolma-style "mostly contained" rule). Same plan shape
    as ngram_jaccard: equijoin on shingle restricted to candidates,
    never a shingle self-product; pairs broadcast when small."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (pairs.alias("p")
             .join(a, F.col("p.doc_a") == F.col("a.doc_id"))
             .join(b, (F.col("p.doc_b") == F.col("b.doc_id"))
                   & (F.col("a.shingle") == F.col("b.shingle")))
             .groupBy("p.doc_a", "p.doc_b")
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
            .select("doc_a", "doc_b",
                    (F.col("n_inter") / F.col("sa.n_sh"))
                    .alias("containment")))


_MERSENNE31 = (1 << 31) - 1


def _indep_min_aggs(h48: Column, num_hashes: int) -> List[Column]:
    """The independent family's ``num_hashes`` min-aggregates h0..hk-1
    over ``h48``, one 48-bit md5-derived long per shingle: h_s(x) =
    (c_s·v + d_s) mod (2³¹−1) with v = h48 mod (2³¹−1)."""
    v = h48 % F.lit(_MERSENNE31)
    aggs = []
    for s in range(num_hashes):
        c = ((2 * s + 1) * 2654435761) % _MERSENNE31
        d = (s * 1013904223 + 12345) % _MERSENNE31
        aggs.append(F.min((v * F.lit(c) + F.lit(d)) % F.lit(_MERSENNE31))
                    .alias(f"h{s}"))
    return aggs


def minhash_signatures_indep(sh: DataFrame, *,
                             num_hashes: int = 16) -> DataFrame:
    """Signatures from an INDEPENDENT hash family: h_s(x) = (c_s·v +
    d_s) mod (2³¹−1) over one 48-bit md5-derived value v per shingle.
    The mod-wraparound makes each s an effectively independent
    permutation — unlike the a + s·b family of minhash_dedup, whose
    orderings are correlated across s (one outlier element can hijack
    every component; fine for LSH candidate generation, which only
    needs collision-on-equality and is exactness-verified downstream,
    but USELESS as an estimator). Constants are closed-form in s, so
    the SQL oracle replays them literally. Same plan shape: one md5
    per shingle, one shuffle with 16 primitive min-aggregates."""
    h48 = F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("long")
    return sh.groupBy("doc_id").agg(*_indep_min_aggs(h48, num_hashes))


def minhash_jaccard_est(sigs: DataFrame, pairs: DataFrame, *,
                        num_hashes: int = 16) -> DataFrame:
    """MinHash Jaccard ESTIMATE for candidate pairs: the fraction of
    equal signature components (the textbook unbiased estimator) — the
    sketch-accuracy eval primitive, and the production scoring path
    when shingle sets are too big to re-join: at 10^12 docs a
    16-component signature is ~128 B/doc vs KBs of shingles, so the
    estimate join moves 10-100× less data than the exact verify.
    Plan shape: two equijoins of the pair list against the signature
    table (broadcast when the pair list is small), zero recompute.

    Dropped-pair semantics (deliberate): the joins are INNER, so a
    candidate pair where either doc has no signature row (empty or
    whitespace-only text produces no shingles, hence no signature) is
    ABSENT from the output rather than scored 0 — absence means "not
    evaluable", est_jaccard_e4=0 means "evaluated, no component
    agreement". Callers needing one row per input pair should
    left-join this result back to their pair list and treat NULL as
    unsigned."""
    a = sigs.alias("a")
    b = sigs.alias("b")
    matches = None
    for i in range(num_hashes):
        t = (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int")
        matches = t if matches is None else matches + t
    return (pairs.alias("p")
            .join(a, F.col("p.doc_a") == F.col("a.doc_id"))
            .join(b, F.col("p.doc_b") == F.col("b.doc_id"))
            .select("p.doc_a", "p.doc_b",
                    F.floor(matches * 10000 / num_hashes).cast("long")
                     .alias("est_jaccard_e4")))


def winnow_overlap_pairs(fps: DataFrame, *, min_shared: int = 2,
                         max_df: int = 20) -> DataFrame:
    """MOSS-style content-overlap candidates from winnowing
    fingerprints (textstats.winnow_fingerprints): docs sharing ≥
    min_shared selected fingerprints. Guaranteed to catch any shared
    run of ≥ k+w−1 chars — the copy-detection primitive.

    Scale shape: fingerprints occurring in more than max_df docs are
    dropped FIRST (boilerplate headers would otherwise both flood the
    candidate set and make the self-join key skewed — the same df-cap
    every plagiarism detector applies); the remaining self-equijoin on
    fp emits only co-bucketed pairs, never a doc×doc product.

    Plan shape: the per-doc fingerprint count (a window over doc_id)
    and the df (a window over fp) are computed on ``fps`` itself, so
    the df cap, the self-join sides and the overlap denominator all
    read ONE frame: the Arrow winnower runs once per input row and the
    second self-join side reuses the fp exchange."""
    counted = (fps
               .withColumn("_n_fp", F.count(F.lit(1)).over(
                   Window.partitionBy("doc_id")))
               .withColumn("_df", F.count(F.lit(1)).over(
                   Window.partitionBy("fp")))
               .filter(F.col("_df") <= max_df))
    a = counted.alias("a")
    b = counted.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a._n_fp").alias("_na"),
                     F.col("b._n_fp").alias("_nb"))
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .select("doc_a", "doc_b", "n_shared",
                    F.floor(F.col("n_shared") * 10000
                            / F.least(F.col("_na"), F.col("_nb")))
                    .cast("long").alias("overlap_e4")))


def ngram_novelty(sh: DataFrame) -> DataFrame:
    """Per-doc n-gram novelty (memorization/repetition analysis à la
    Carlini et al.): the fraction of a doc's distinct shingles whose
    FIRST occurrence (min doc_id) is this doc. Near-0 novelty = the doc
    is assembled from already-seen text; the corpus-level novelty curve
    is the dedup-effectiveness report.

    Plan shape: the first owner of each shingle is a window min over
    the shingle key, and ONE groupBy(doc_id) counts both the doc's
    shingles and the ones it owns, so the shingle table (and the Arrow
    shingler under it) is read once. A NULL doc_id never owns a
    shingle, so its group reads n_novel 0."""
    first = F.min("doc_id").over(Window.partitionBy("shingle"))
    per_doc = (sh.withColumn("_first", first)
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.count(F.when(F.col("doc_id") == F.col("_first"),
                                   True)).alias("n_novel")))
    return per_doc.select(
        "doc_id", "n_shingles", "n_novel",
        F.floor(F.col("n_novel") * 10000 / F.col("n_shingles"))
         .cast("long").alias("novelty_e4"))


def pair_eval(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Candidate-set quality eval: precision/recall of predicted
    (doc_a, doc_b) pairs against labeled pairs — the harness for tuning
    LSH bands/hamming thresholds before a 100-TB run. One row out; the
    hit count is a broadcast semi-join on the pair key, the three
    1-row counts cross-join (the accepted scalar-stats pattern)."""
    hit = (pred.join(F.broadcast(truth), ["doc_a", "doc_b"], "left_semi")
           .agg(F.count("*").alias("n_hit")))
    np_ = pred.agg(F.count("*").alias("n_pred"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    return (np_.crossJoin(nt).crossJoin(hit)
            .select("n_pred", "n_truth", "n_hit",
                    F.floor(F.col("n_hit") * 10000 / F.col("n_pred"))
                     .cast("long").alias("precision_e4"),
                    F.floor(F.col("n_hit") * 10000 / F.col("n_truth"))
                     .cast("long").alias("recall_e4")))


def dedup_report(docs: DataFrame, *, group_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Per-source dedup report: doc count, distinct normalized texts,
    duplicate ratio, largest duplicate cluster — the before/after
    accounting every corpus release publishes. ONE shuffle on
    (group, fingerprint), then a rollup on the tiny group key."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col),
                                           r"\s+", " ")))
    per_fp = (docs.select(F.col(group_col), F.md5(norm).alias("fp"))
              .groupBy(group_col, "fp").agg(F.count("*").alias("cnt")))
    rep = per_fp.groupBy(group_col).agg(
        F.sum("cnt").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.max("cnt").alias("max_cluster"))
    return rep.select(
        group_col, "n_docs", "n_unique", "max_cluster",
        F.floor((F.col("n_docs") - F.col("n_unique")) * 10000
                / F.col("n_docs")).cast("long").alias("dup_ratio_e4"))


def _bloom_positions(col: Column, *, m: int, k: int) -> Column:
    """k bit positions from ONE md5 per value: consecutive 7-hex-digit
    (28-bit) digest slices mod m. Portable to ANSI SQL — the oracle
    replays the identical formula, so even the false positives match."""
    digest = F.md5(col)
    return F.array_distinct(F.array(*[
        (F.conv(F.substring(digest, 1 + 7 * i, 7), 16, 10).cast("long")
         % F.lit(m)).cast("long")
        for i in range(k)]))


def bloom_membership(seen: DataFrame, probes: DataFrame, *,
                     m: int = 1 << 18, k: int = 4,
                     text_col: str = "text") -> DataFrame:
    """Bloom-filter incremental dedup, expressed relationally: the
    filter's set bits are a one-column DISTINCT table (≤ m rows) built
    from the already-ingested corpus; a probe doc is flagged dup iff
    ALL of its k positions are present — exact Bloom semantics,
    including the deterministic false-positive rate.

    Scale shape: building the bit table is one hash-distinct bounded at
    m rows (m = 2^18 default ≈ 2 MB, broadcast to the probe side — no
    shuffle of the probe corpus at all). For a 10^12-doc seen-set raise
    m (the table stays ≤ m rows regardless of corpus size); the classic
    byte-array filter is the same information — the relational form
    keeps it oracle-checkable and incrementally updatable by UNION."""
    pos = _bloom_positions(
        F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))),
        m=m, k=k)
    set_bits = (seen.select(F.explode(pos).alias("pos"))
                .distinct())
    probe_pos = probes.select(
        "doc_id", F.explode(pos).alias("pos"),
        F.size(pos).alias("n_pos"))
    hits = (probe_pos.alias("q")
            .join(F.broadcast(set_bits.alias("s")),
                  F.col("q.pos") == F.col("s.pos"), "left")
            .groupBy("doc_id")
            .agg(F.count(F.col("s.pos")).alias("n_hit"),
                 F.first("n_pos").alias("n_pos")))
    # Every probe appears exactly once: a NULL-text probe produces a
    # NULL position array, explode() emits no rows for it, and the doc
    # would silently vanish — ambiguous to anti-join consumers. Join
    # the hit aggregate back to the probe id set and report those rows
    # as bloom_dup=0 (a NULL text was by construction never inserted).
    return (probes.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(
                    (F.col("n_hit") == F.col("n_pos")).cast("int"),
                    F.lit(0)).alias("bloom_dup")))


def minhash_dedup(docs: DataFrame, *, n: int = 3, num_hashes: int = 16,
                  bands: int = 4, threshold: float = 0.7,
                  hash_family: str = "cw") -> DataFrame:
    """Full near-dup pipeline, one-shuffle construction: per-shingle
    48-bit md5 hashes → ONE groupBy(doc_id) producing both the k
    minhash components AND the doc's sorted distinct shingle-hash set
    → band self-join candidates → exact Jaccard by array_intersect
    over the per-doc hash sets.

    The default ``cw`` family takes the digest's two 48-bit halves
    (a, b) and generates all k hash functions as h_s = a + s·b
    (Carter-Wegman style pairwise mixing): one md5 per shingle where k
    salted digests would cost k× the hashing, and a + 15·b < 2^52
    stays far from BIGINT overflow. The min is over longs: min(string)
    forces sort-based aggregation, min(long) stays in whole-stage
    codegen hash aggregation. ``indep`` uses the independent family of
    :func:`minhash_signatures_indep`.

    Scale shape (round-4 rewrite): the previous spelling verified
    candidates by re-joining the exploded shingle table twice on
    (doc_id, shingle) — measured at 320k docs / 808k candidates that
    is a ~56M-row string-key shuffle that dominated the job (29 s of a
    50 s wall at 8 cores) and stopped scaling past ~8 local cores; it
    also persisted the 17M-row shingle table. The set-array verify
    joins |pairs| rows against a doc-keyed array table (AQE broadcasts
    it when it fits) and computes |A∩B| in whole-stage codegen, and
    the only wide shingle-level operation left is the single
    groupBy(doc_id). Exactness is unchanged: intersecting 48-bit md5
    prefixes instead of shingle strings differs only on md5-prefix
    collisions inside one document (P ≈ s²·2⁻⁴⁹ for s shingles —
    immaterial), and the SQL oracle replays the SAME hashed-set rule,
    so both engines agree bit-for-bit by construction.

    The per-doc signature+set table is persisted (memory_and_disk).
    Its band side and its hash-set side prune it to different
    aggregates, so without the cache the executed plan runs the Arrow
    shingler twice per doc, once under the min components and once
    under the hash set (sf0.1 on 4 cores: ``dedup_minhash_lsh_indep``
    2.0-2.5 s cached, 2.4-3.5 s without).

    Output order is NOT deterministic: a global sort of the pair table
    is a range-shuffle that buys nothing for downstream consumers
    (joins/writes are order-insensitive); sort at the reader when a
    stable listing is needed.
    """
    from pyspark import StorageLevel

    sh = exploded_shingles(docs, n=n)
    digest = F.md5("shingle")
    mixed = sh.select(
        "doc_id",
        F.conv(F.substring(digest, 1, 12), 16, 10).cast("long")
        .alias("ha"),
        F.conv(F.substring(digest, 13, 12), 16, 10).cast("long")
        .alias("hb"))
    if hash_family == "indep":
        sig_aggs = _indep_min_aggs(F.col("ha"), num_hashes)
    else:
        sig_aggs = [F.min(F.col("ha") + F.lit(s) * F.col("hb"))
                    .alias(f"h{s}") for s in range(num_hashes)]
    per_doc = mixed.groupBy("doc_id").agg(
        *sig_aggs, F.sort_array(F.collect_set("ha")).alias("_hs"))
    per_doc = per_doc.persist(StorageLevel.MEMORY_AND_DISK)

    banded = banded_hashes(per_doc.drop("_hs"),
                           num_hashes=num_hashes, bands=bands)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (left.join(right,
                       (F.col("l.band_id") == F.col("r.band_id"))
                       & (F.col("l.band_hash") == F.col("r.band_hash"))
                       & (F.col("l.doc_id") < F.col("r.doc_id")))
             .select(F.col("l.doc_id").alias("doc_a"),
                     F.col("r.doc_id").alias("doc_b"))
             .distinct())

    sets = per_doc.select("doc_id", "_hs")
    inter = F.size(F.array_intersect(F.col("sa._hs"), F.col("sb._hs")))
    union = (F.size(F.col("sa._hs")) + F.size(F.col("sb._hs")) - inter)
    scored = (pairs
              .join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
              .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
              .select("doc_a", "doc_b", (inter / union).alias("jaccard")))
    return scored.filter(F.col("jaccard") >= threshold)


def dedup_components(pairs: DataFrame, *,
                     max_iterations: int = 20,
                     checkpoint_interval: int = 4) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    (doc_a, doc_b) edges → (doc_id, component) with component = the
    minimum doc_id in each duplicate cluster. This is the clique
    collapse the greedy per-edge drop (operators/curate.py)
    approximates.

    Algorithm: iterated min-label propagation — each round is ONE
    shuffle join (labels onto the symmetric edge list) + ONE min
    aggregation; rounds needed = graph diameter, which for near-dup
    clusters is tiny (duplicate groups are dense). The driver loop
    early-exits when a round changes nothing. For adversarial
    long-chain graphs at 10^12 edges, swap the body for the
    large-star/small-star rounds of Kiveris et al. (CC in MapReduce) —
    same per-round plan shape, O(log^2 n) rounds.

    Labels persist per round and the previous round unpersists, so
    EXECUTION stays one round deep (no exponential recompute); every
    ``checkpoint_interval`` rounds the labels additionally
    ``localCheckpoint`` so the LOGICAL plan is truncated too —
    without it the analyzer/optimizer walk an O(rounds) join tower
    each round and the serialized task binaries grow with it, which
    on a deep-diameter graph dominates the actual shuffle work."""
    # materialize the symmetric edge list ONCE: every propagation round
    # joins against it, and without the persist each round would re-run
    # the whole upstream candidate-generation pipeline. Symmetrize with
    # one explode pass — a union of (a,b) ∪ (b,a) branches would run
    # the upstream pair pipeline TWICE to fill the cache (measured ~2×
    # the materialization cost at sf0.1).
    sym = (pairs.select(F.explode(F.array(
               F.struct(F.col("doc_a"), F.col("doc_b")),
               F.struct(F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b")))).alias("e"))
           .select(F.col("e.doc_a").alias("doc_a"),
                   F.col("e.doc_b").alias("doc_b"))
           .persist())
    # fused init: the identity labeling's FIRST propagation round only
    # ever needs each node's own id and its direct neighbors' ids, so
    # fold it into initialization — component₀ = min(id, min(nbr)).
    # One groupBy replaces the distinct (same shuffle count) AND
    # round 1 of the loop (join + min-agg + left join + collect), so a
    # diameter-d graph converges in d rounds instead of d+1; on the
    # dense near-dup clusters this operator targets (d = 1-2) that is
    # a third of the driver-loop jobs.
    labels = (sym.groupBy(F.col("doc_a").alias("doc_id"))
              .agg(F.min(F.least(F.col("doc_a"), F.col("doc_b")))
                   .alias("component"))
              .persist())
    for rnd in range(max_iterations):
        # one round = one join + one min-agg + one left join; the
        # convergence signal rides the same action that materializes
        # the new labels (no separate changed-count pass)
        nbr_min = (sym.join(labels, sym["doc_b"] == labels["doc_id"])
                   .groupBy("doc_a")
                   .agg(F.min("component").alias("nbr_min")))
        new = (labels.join(nbr_min,
                           labels["doc_id"] == nbr_min["doc_a"], "left")
               .select(
                   "doc_id",
                   F.least(F.col("component"),
                           F.coalesce(F.col("nbr_min"), F.col("component")))
                   .alias("component"),
                   (F.coalesce(F.col("nbr_min"), F.col("component"))
                    < F.col("component")).cast("int").alias("chg")))
        if checkpoint_interval and (rnd + 1) % checkpoint_interval == 0:
            # truncate lineage: the checkpointed frame's plan is a
            # flat ExistingRDD scan, not a rnd-deep join tower
            new = new.localCheckpoint(eager=True)
        else:
            new = new.persist()
        changed = new.agg(F.sum("chg")).collect()[0][0] or 0
        labels.unpersist()
        labels = new.select("doc_id", "component")
        if not changed:
            break
    sym.unpersist()
    return labels


def embedding_dedup(embeddings: DataFrame, *, threshold: float = 0.98,
                    n_planes: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    buckets the corpus once (one shuffle on an 8-bit key), candidate
    pairs come only from the bucket equijoin (never an all-pairs
    product), and the exact cosine (Arrow-batched NumPy) verifies
    candidates. At 10^12 rows the bucket join is the only quadratic
    risk and its blow-up is bounded per bucket, not per corpus."""
    from .similarity import cosine_udf, lsh_buckets

    b = lsh_buckets(embeddings, n_planes)
    left = b.alias("a")
    right = b.alias("c")
    pairs = (left.join(right,
                       (F.col("a.bucket") == F.col("c.bucket"))
                       & (F.col("a.vec_id") < F.col("c.vec_id")))
             .select(F.col("a.vec_id").alias("doc_a"),
                     F.col("c.vec_id").alias("doc_b"),
                     cosine_udf(F.col("a.embedding"),
                                F.col("c.embedding")).alias("score")))
    # +1e-6 before floor: identical vectors give cosine 1.0-ε under
    # float summation-order differences; the epsilon makes the scaled
    # integer stable across engines (same term in the SQL oracle).
    # No output sort: pair order is meaningless downstream and a global
    # sort is a pure range-shuffle tax at scale.
    return (pairs.filter(F.col("score") >= threshold)
            .select("doc_a", "doc_b",
                    F.floor(F.col("score") * 10000 + F.lit(1e-6))
                     .cast("long").alias("score_e4")))


def simhash_bits(docs: DataFrame, *, n: int = 3,
                 bits: int = 16) -> DataFrame:
    """``bits``-wide SimHash (16 or 32) over word n-gram shingles with
    portable md5 bits: bit i of the shingle's md5 votes +1/−1; the sign
    of the vote-sum forms the document hash. Bits are drawn from md5's
    leading hex digits in 16-bit chunks, so DuckDB replays the exact
    hash with ``('0x' || substr(md5(s), 1+4*c, 4))::BIGINT``.

    One shuffle: ``bits`` conditional-sum aggregates over the
    exploded-shingle table (map-side partial agg), no per-bit row
    multiplication. 64-bit variants need unsigned handling Spark's
    ANSI long arithmetic doesn't give for bit 63 — at that width use
    two 32-bit signature columns instead."""
    assert bits in (16, 32)
    sh = exploded_shingles(docs, n=n)
    chunks = [
        F.conv(F.substring(F.md5("shingle"), 1 + 4 * c, 4), 16, 10)
        .cast("long").alias(f"c{c}")
        for c in range(bits // 16)
    ]
    withval = sh.select("doc_id", *chunks)
    votes = [
        F.sum(F.when(
            F.shiftright(F.col(f"c{b // 16}"), b % 16).bitwiseAND(1) == 1,
            1).otherwise(-1)).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = withval.groupBy("doc_id").agg(*votes)
    hash_expr = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0))
        hash_expr = term if hash_expr is None else hash_expr + term
    return agg.select("doc_id", hash_expr.cast("long").alias("simhash"))


# simhash_pairs cuts 32-bit signatures into 4 bands of 8 bits; by
# pigeonhole every pair within Hamming distance SIMHASH_BANDS - 1
# agrees on at least one band, so that is the bound it verifies
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Hamming-ball near-dup pairs (doc_a < doc_b, hamming) from
    32-bit SimHash signatures over word 3-gram shingles: band the hash
    into 4 equal slices, generate candidates ONLY from the band-value
    equijoin (never an all-pairs product), then keep the pairs whose
    ``bit_count(xor)`` is at most 3 — every such pair shares a band, so
    none is missed. The same banded-equijoin shape as MinHash LSH;
    everything after the shingler is JVM-side Catalyst (one agg + one
    self-equijoin).

    Nothing is cached: both join sides read one signature exchange,
    which Spark reuses (the executed plan holds one ArrowEvalPython and
    a ReusedExchange, with AQE on or off), so the shingle UDF runs once."""
    sig = simhash_bits(docs, bits=SIMHASH_BITS)
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    banded = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * width).bitwiseAND(mask)
                .alias("val"))
            for b in range(SIMHASH_BANDS)])).alias("bv")).select(
        "doc_id", "simhash",
        F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a, c = banded.alias("a"), banded.alias("c")
    cand = (a.join(c, [
                F.col("a.band") == F.col("c.band"),
                F.col("a.val") == F.col("c.val"),
                F.col("a.doc_id") < F.col("c.doc_id")])
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("c.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("ha"),
                    F.col("c.simhash").alias("hb"))
            .distinct())
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .select("doc_a", "doc_b", "hamming"))


def canonical_representatives(components: DataFrame, scores: DataFrame,
                              *, score_col: str,
                              id_col: str = "doc_id") -> DataFrame:
    """Quality-aware representative per duplicate cluster — the
    refinement of lowest-id-wins: given the component labels
    (:func:`dedup_components`) and a per-doc quality score (token
    count, LM score, …), keep the HIGHEST-scoring member of each
    cluster (ties break to the lowest id). The production rule behind
    "keep the longest/cleanest copy" instead of an arbitrary one.

    Returns (component, canonical_id, n_members, best_<score_col>).

    Scale shape: one equijoin on id + ONE ``max_by`` aggregation keyed
    on component — algebraic (map-side partial), no per-component
    window, no sort. The (score, lowest-id) ordering is packed into a
    single long (score·2³³ − id) so the aggregate stays on the
    HashAggregate path — a struct ordering key forces the
    SortAggregate fallback (caught by tools/plan_report.py). Requires
    score < 2³⁰ and id < 2³³; unique per row, so the argmax is
    deterministic."""
    j = components.join(scores.select(id_col, score_col), id_col)
    ordering = (F.shiftleft(F.col(score_col).cast("long"), 33)
                - F.col(id_col))
    return (j.groupBy("component")
            .agg(F.max_by(F.col(id_col), ordering).alias("canonical_id"),
                 F.count("*").cast("int").alias("n_members"),
                 F.max(score_col).alias(f"best_{score_col}")))


def dup_ngram_fraction(sh: DataFrame, *, min_df: int = 2) -> DataFrame:
    """Per-doc duplicated-n-gram fraction (the corpus-overlap /
    memorization-risk profile of Lee et al. 2021 §5): for each doc,
    the share of its distinct shingles that also occur in ≥ ``min_df``
    documents corpus-wide. Where ``ngram_novelty`` asks "did this doc
    see the gram FIRST" (an ownership question biased by doc_id
    order), this asks the order-free question "how much of this doc is
    corpus-common text" — the signal that separates quotation-heavy
    but original pages from templated mirrors, and the per-doc view of
    how much substring-level dedup would remove.

    Plan shape: the df is a window count over the gram key, and ONE
    groupBy(doc_id) counts both the doc's grams and its common ones,
    so the shingle table (and the Arrow shingler under it) is read
    once. A NULL shingle is never common, and the NULL doc_id group
    reads n_dup 0.
    Output: (doc_id, n_grams, n_dup, dup_frac_e4)."""
    common = ((F.count(F.lit(1)).over(Window.partitionBy("shingle"))
               >= min_df)
              & F.col("shingle").isNotNull()
              & F.col("doc_id").isNotNull())
    per_doc = (sh.withColumn("_common", common)
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.count(F.when(F.col("_common"), True))
                    .alias("n_dup")))
    return per_doc.select(
        "doc_id", "n_grams", "n_dup",
        F.floor(F.col("n_dup") * 10000 / F.col("n_grams"))
         .cast("long").alias("dup_frac_e4"))
