"""Distinct-count sketching: KMV (k-minimum values, Bar-Yossef et al.
2002) — the order-statistics sketch behind theta sketches.

Why KMV here instead of HyperLogLog: Spark's HLL
(``approx_count_distinct``) is available as a knob elsewhere
(source_reputation), but its register layout is engine-internal — no
cross-engine oracle can replay it. KMV with a fixed md5 hash is fully
deterministic: the estimate is a pure function of the k smallest
hashes, so DuckDB reproduces it bit-for-bit, and sketches from
disjoint partitions merge by "union then keep k smallest" (the same
property HLL merges rely on).

Estimator: with values hashed uniformly into [0, 1), the k-th smallest
hash u_k estimates distinct ≈ (k-1)/u_k; groups with fewer than k
distinct values report the exact count (the standard small-set
fallback).

Plan shape: one distinct shuffle on (group, value-hash), then the
salted two-phase bottom-k (retrieval.distributed_topk ascending) and a
per-group fold — no window ever sees one group's whole hash stream in
a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .retrieval import distributed_topk

KMV_K = 32
_HASH_DENOM = float(1 << 48)


def _unit_hash(col) -> F.Column:
    """md5-prefix hash mapped into [0, 1): the first 12 hex digits as
    a 48-bit integer over 2^48 — exact in doubles, replayed by the
    oracle as ('0x' || substr(md5(v), 1, 12))::BIGINT / 2^48."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 12),
                   16, 10).cast("double") / F.lit(_HASH_DENOM))


def kmv_distinct(df: DataFrame, *, group_col: str, value_col: str,
                 k: int = KMV_K) -> DataFrame:
    """(group, est_distinct_e4, n_exact_small): KMV distinct-count
    estimate of ``value_col`` per ``group_col``.

    ``est_distinct_e4`` = floor(estimate × 1e4); for groups holding
    fewer than ``k`` distinct values the estimate IS the exact count.
    ``n_exact_small`` flags that fallback (1 = exact path)."""
    hashed = (df.select(F.col(group_col).alias("grp"),
                        _unit_hash(F.col(value_col)).alias("u"))
              .distinct())
    kmin = distributed_topk(hashed, key="grp", order="u", tie="u",
                            k=k, ascending=True)
    agg = kmin.groupBy("grp").agg(
        F.count("*").alias("n_min"),
        F.max("u").alias("u_k"))
    small = F.col("n_min") < k
    est = F.when(small, F.col("n_min").cast("double")) \
           .otherwise((k - 1) / F.col("u_k"))
    return agg.select(
        F.col("grp").alias(group_col),
        F.floor(est * 10000).cast("long").alias("est_distinct_e4"),
        small.cast("int").alias("n_exact_small"))


def quantiles_exact(df: DataFrame, *, group_col: str, value_col: str,
                    tie: str, ps=(0.5, 0.9, 0.99)) -> DataFrame:
    """Exact per-group quantiles by order statistics — the discrete
    (type-1) quantile: value at rank ceil(p·n), no interpolation, so
    the result is a row FROM the data and replays exactly in any
    engine (interpolated quantiles differ in last-ulp arithmetic
    across engines).

    One window per group (rank + count) and a rank-membership filter
    emit all requested quantiles in a single pass. Exact quantiles
    need a per-group total order — this is the exact path; at 100 TB
    group cardinality is the parallelism, and for quantiles over few
    huge groups use :func:`quantiles_sketch` below (bounded shuffle,
    deterministic) or Spark's `approx_percentile` (t-digest,
    merge-order-dependent)."""
    w = (Window.partitionBy(group_col)
         .orderBy(F.col(value_col).asc(), F.col(tie).asc()))
    ranked = df.select(
        group_col, value_col,
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(group_col)).alias("_n"))
    qs = F.array(*[F.lit(float(p)) for p in ps])
    picked = (ranked
              .withColumn("_p", F.explode(qs))
              .filter(F.col("_rn") == F.ceil(F.col("_p") * F.col("_n"))))
    return picked.select(
        group_col,
        F.floor(F.col("_p") * 100).cast("int").alias("p_pct"),
        F.col(value_col).alias("value"))


def quantiles_sketch(df: DataFrame, *, group_col: str, value_col: str,
                     ps=(0.5, 0.9, 0.99), bins: int = 1024) -> DataFrame:
    """Histogram-sketch quantiles — the FEW-HUGE-GROUPS path the exact
    order-statistics operator (:func:`quantiles_exact`) documents as
    its scale limit: instead of totally ordering each group (a
    per-group shuffle of every row), build a fixed equi-width
    histogram per group and read quantiles off the cumulative counts.

    * pass 1: per-group (min, max) — algebraic agg, broadcast back
      (group cardinality is small by premise);
    * pass 2: per-(group, bin) counts — map-side combinable, at most
      ``bins`` rows per group survive the shuffle regardless of group
      size;
    * pick: one window over ≤``bins`` rows per group (bounded by the
      sketch, not the data) finds the first bin whose cumulative count
      crosses ceil(p·n); the estimate is that bin's UPPER edge
      (lo + (bin+1)·width) — deterministic, mergeable, and
      SQL-replayable bit-for-bit (identical IEEE double ops on both
      engines), unlike t-digest whose centroids depend on merge order.

    Error is bounded by one bin width (range/bins) in VALUE space (not
    rank space — skewed distributions want log-spaced bins; compose by
    pre-transforming ``value_col``)."""
    stats = (df.groupBy(group_col)
             .agg(F.min(value_col).alias("_lo"),
                  F.max(value_col).alias("_hi")))
    b = df.join(F.broadcast(stats), group_col)
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    bin_c = (F.when(width == 0, F.lit(0))
             .otherwise(F.least(
                 F.floor((F.col(value_col) - F.col("_lo")) / width),
                 F.lit(bins - 1)))).cast("int")
    hist = (b.select(group_col, bin_c.alias("_bin"),
                     F.col("_lo"), F.col("_hi"))
            .groupBy(group_col, "_bin", "_lo", "_hi")
            .agg(F.count("*").alias("_cnt")))

    wcum = (Window.partitionBy(group_col).orderBy("_bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy(group_col)
    cum = (hist
           .withColumn("_cum", F.sum("_cnt").over(wcum))
           .withColumn("_n", F.sum("_cnt").over(wall)))

    qs = F.array(*[F.lit(float(p)) for p in ps])
    width2 = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    est = (F.when(width2 == 0, F.col("_lo"))
           .otherwise(F.col("_lo") + (F.col("_bin") + 1) * width2))
    picked = (cum.withColumn("_p", F.explode(qs))
              .withColumn("_t", F.ceil(F.col("_p") * F.col("_n")))
              .filter((F.col("_cum") >= F.col("_t"))
                      & (F.col("_cum") - F.col("_cnt") < F.col("_t"))))
    return picked.select(
        group_col,
        F.floor(F.col("_p") * 100).cast("int").alias("p_pct"),
        F.floor(est * 100).cast("long").alias("est_e2"))


def group_vocab_jaccard(df: DataFrame, *, group_col: str,
                        value_col: str) -> DataFrame:
    """EXACT distinct-value Jaccard between every pair of groups
    (e.g. vocabulary overlap between sources — the corpus-composition
    signal behind mixing/dedup decisions). One equijoin on the value
    key (per-value pair fan-out is bounded by group count, so even
    stopwords present in all groups cost |groups|² rows, not corpus²),
    then a pair-count aggregate and broadcast size lookups."""
    gv = (df.select(F.col(group_col).alias("grp"),
                    F.col(value_col).alias("val"))
          .distinct())
    sizes = gv.groupBy("grp").agg(F.count("*").alias("n"))
    a = gv.alias("a")
    b = gv.alias("b")
    inter = (a.join(b, (F.col("a.val") == F.col("b.val"))
                    & (F.col("a.grp") < F.col("b.grp")))
             .groupBy(F.col("a.grp").alias("grp_a"),
                      F.col("b.grp").alias("grp_b"))
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(F.broadcast(sizes.alias("sa")),
                  F.col("grp_a") == F.col("sa.grp"))
            .join(F.broadcast(sizes.alias("sb")),
                  F.col("grp_b") == F.col("sb.grp"))
            .select("grp_a", "grp_b",
                    F.floor(F.col("n_inter") * 10000
                            / (F.col("sa.n") + F.col("sb.n")
                               - F.col("n_inter")))
                    .cast("long").alias("jaccard_e4")))


def kmv_jaccard(df: DataFrame, *, group_col: str, value_col: str,
                k: int = 256) -> DataFrame:
    """KMV-sketch Jaccard between every pair of groups (Beyer et al.
    2007): per group keep the k smallest 48-bit md5 hashes of the
    distinct values; for a pair, the k smallest of the merged lists
    form the union sketch and the fraction present in BOTH lists
    estimates J. THE point at scale: after the one sketch build
    (k rows per group), pair scoring touches k-element arrays only —
    no join on the value key at all, so comparing two 10^12-token
    sources costs the same as two tiny ones. Estimates are
    deterministic (md5) and the oracle replays them exactly; groups
    with < k distinct values get the exact answer by construction."""
    from .retrieval import distributed_topk
    hashed = (df.select(
        F.col(group_col).alias("grp"),
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")),
                           1, 12), 16, 10).cast("long").alias("h"))
        .distinct())
    kmin = distributed_topk(hashed, key="grp", order="h", tie="h",
                            k=k, ascending=True)
    lists = kmin.groupBy("grp").agg(
        F.array_sort(F.collect_list("h")).alias("hs"))
    # Pair enumeration stays distributed: a broadcast self-join of the
    # (tiny, |groups| rows) sketch table on grp_a < grp_b — no eager
    # driver collect inside the plan builder, and the group key keeps
    # its caller-declared type (string, int, …) instead of a hardcoded
    # string schema.
    j = (lists.select(F.col("grp").alias("grp_a"),
                      F.col("hs").alias("hs_a"))
         .join(F.broadcast(
             lists.select(F.col("grp").alias("grp_b"),
                          F.col("hs").alias("hs_b"))),
             F.col("grp_a") < F.col("grp_b")))
    union_k = F.slice(F.array_sort(
        F.array_union(F.col("hs_a"), F.col("hs_b"))), 1, k)
    denom = F.size(union_k)
    inter = F.size(F.filter(
        union_k,
        lambda x: F.array_contains(F.col("hs_a"), x)
        & F.array_contains(F.col("hs_b"), x)))
    return j.select("grp_a", "grp_b",
                    F.floor(inter * 10000 / denom).cast("long")
                     .alias("est_jaccard_e4"))


def cms_heavy_hitters(df: DataFrame, *, value_col: str,
                      depth: int = 4, width: int = 1024,
                      k: int = 20) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    build a depth×width CMS over ``value_col`` occurrences, then report
    the top-``k`` values by true frequency together with the sketch's
    estimate and its overcount.

    Why a sketch next to the exact path: at 10^12 tokens the exact
    per-term count table IS the vocabulary (billions of rows); the CMS
    is depth×width counters (4×1024 here) that answer any ad-hoc
    frequency probe without rescanning, merge across partitions by
    element-wise sum, and guarantee est ≥ true with
    est ≤ true + ε·N (ε = e/width) w.h.p. This harness keeps the
    exact counts too, so the output row carries the error the sketch
    actually made — the standard calibration run before deploying the
    sketch alone.

    Determinism: row hashes are md5-prefix (48-bit) of ``seed:value``
    mod width — replayed bit-for-bit by the SQL oracle (same trick as
    :func:`kmv_distinct`). Plan shape: ONE map-side-combinable count
    per value (the vocabulary shuffle), a depth×width second-phase agg
    (output ≤ 4096 rows), a broadcast join of the CMS back onto the
    count table, and the salted two-phase top-k — no window ever sees
    the whole vocabulary in one task.
    """
    cnt = (df.select(F.col(value_col).cast("string").alias("val"))
           .filter(F.col("val") != "")
           .groupBy("val").agg(F.count("*").alias("cnt")))

    # ONE (val, cnt) × depth explode carries every (seed, bucket)
    # probe — the count aggregation runs once, not once per seed
    h = F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"),
                       F.col("val")))
    tb = cnt.select(
        "val", "cnt",
        F.explode(F.array(*[F.lit(s) for s in range(depth)]))
        .alias("seed")).select(
        "val", "cnt", "seed",
        (F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % width)
        .alias("bucket"))
    cms = tb.groupBy("seed", "bucket").agg(
        F.sum("cnt").alias("bsum"))            # ≤ depth·width rows
    est = (tb.join(F.broadcast(cms), ["seed", "bucket"])
           .groupBy("val", "cnt").agg(F.min("bsum").alias("est_cnt")))

    top = distributed_topk(est.withColumn("_g", F.lit(0)),
                           key="_g", order="cnt", tie="val", k=k)
    return top.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("val").alias("token"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.col("cnt")).cast("long").alias("overcount"))
