"""Similarity search over embedding columns (array<float>).

* :func:`knn_bruteforce` — exact top-k cosine with a TWO-PHASE top-k:
  the query matrix (small by contract) rides into a `mapInPandas` pass
  over the corpus; each Arrow batch emits only its per-batch top-k
  candidates per query, and a tiny final merge ranks them. The corpus
  is scanned once, never joined, never shuffled — the only shuffled
  rows are the (n_batches × n_queries × k) candidates. This replaces
  the round-1 shape (cross join + one Window partition per query over
  every scored row), which serialized the whole corpus's scores into
  one task per query at scale.
* :func:`lsh_buckets` / :func:`knn_lsh` — random-hyperplane LSH scale
  path: deterministic pseudo-hyperplanes (signs derived from
  md5(plane,dim) — the SAME formula the DuckDB oracle evaluates, but
  computed ONCE driver-side with hashlib instead of per row × dim ×
  plane in interpreted JVM expressions, which measured ~50× slower)
  bucket the corpus once; candidate generation is a bucket equijoin
  instead of a full cross product.
* :func:`ivf_assign` / :func:`knn_ivf` — IVF: the coarse quantizer is
  a small driver-collected centroid matrix; cell assignment is ONE
  Arrow-batched argmax pass over the corpus (zero joins, zero
  shuffles, zero windows — replaces the round-1 ×n_cells explode +
  per-vector window). Probing stays a cell equijoin on broadcast
  probes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


_COSINE_UDF = None


def _make_cosine_udf():
    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av = np.stack(a.to_numpy()).astype(np.float64)
        bv = np.stack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", av, bv)
        den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, 0.0)
        return pd.Series(out)

    return cos


def cosine_udf(a: Column, b: Column) -> Column:
    """Arrow-batched row-wise cosine: one NumPy pass per batch.
    (Lazy module-level singleton — decorating at import time would
    require an active SparkSession, and rebuilding per call re-pickles
    the UDF for every plan node.)"""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        _COSINE_UDF = _make_cosine_udf()
    return _COSINE_UDF(a, b)


def _as_double(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Final top-k merge. Only ever applied to CANDIDATE sets (LSH/IVF
    bucket matches, or the per-batch partial top-k of the brute-force
    pass) — never to a full corpus × query score table. Even so, the
    candidate set grows with the partition count (n_batches × k per
    query on the brute-force path), so the merge itself is the salted
    two-phase rank (retrieval.distributed_topk): no single task ever
    holds one query's whole candidate stream."""
    from .retrieval import distributed_topk
    top = distributed_topk(scored, key="query_id", order="score",
                           tie="nbr_id", k=k)
    return top.select("query_id", "nbr_id", "rank",
                      F.floor(F.col("score") * 10000).cast("long")
                      .alias("score_e4"))


def _collect_matrix(df: DataFrame, limit: int = None):
    """Deterministically ordered (ids, matrix) from a small
    (vec_id, embedding) DataFrame. orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k + driver merge), so
    this never globally sorts the source."""
    q = df.select("vec_id", "embedding").orderBy("vec_id")
    if limit is not None:
        q = q.limit(limit)
    rows = q.collect()
    if not rows:
        raise ValueError("empty vector set")
    ids = [r["vec_id"] for r in rows]
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                    for r in rows])
    return ids, mat


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def knn_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                   ) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    embeddings: (vec_id, embedding); queries: (vec_id, embedding) —
    small by contract, collected into the scan closure (the Arrow-side
    analogue of a broadcast). Self-matches excluded.

    Scale shape: one `mapInPandas` scan of the corpus; each Arrow
    batch emits its own top-k per query (argpartition, no sort of the
    full batch), then `_topk` merges the tiny candidate set."""
    q_ids, q_mat = _collect_matrix(queries)
    qn = _normalize(q_mat)
    id_type = embeddings.schema["vec_id"].dataType.simpleString()
    out_ddl = f"query_id {id_type}, nbr_id {id_type}, score double"

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            scores = _normalize(emb) @ qn.T  # (batch, n_queries)
            out = {"query_id": [], "nbr_id": [], "score": []}
            kk = min(k, len(ids))
            for j, qid in enumerate(q_ids):
                col = scores[:, j].copy()
                col[ids == qid] = -np.inf  # self-match exclusion
                # lexicographic partial top-k (score desc, nbr_id asc):
                # argpartition-by-score-alone can drop a TIED candidate
                # with a smaller id at the k boundary — ties are
                # measure-zero for float cosines but common for
                # quantized (int8) vectors. Pool = everything at or
                # above the k-th score, then lexsort the pool.
                part = np.argpartition(-col, kk - 1)[:kk]
                thresh = col[part].min()
                pool = np.flatnonzero(col >= thresh)
                order = np.lexsort((ids[pool], -col[pool]))
                top = pool[order[:kk]]
                keep = top[np.isfinite(col[top])]
                out["query_id"].extend([qid] * len(keep))
                out["nbr_id"].extend(ids[keep].tolist())
                out["score"].extend(col[keep].tolist())
            yield pd.DataFrame(out)

    cand = (_as_double(embeddings).select("vec_id", "embedding")
            .mapInPandas(score_batches, schema=out_ddl))
    return _topk(cand, k)


N_PLANES = 8


def plane_sign_matrix(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-hyperplane signs in {-1,+1}: component (p,d)
    is +1 iff int(md5(f"{p},{d}")[:4], 16) >= 32768 — the exact formula
    the SQL oracle replays. Tiny (n_planes × dim), built once."""
    signs = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{p},{d}".encode("ascii")).hexdigest()[:4]
            signs[p, d] = 1.0 if int(h, 16) >= 32768 else -1.0
    return signs


def _bucket_batches(n_planes: int):
    """mapInPandas-style bucket assignment: bucket = Σ 2^p over planes
    whose signed projection is ≥ 0. One matmul per Arrow batch."""
    sign_cache: dict = {}

    @pandas_udf("long")
    def bucket_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int64")
        ev = np.stack(emb.to_numpy()).astype(np.float64)
        dim = ev.shape[1]
        if dim not in sign_cache:
            sign_cache[dim] = plane_sign_matrix(n_planes, dim)
        proj = ev @ sign_cache[dim].T  # (rows, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series(((proj >= 0) @ weights).astype(np.int64))

    return bucket_udf


def lsh_buckets(embeddings: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, embedding) → (vec_id, bucket, embedding): sign pattern
    of the dot product with each pseudo-hyperplane, packed into a long."""
    e = _as_double(embeddings)
    bucket_udf = _bucket_batches(n_planes)
    return e.select("vec_id", bucket_udf(F.col("embedding")).alias("bucket"),
                    "embedding")


N_CELLS = 16
N_PROBE = 4


def _centroid_matrix(embeddings: DataFrame, n_cells: int) -> np.ndarray:
    """Deterministic sampled coarse quantizer: the first ``n_cells``
    corpus vectors by vec_id order (the zero-training-budget
    initialization FAISS also accepts), as a normalized NumPy matrix.
    Cell id = row position (== vec_id on dense 0-based id spaces, which
    is what the SQL oracle replays). Raises when the corpus has fewer
    than ``n_cells`` vectors instead of silently returning no cells."""
    ids, mat = _collect_matrix(_as_double(embeddings), limit=n_cells)
    if len(ids) < n_cells:
        raise ValueError(
            f"IVF quantizer needs {n_cells} vectors, corpus has {len(ids)}")
    return _normalize(mat)


def _cell_rank_udfs(cn: np.ndarray, n_probe: int):
    """(assign_udf, probe_udf) over a normalized centroid matrix:
    argmax cell per vector, and the top ``n_probe`` cells per query.
    Ties break toward the lower cell id (stable argsort), matching the
    oracle's ORDER BY cs DESC, cell ASC."""

    @pandas_udf("int")
    def assign_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        ev = _normalize(np.stack(emb.to_numpy()).astype(np.float64))
        return pd.Series((ev @ cn.T).argmax(axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        ev = _normalize(np.stack(emb.to_numpy()).astype(np.float64))
        order = np.argsort(-(ev @ cn.T), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.tolist() for row in order])

    return assign_udf, probe_udf


def ivf_assign(embeddings: DataFrame, n_cells: int = N_CELLS) -> DataFrame:
    """IVF coarse quantization: (vec_id, cell, embedding).

    One Arrow-batched argmax pass against the driver-collected
    normalized centroid matrix: the index build touches each corpus
    row exactly once — no joins, no row explosion, no shuffle, no
    window (the round-1 shape did a ×n_cells broadcast-join explode
    plus a per-vector Window; at 10^12 rows that was a 16×
    materialization + full shuffle for a per-row reduction)."""
    cn = _centroid_matrix(embeddings, n_cells)
    assign_udf, _ = _cell_rank_udfs(cn, 1)
    e = _as_double(embeddings)
    return e.select("vec_id", assign_udf(F.col("embedding")).alias("cell"),
                    "embedding")


def knn_ivf(embeddings: DataFrame, queries: DataFrame, k: int = 5,
            n_cells: int = N_CELLS, n_probe: int = N_PROBE) -> DataFrame:
    """Approximate top-k via inverted-file probing: each query scores
    only the corpus vectors whose cell is among its ``n_probe``
    nearest centroids. Candidate generation is a cell equijoin against
    broadcast probes — the scale path when bucket collisions (LSH) are
    too coarse. Since every corpus vector lives in exactly one cell,
    (query, neighbor) candidate pairs are already unique — no
    dedup shuffle needed."""
    index = ivf_assign(embeddings, n_cells)
    _, probe_udf = _cell_rank_udfs(_centroid_matrix(embeddings, n_cells),
                                   n_probe)
    q = _as_double(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    # explode_OUTER + null-guard: plain explode's inferred pruning
    # predicate re-evaluates the Arrow prober below the generate.
    # probe_udf always emits exactly n_probe cells, so semantics are
    # identical.
    probes = (q.select(
        "query_id", "q_emb",
        F.explode_outer(probe_udf(F.col("q_emb"))).alias("cell"))
        .filter(F.col("cell").isNotNull()))
    scored = (index.join(F.broadcast(probes), "cell")
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("nbr_id"),
                      cosine_udf(F.col("q_emb"), F.col("embedding"))
                      .alias("score")))
    return _topk(scored, k)


PQ_M = 4          # subspaces
PQ_K = 16         # centroids per subspace


def _pq_codebook(embeddings: DataFrame, m: int = PQ_M,
                 k: int = PQ_K) -> np.ndarray:
    """(m, k, dim/m) codebook: the normalized first ``k`` corpus
    vectors by vec_id order, split into ``m`` contiguous subspaces —
    the same zero-training-budget initialization as the IVF coarse
    quantizer, so the SQL oracle can replay it exactly. Raises when
    the corpus is too small or the dim doesn't split evenly."""
    ids, mat = _collect_matrix(_as_double(embeddings), limit=k)
    if len(ids) < k:
        raise ValueError(
            f"PQ codebook needs {k} vectors, corpus has {len(ids)}")
    mn = _normalize(mat)
    dim = mn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return mn.reshape(k, m, dim // m).transpose(1, 0, 2)


def pq_encode(embeddings: DataFrame, m: int = PQ_M,
              k: int = PQ_K) -> DataFrame:
    """Product-quantization encoding: (vec_id, codes array<int>) —
    per subspace, the id of the L2-nearest codebook centroid (ties
    break toward the lower id: np.argmin keeps the first minimum,
    matching the oracle's ORDER BY dist, cid).

    One Arrow-batched pass against the broadcast codebook — no joins,
    no shuffles (the same index-build shape as ivf_assign). At 100 TB
    this is the storage/shuffle-bytes story: m bytes replace dim
    float32s (64× here) for every downstream ANN scan."""
    cb = _pq_codebook(embeddings, m, k)

    @pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        ev = _normalize(np.stack(emb.to_numpy()).astype(np.float64))
        n, dim = ev.shape
        sub = ev.reshape(n, m, dim // m)
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            # (n, k) squared L2 distances in subspace j
            diff = sub[:, None, j, :] - cb[j][None, :, :]
            codes[:, j] = np.einsum("nkd,nkd->nk", diff, diff).argmin(1)
        return pd.Series([row.tolist() for row in codes])

    e = _as_double(embeddings)
    return e.select("vec_id", encode(F.col("embedding")).alias("codes"))


def knn_pq(embeddings: DataFrame, queries: DataFrame, k: int = 5,
           m: int = PQ_M, n_centroids: int = PQ_K) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over the
    PQ codes: each query precomputes an (m × n_centroids) inner-product
    lookup table against the codebook, and a corpus vector's score is
    the sum of m table entries selected by its codes — no float vector
    is touched after encoding.

    Scale shape: encode pass + one mapInPandas scan of the CODES table
    (m bytes/row) emitting per-batch top-k candidates, then the tiny
    `_topk` merge — the brute-force two-phase shape at ~1/64th the
    scan bytes, the standard memory-bound ANN trade (Jégou et al.,
    IEEE TPAMI 2011)."""
    cb = _pq_codebook(embeddings, m, n_centroids)
    q_ids, q_mat = _collect_matrix(_as_double(queries))
    qn = _normalize(q_mat)
    dim = qn.shape[1]
    # LUT[qi, j, c] = dot(query_sub_j, centroid_c_sub_j)
    qsub = qn.reshape(len(q_ids), m, dim // m)
    lut = np.einsum("qjd,jkd->qjk", qsub, cb)
    id_type = embeddings.schema["vec_id"].dataType.simpleString()
    out_ddl = f"query_id {id_type}, nbr_id {id_type}, score double"

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            # scores[n, q] = sum_j lut[q, j, codes[n, j]]
            per_sub = lut[:, np.arange(m)[None, :], codes]  # (q, n, m)
            scores = per_sub.sum(axis=2).T                  # (n, q)
            out = {"query_id": [], "nbr_id": [], "score": []}
            kk = min(k, len(ids))
            for qi, qid in enumerate(q_ids):
                col = scores[:, qi].copy()
                col[ids == qid] = -np.inf
                part = np.argpartition(-col, kk - 1)[:kk]
                thresh = col[part].min()
                pool = np.flatnonzero(col >= thresh)
                order = np.lexsort((ids[pool], -col[pool]))
                top = pool[order[:kk]]
                keep = top[np.isfinite(col[top])]
                out["query_id"].extend([qid] * len(keep))
                out["nbr_id"].extend(ids[keep].tolist())
                out["score"].extend(col[keep].tolist())
            yield pd.DataFrame(out)

    codes_df = pq_encode(embeddings, m, n_centroids)
    cand = codes_df.mapInPandas(score_batches, schema=out_ddl)
    return _topk(cand, k)


def quantize_embeddings(embeddings: DataFrame,
                        col: str = "embedding") -> DataFrame:
    """int8 scalar quantization, per-vector max-abs scale:
    ``q_i = floor(x_i / s * 127)`` with ``s = max(|x|)`` — pure
    Catalyst, no Python. At 10^12 rows this is the shuffle/broadcast
    bytes story: a float32 embedding column shrinks 4× (float64 8×)
    before any join or scan-side exchange, and cosine over the int8
    vectors is scale-invariant, so the per-vector scale never needs to
    travel with the row. floor (not round) keeps the quantizer exactly
    replayable in ANSI SQL."""
    s = F.greatest(
        F.array_max(F.transform(col, lambda x: F.abs(x))), F.lit(1e-30))
    q = F.transform(col, lambda x: F.floor(x / s * 127).cast("tinyint"))
    return embeddings.select("vec_id", q.alias(col))


def knn_bruteforce_int8(embeddings: DataFrame, queries: DataFrame,
                        k: int = 5) -> DataFrame:
    """Exact top-k cosine over the int8-quantized corpus — the same
    two-phase scan/merge as knn_bruteforce but with 4-8× fewer bytes
    crossing the Arrow boundary. Scores are cosines of the quantized
    vectors: integer dot products and squared norms are exact in
    doubles (|q| ≤ 127), so the result is bit-reproducible across
    engines and batch orders."""
    qe = _as_double(quantize_embeddings(embeddings))
    qq = _as_double(quantize_embeddings(queries))
    return knn_bruteforce(qe, qq, k=k)


def knn_classify(embeddings: DataFrame, queries: DataFrame,
                 labels: DataFrame, k: int = 5) -> DataFrame:
    """k-NN majority-vote classification: label each query vector by
    the plurality label of its ``k`` nearest corpus neighbors (exact
    cosine; ties break toward the smaller label, so the result is
    deterministic and SQL-replayable).

    ``labels``: (vec_id, label) — corpus-sized. Scale shape: the
    neighbor table is tiny (n_queries × k), so the label lookup
    broadcasts IT against the big labels table (no shuffle of the
    corpus); the vote is a groupBy over n_queries × k rows and the
    final argmax a window over n_queries × n_distinct_labels rows —
    both negligible at any corpus size."""
    nn = knn_bruteforce(embeddings, queries, k=k)
    lbl = labels.select(F.col("vec_id").alias("nbr_id"), "label")
    votes = (lbl.join(F.broadcast(nn), "nbr_id")
             .groupBy("query_id", "label")
             .agg(F.count("*").alias("votes"),
                  F.min("rank").alias("best_rank")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("votes").desc(), F.col("label").asc()))
    return (votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("query_id", F.col("label").alias("pred_label"),
                    F.col("votes").cast("long").alias("votes"),
                    F.col("best_rank").cast("int").alias("best_rank")))


def knn_lsh(embeddings: DataFrame, queries: DataFrame, k: int = 5,
            n_planes: int = N_PLANES) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket
    are scored (the IVF-style scale path: bucket equijoin, no full
    cross product)."""
    corpus = lsh_buckets(embeddings, n_planes).select(
        F.col("vec_id").alias("nbr_id"), "bucket",
        F.col("embedding").alias("nbr_emb"))
    q = lsh_buckets(queries, n_planes).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("q_emb"))
    scored = (corpus.join(F.broadcast(q),
                          (F.col("bucket") == F.col("q_bucket"))
                          & (F.col("nbr_id") != F.col("query_id")))
              .select("query_id", "nbr_id",
                      cosine_udf(F.col("q_emb"), F.col("nbr_emb"))
                      .alias("score")))
    return _topk(scored, k)


def hard_negatives(embeddings: DataFrame, queries: DataFrame, *,
                   k: int = 5, sim_lo: float = 0.5,
                   sim_hi: float = 0.95) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (DPR,
    Karpukhin et al. 2020; contrastive fine-tuning recipes): for each
    query vector, the top-k most-similar corpus vectors INSIDE a
    cosine band (sim_lo, sim_hi] — similar enough to be hard, but the
    near-exact band above sim_hi is excluded because those are
    duplicates/positives, not negatives.

    Same scale shape as ``knn_bruteforce``: one Arrow scan with
    per-batch partial top-k (the band mask is applied before the
    partial top-k, so excluded near-dups never occupy candidate
    slots), then the salted two-phase merge. Self-matches excluded.
    """
    q_ids, q_mat = _collect_matrix(queries)
    qn = _normalize(q_mat)
    id_type = embeddings.schema["vec_id"].dataType.simpleString()
    out_ddl = f"query_id {id_type}, nbr_id {id_type}, score double"

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            scores = _normalize(emb) @ qn.T
            out = {"query_id": [], "nbr_id": [], "score": []}
            for j, qid in enumerate(q_ids):
                col = scores[:, j].copy()
                col[ids == qid] = -np.inf
                col[(col <= sim_lo) | (col > sim_hi)] = -np.inf
                live = np.flatnonzero(np.isfinite(col))
                if not len(live):
                    continue
                kk = min(k, len(live))
                part = live[np.argpartition(-col[live], kk - 1)[:kk]]
                thresh = col[part].min()
                pool = np.flatnonzero(col >= thresh)
                order = np.lexsort((ids[pool], -col[pool]))
                top = pool[order[:kk]]
                out["query_id"].extend([qid] * len(top))
                out["nbr_id"].extend(ids[top].tolist())
                out["score"].extend(col[top].tolist())
            yield pd.DataFrame(out)

    cand = (_as_double(embeddings).select("vec_id", "embedding")
            .mapInPandas(score_batches, schema=out_ddl))
    return _topk(cand, k)
