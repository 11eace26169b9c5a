"""Text vectorization: feature-hash embeddings (the hashing trick,
Weinberger et al. 2009 — the deterministic, vocabulary-free text
vectorizer that connects the document stack to the vector stack:
docs → embed_hash → kNN / k-means / PQ / embedding-dedup all apply).

Each token hashes to one of ``dim`` buckets with a ±1 sign hash (the
sign hash keeps collisions unbiased); the bucket accumulates the
token's count, and the final vector is L2-normalized. Both hashes are
md5 prefixes — the exact formula every other oracle-replayable hash in
this engine uses — so the DuckDB oracle rebuilds the embedding bit-for
-bit at e4 precision.

Scale shape: doc-local — ONE Arrow-batched pass, no explode, no
shuffle; at 100 TB it fuses with the scan like the winnowing
fingerprinter.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

EMBED_DIM = 64


def _token_bucket_sign(token: str, dim: int) -> tuple:
    h = hashlib.md5(token.encode("utf-8")).hexdigest()
    bucket = int(h[:8], 16) % dim
    sign = 1.0 if int(h[8], 16) >= 8 else -1.0
    return bucket, sign


def _embed_udf(dim: int):
    cache: dict = {}

    @pandas_udf("array<double>")
    def embed(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").split(" ")
            v = np.zeros(dim, dtype=np.float64)
            for tok in toks:
                if not tok:
                    continue
                bs = cache.get(tok)
                if bs is None:
                    bs = cache[tok] = _token_bucket_sign(tok, dim)
                v[bs[0]] += bs[1]
            n = np.linalg.norm(v)
            if n > 0:
                v /= n
            out.append(v.tolist())
        return pd.Series(out)

    return embed


def embed_hash(docs: DataFrame, *, dim: int = EMBED_DIM) -> DataFrame:
    """(doc_id, text) → (vec_id, embedding array<double>): signed
    feature-hash embedding of the normalized token stream, L2-unit.
    Column named ``vec_id`` so the output drops straight into the
    similarity/clustering operators."""
    nt = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select(
        F.col("doc_id").alias("vec_id"),
        _embed_udf(dim)(nt).alias("embedding"))


def tfidf_hash_vectors(docs: DataFrame, *,
                       dim: int = EMBED_DIM) -> DataFrame:
    """Hashed tf-idf document vectors (sklearn HashingVectorizer +
    TfidfTransformer, distributed): (doc_id, text) → sparse
    (doc_id, dim, w_e6) rows where w = Σ_{tok→dim} tf·sign·idf,
    idf = ln((1+N)/(1+df)) + 1 (the smooth sklearn form).

    Unlike ``embed_hash`` (pure counts, doc-local) tf-idf needs the
    corpus df table, so this is the three-aggregate spelling:
    tf groupBy(doc, token); df groupBy(token) over the tf table; final
    groupBy(doc, dim). The idf table is broadcast into the tf join, so
    that join moves no tf rows. The idf is quantized to an integer
    (floor(idf·1e6)) in the table, so bucket sums are exact-integer
    and engine/partitioning-independent. ``dim`` and sign come from
    the same md5 prefixes as every other replayable hash here. Sparse
    output: zero buckets are omitted (a dense grid at 100 TB would be
    rows × dim)."""
    from .textstats import tokens_col

    toks = (docs.select("doc_id",
                        F.explode(tokens_col()).alias("token"))
            .filter(F.col("token") != ""))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("_n"))
    idf = (tf.groupBy("token")
           .agg(F.count("*").alias("df"))
           .crossJoin(F.broadcast(n_docs))
           .select("token",
                   F.floor((F.log((1 + F.col("_n"))
                                  / (1 + F.col("df"))) + 1.0)
                           * 1_000_000).cast("long").alias("idf_e6")))
    bucket = (F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
              .cast("long") % dim).cast("int")
    sgn = F.when(F.conv(F.substring(F.md5("token"), 9, 1), 16, 10)
                 .cast("long") >= 8, F.lit(1)).otherwise(F.lit(-1))
    return (tf.join(F.broadcast(idf), "token")
            .select("doc_id", bucket.alias("dim"),
                    (F.col("tf") * sgn * F.col("idf_e6")).alias("_w"))
            .groupBy("doc_id", "dim")
            .agg(F.sum("_w").cast("long").alias("w_e6"))
            .filter(F.col("w_e6") != 0))


def mean_pool_embeddings(chunks: DataFrame, *,
                         id_col: str = "doc_id",
                         pos_col: str = "chunk_idx",
                         vec_col: str = "embedding",
                         quantize_e4: bool = True) -> DataFrame:
    """Chunk embeddings → one pooled document vector: the standard
    retrieval/near-dup representation when documents exceed the
    embedder's context (embed chunks, mean-pool to doc). Emits one row
    per (doc_id, dim) — (doc_id, dim, n_chunks, pooled_e4) — the
    relational spelling downstream kNN/k-means operators and the
    driver's scalar canonicalizer both consume; use ``collect_list``
    over it if an array column is needed.

    Determinism (what makes this oracle-exact): chunk vectors are
    gathered per doc as structs SORTED by chunk position and folded
    left-to-right with ``F.aggregate`` + ``zip_with`` in double
    precision, so the float summation order is fixed — a plain
    groupBy(doc, dim).avg() would sum in shuffle arrival order and
    wobble in the last ulp, which a ×10⁴ quantizer can amplify across
    engines. floor(sum/n · 10⁴) is then bit-replayable in any engine
    that adds doubles left-to-right.

    Scale shape: ONE shuffle on doc_id; per-group state is
    n_chunks · dim doubles (chunking bounds n_chunks, so the struct
    list is small); the fold is a codegen'd higher-order expression,
    no Python. Output cardinality = docs × dim."""
    doc, pos, vec = F.col(id_col), F.col(pos_col), F.col(vec_col)
    gathered = (chunks
                .select(doc.alias("doc_id"), pos.alias("_pos"),
                        vec.cast("array<double>").alias("_v"))
                # a NULL chunk vector would poison the whole doc's
                # fold (zip_with(acc, NULL) → NULL); drop it and let
                # n_chunks reflect what was actually pooled.
                # PRECONDITION: all of a doc's vectors share one dim —
                # zip_with null-pads a shorter vector and the pooled
                # dims beyond it go NULL (mixed embedder versions must
                # be split upstream, not averaged)
                .filter(F.col("_v").isNotNull())
                .groupBy("doc_id")
                .agg(F.array_sort(F.collect_list(
                    F.struct(F.col("_pos"), F.col("_v")))).alias("_cs")))
    dim = F.size(F.element_at(F.col("_cs"), 1)["_v"])
    zero = F.array_repeat(F.lit(0.0), dim)
    summed = F.aggregate(
        F.col("_cs"), zero,
        lambda acc, c: F.zip_with(acc, c["_v"], lambda a, b: a + b))
    n = F.size(F.col("_cs"))
    pooled = F.transform(summed, lambda s: s / n)
    out = (gathered.select(
        "doc_id", n.cast("int").alias("n_chunks"),
        F.posexplode(pooled).alias("dim", "_p")))
    val = (F.floor(F.col("_p") * 10000).cast("long").alias("pooled_e4")
           if quantize_e4 else F.col("_p").alias("pooled"))
    return out.select("doc_id", "dim", "n_chunks", val)
