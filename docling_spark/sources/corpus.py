"""Deterministic corpus synthesis — builds the interleaved
``(doc_id, spans)`` input table the engine reads.

Two generators:

* :func:`corpus_from_documents` — pure-Catalyst (zero Python UDFs):
  wraps each row of the driver-provided ``documents`` parquet into an
  HTML payload with a fixed template, interleaving a media span into
  every fifth document. Because the template is a SQL expression, the
  *expected extraction output* is also expressible in ANSI SQL — this
  is what the DuckDB oracle queries in ``__spark_entry__`` predict.

* :func:`fixture_corpus` — the Docling groundtruth fixture payloads as
  corpus rows (used by tests and the bench's heavy-tail mix).

No external data; everything derives from /root/testdata parquet or the
reference's test fixtures.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import INPUT_SCHEMA

# The HTML template (keep in sync with the oracle SQL in
# __spark_entry__.py — both sides derive expected spans from it):
#   <html><body>
#     <h1>Doc {doc_id}</h1>
#     <p>{text}</p>
#     <h2>Stats</h2>
#     <p>{n_chars} chars</p>
#     [<img src="m"/> when doc_id % 5 == 0]
#   </body></html>
# Extracted spans: (title, 'Doc {id}', 0), (text, text, 1),
# (section_header, 'Stats', 2), (text, '{n_chars} chars', 3),
# (picture, '', 'media://{id}', 4 — only for doc_id % 5 == 0).

MEDIA_MOD = 5


def html_payload_col():
    return F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><h2>Stats</h2><p>"), F.col("n_chars").cast("string"),
        F.lit(" chars</p>"),
        F.when(F.col("doc_id") % MEDIA_MOD == 0, F.lit('<img src="m"/>'))
         .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → interleaved (doc_id, spans) corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html_span = F.struct(
        F.lit("html").alias("kind"),
        html_payload_col().alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("media://"), F.col("doc_id").cast("string"))
         .alias("media_ref"),
        F.lit(1).cast("int").alias("offset"),
    )
    spans = (F.when(F.col("doc_id") % MEDIA_MOD == 0,
                    F.array(html_span, media_span))
              .otherwise(F.array(html_span)))
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       spans.alias("spans"))


PDF_LINE_H = 10.0
PDF_LINE_STEP = 12.0
PDF_TOP = 50.0


def corpus_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → (doc_id, spans) corpus of structured PDF
    pages: each document's words become one line cell each, split over
    two pages (first ceil(n/2) words on page 0). Geometry is a single
    column with uniform line spacing, away from the header/footer
    margins.

    Page 0 additionally carries layout-model cluster predictions — a
    'title' cluster over the first line and a 'text' cluster over the
    rest — so the full model-driven postprocessing path
    (layout_post.postprocess_layout: confidence gate, TITLE→
    SECTION_HEADER remap, cell assignment, refinement, reading order)
    runs and TYPED block kinds survive to the doc-level span sequence.
    Page 1 has no predictions and takes the geometry-heuristic path.
    Both outputs stay predictable in ANSI SQL for the DuckDB oracle.

    Built entirely with Catalyst expressions (to_json over struct
    arrays) — zero Python in corpus synthesis."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    half = F.ceil(n / F.lit(2.0)).cast("int")

    def page_payload(page_no: int, page_toks, clusters=None):
        cells = F.transform(
            page_toks,
            lambda tok, i: F.struct(
                i.cast("int").alias("index"),
                tok.alias("text"),
                F.lit(50.0).alias("l"),
                (F.lit(PDF_TOP) + i.cast("double") * PDF_LINE_STEP).alias("t"),
                F.lit(400.0).alias("r"),
                (F.lit(PDF_TOP) + i.cast("double") * PDF_LINE_STEP
                 + PDF_LINE_H).alias("b")))
        fields = [
            F.lit(page_no).alias("page_no"),
            F.lit(612.0).alias("width"),
            F.lit(792.0).alias("height"),
            cells.alias("cells")]
        if clusters is not None:
            fields.append(clusters.alias("clusters"))
        return F.to_json(F.struct(*fields))

    def cluster(cid: int, label: str, t, b):
        return F.struct(
            F.lit(cid).alias("id"), F.lit(label).alias("label"),
            F.lit(50.0).alias("l"), t.cast("double").alias("t"),
            F.lit(400.0).alias("r"), b.cast("double").alias("b"),
            F.lit(1.0).alias("confidence"))

    # title cluster = line 0 bbox; text cluster = lines 1..half-1
    # (degenerate/empty when half == 1 → dropped by the cell gate)
    p0_clusters = F.array(
        cluster(0, "title", F.lit(PDF_TOP), F.lit(PDF_TOP + PDF_LINE_H)),
        cluster(1, "text", F.lit(PDF_TOP + PDF_LINE_STEP),
                F.lit(PDF_TOP + PDF_LINE_H)
                + (half.cast("double") - 1) * F.lit(PDF_LINE_STEP)))
    p0 = F.struct(
        F.lit("pdf_page").alias("kind"),
        page_payload(0, F.slice(toks, F.lit(1), half), p0_clusters)
        .alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"))
    p1 = F.struct(
        F.lit("pdf_page").alias("kind"),
        page_payload(1, F.slice(toks, half + 1, n - half)).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(1).cast("int").alias("offset"))
    spans = F.when(n > half, F.array(p0, p1)).otherwise(F.array(p0))
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       spans.alias("spans"))


def fixture_rows(kinds: Optional[List[str]] = None) -> List[Tuple[str, list]]:
    """Reference groundtruth fixture payloads as (doc_id, spans) rows."""
    from ..golden import fixture_names, fixture_payload

    kinds = kinds or ["html", "csv"]
    rows: List[Tuple[str, list]] = []
    for kind in kinds:
        for name in fixture_names(f".{kind}"):
            payload = fixture_payload(name)
            rows.append((f"{kind}/{name}",
                         [(kind, payload, "", 0)]))
    return rows


def fixture_corpus(spark: SparkSession,
                   kinds: Optional[List[str]] = None) -> DataFrame:
    return spark.createDataFrame(fixture_rows(kinds), schema=INPUT_SCHEMA)
