"""docling_spark — a brand-new PySpark-native document-extraction engine.

Re-builds the capabilities of DS4SD/docling (reference at
/root/reference, studied for semantics only — no code copied) as an
idiomatic Spark pipeline: an Iceberg/Parquet table of interleaved
text+media documents `(doc_id, spans)` goes through Arrow-batched
`mapInPandas` extraction UDFs and comes out as ordered span arrays
`(kind, text, media_ref, offset)` per document, with per-doc error
containment, per-partition lineage metrics, skew handling and
snapshot-checkpoint resume.

Layout:
  doctree    — the in-UDF document tree (analogue of DoclingDocument)
  golden     — groundtruth-fixture → golden-span derivation (test contract)
  golden_md  — markdown-golden derivation for formats without JSON goldens
  schema     — span/output StructTypes and status constants
  lake       — snapshot/manifest checkpointing + resume anti-join
  parsers/   — stdlib-only format parsers: html (dom), md, csv, asciidoc,
               docx (+ omml equations), xlsx, pptx, jats, uspto,
               docling_json, pdf_page (+ layout_post, ocr_plan)
  operators/ — Spark operators: extract (incl. page-parallel + page dump),
               sniff, export (md/text/doctags/html), enrich, chunking,
               dedup (exact/minhash/simhash), similarity (knn),
               textstats (language/quality/tokens), multimodal
  sources/   — corpus synthesis and table scans
  streaming/ — watermarked event windows and the memory-sink drain of
               the streaming registry queries
"""

__version__ = "0.1.0"
