"""Enrichment framework — the batched second pass over document items.

Spark-first re-expression of the reference's enrichment pipeline
(/root/reference/docling/pipeline/base_pipeline.py:66-89: iterate the
built document's items, filter the processable ones, batch them
(``elements_batch_size``), run an enrichment model per batch and write
the prediction back onto the item). The three in-tree enrichers are NN
models (code/formula `models/code_formula_model.py:43+`, picture
classifier `models/document_picture_classifier.py:33+`, picture
description `models/picture_description_base_model.py:28-80`).

Spark shape: the span table explodes to (doc_id, offset, kind, …) rows,
a Catalyst filter keeps only kinds some enricher declares processable
(the ``is_processable`` gate — pushed to the scan, so at 10^12 docs the
enrichment stage reads only the exploded slice it needs), the batched
model call runs inside one Arrow ``mapInPandas`` stage (the analogue of
``elements_batch_size`` batching is Arrow's ``maxRecordsPerBatch``), and
the result is a narrow *enrichment side-table* keyed by
``(doc_id, offset)`` — joinable back to the span table; mutating row
objects in place is the row-oriented idiom, a keyed side-table is the
columnar one.

The NN predictors are PLUGGABLE SLOTS (same position the plugin
factories occupy in the reference, models/factories/base_factory.py):
pass any ``kind → callable(pandas.Series text) → pandas.Series label``
mapping. The defaults are deterministic heuristics so the stage is
testable and oracle-replayable in ANSI SQL:

* ``code`` → keyword-rule language ID (first matching rule wins):
    1. contains "#include"                      → "c"
    2. contains "def " and ":"                  → "python"
    3. contains "function" and "{"              → "javascript"
    4. contains "public static"                 → "java"
    5. contains "SELECT" and "FROM"             → "sql"
    6. contains "package main"                  → "go"
    7. contains "fn " and "->"                  → "rust"
    8. otherwise                                → "unknown"
* ``formula`` → "latex" if the text contains a backslash command,
  else "plain"
* ``picture`` → "media" when a media_ref is attached, else "inline"
"""

from __future__ import annotations

from typing import Callable, Dict, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENRICH_OUT_DDL = ("doc_id string, offset int, kind string, "
                  "enrichment string")


def classify_code_language(text: pd.Series) -> pd.Series:
    """Vectorized keyword-rule language ID (deterministic default for
    the CodeFormulaModel slot)."""
    t = text.fillna("")
    out = pd.Series("unknown", index=t.index, dtype=object)
    rules = [
        ("c", t.str.contains("#include", regex=False)),
        ("python", t.str.contains("def ", regex=False)
         & t.str.contains(":", regex=False)),
        ("javascript", t.str.contains("function", regex=False)
         & t.str.contains("{", regex=False)),
        ("java", t.str.contains("public static", regex=False)),
        ("sql", t.str.contains("SELECT", regex=False)
         & t.str.contains("FROM", regex=False)),
        ("go", t.str.contains("package main", regex=False)),
        ("rust", t.str.contains("fn ", regex=False)
         & t.str.contains("->", regex=False)),
    ]
    undecided = pd.Series(True, index=t.index)
    for label, hit in rules:
        pick = undecided & hit
        out[pick] = label
        undecided &= ~hit
    return out


def classify_formula(text: pd.Series) -> pd.Series:
    t = text.fillna("")
    return pd.Series(
        ["latex" if "\\" in s else "plain" for s in t], index=t.index)


def classify_picture(media_ref: pd.Series) -> pd.Series:
    m = media_ref.fillna("")
    return pd.Series(
        ["media" if s else "inline" for s in m], index=m.index)


DEFAULT_ENRICHERS: Dict[str, Callable[[pd.DataFrame], pd.Series]] = {
    "code": lambda pdf: classify_code_language(pdf["text"]),
    "formula": lambda pdf: classify_formula(pdf["text"]),
    "picture": lambda pdf: classify_picture(pdf["media_ref"]),
}


def enrich_spans(
    extracted: DataFrame,
    enrichers: Optional[Dict[str, Callable[[pd.DataFrame], pd.Series]]] = None,
    *,
    spans_col: str = "spans",
) -> DataFrame:
    """Span table → enrichment side-table (doc_id, offset, kind,
    enrichment). Only spans whose kind has an enricher are exploded past
    the Catalyst filter; the enricher runs Arrow-batched."""
    enrichers = DEFAULT_ENRICHERS if enrichers is None else enrichers
    kinds = sorted(enrichers.keys())

    items = (extracted
             .select("doc_id", F.explode(spans_col).alias("s"))
             .filter(F.col("s.kind").isin(kinds))
             .select("doc_id",
                     F.col("s.offset").alias("offset"),
                     F.col("s.kind").alias("kind"),
                     F.col("s.text").alias("text"),
                     F.col("s.media_ref").alias("media_ref")))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            label = pd.Series("", index=pdf.index, dtype=object)
            for kind, fn in enrichers.items():
                mask = pdf["kind"] == kind
                if mask.any():
                    label[mask] = fn(pdf[mask]).astype(object)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "offset": pdf["offset"],
                "kind": pdf["kind"], "enrichment": label})

    return items.mapInPandas(run, schema=ENRICH_OUT_DDL)


OMML_DDL = "doc_id string, eq_no int, latex string"


def omml_equations(df: DataFrame, *, xml_col: str = "omml") -> DataFrame:
    """(doc_id, omml: string) → (doc_id, eq_no, latex): run the
    from-scratch OMML→LaTeX converter (parsers/omml.py; reference
    backend/docx/latex/omml.py) over each document's Office Math XML.
    Every ``m:oMath`` element in the payload yields one row, in
    document order. Zero-shuffle Arrow stage — the same converter the
    DOCX backend calls inline (parsers/docx_parser.py:92-102), exposed
    here as a standalone stage so stored equation XML (e.g. a column
    of equations mined out of a 100 TB DOCX corpus) can be batch-
    converted without re-parsing whole documents."""
    import xml.etree.ElementTree as ET

    from docling_spark.parsers.omml import MNS, omml_to_latex

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "eq_no": [], "latex": []}
            for doc_id, xml in zip(pdf["doc_id"], pdf[xml_col]):
                try:
                    # None raises TypeError, bad XML raises ParseError
                    root = ET.fromstring(xml)
                except (ET.ParseError, TypeError, ValueError):
                    # NULL/malformed payload: emit a positive sentinel
                    # row (eq_no=-1, latex NULL) instead of vanishing
                    # or killing the Arrow task — absence must never
                    # be ambiguous with "no equations" for downstream
                    # anti-joins
                    out["doc_id"].append(doc_id)
                    out["eq_no"].append(-1)
                    out["latex"].append(None)
                    continue
                # Element.iter(tag) yields the element itself when it
                # matches, so a bare <m:oMath> root needs no special
                # case
                maths = list(root.iter(f"{MNS}oMath"))
                for i, m in enumerate(maths):
                    out["doc_id"].append(doc_id)
                    out["eq_no"].append(i)
                    out["latex"].append(omml_to_latex(m))
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=OMML_DDL)
