"""Main-content extraction operator — DOM boilerplate stripping over
the interleaved corpus (parsers/boilerplate.py: text-density +
link-density block classification).

Plan shape: the html payload is assembled doc-locally in Catalyst
(filter + transform + array_join over the spans array — no explode, no
shuffle), the classifier runs as ONE Arrow-batched ``mapInPandas``
stage, and every output column is exact-integer so the DuckDB oracle
can replay templated pages. At 100 TB this is scan → narrow Arrow
stage → sink: embarrassingly parallel, skew handled by the same
doc_id-hash repartition knob as extraction.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAIN_OUT_DDL = ("doc_id string, text string, n_kept int, n_dropped int, "
                "doc_link_density_e4 long")


def _main_content_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..parsers.boilerplate import strip_boilerplate
    for pdf in batches:
        out = {"doc_id": [], "text": [], "n_kept": [],
               "n_dropped": [], "doc_link_density_e4": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                r = strip_boilerplate(payload or "")
            except Exception:  # malformed page -> empty main content
                r = {"text": "", "n_kept": 0, "n_dropped": 0,
                     "doc_link_density_e4": 0}
            out["doc_id"].append(doc_id)
            out["text"].append(r["text"])
            out["n_kept"].append(r["n_kept"])
            out["n_dropped"].append(r["n_dropped"])
            out["doc_link_density_e4"].append(r["doc_link_density_e4"])
        yield pd.DataFrame(out)


def extract_main_content(corpus: DataFrame, *,
                         num_partitions: Optional[int] = None) -> DataFrame:
    """(doc_id, spans) → (doc_id, text, n_kept, n_dropped,
    doc_link_density_e4): the page's main content with chrome /
    link-farm / tag-soup blocks stripped.

    The html payload is joined from the spans array doc-locally (pure
    Catalyst, offset order is the array order by the corpus contract);
    docs with no html span are filtered BEFORE the Python stage."""
    html_parts = F.filter("spans", lambda s: s["kind"] == F.lit("html"))
    payload = F.array_join(
        F.transform(html_parts, lambda s: s["text"]), "")
    docs = (corpus
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    payload.alias("payload"))
            .filter(F.length("payload") > 0))
    if num_partitions:
        docs = docs.repartition(num_partitions, "doc_id")
    return docs.mapInPandas(_main_content_batches, schema=MAIN_OUT_DDL)
