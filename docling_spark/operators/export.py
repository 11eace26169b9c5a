"""Export sinks — span table → rendered document strings
(SURVEY.md §2.5: the reference's export_to_markdown / export_to_text
docling-core serializers, invoked at cli/main.py:126-164).

Both renderers are PURE CATALYST (transform + concat/array_join over
the spans array): rendering 10^12 documents is a scan-speed projection
with zero Python. The markdown dialect is this engine's canonical
serialization (documented below), not a byte-clone of docling-core's
serializer — docling-core is an external dependency the reference
delegates to; the rule set here is fixed so the DuckDB oracle can
replay it:

    title          →  "# " + text
    section_header →  "## " + text
    list_item      →  "- " + text
    code           →  "```\\n" + text + "\\n```"
    picture        →  "<!-- image -->"
    table          →  canonical grid text (doctree.serialize_table)
    formula        →  "$$" + text + "$$"
    caption/other  →  text
    blocks joined with "\\n\\n"
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _render_span_md(s: Column) -> Column:
    kind = s["kind"]
    text = s["text"]
    return (
        F.when(kind == "title", F.concat(F.lit("# "), text))
        .when(kind == "section_header", F.concat(F.lit("## "), text))
        .when(kind == "list_item", F.concat(F.lit("- "), text))
        .when(kind == "code",
              F.concat(F.lit("```\n"), text, F.lit("\n```")))
        .when(kind == "picture", F.lit("<!-- image -->"))
        .when(kind == "formula", F.concat(F.lit("$$"), text, F.lit("$$")))
        .otherwise(text))


def markdown_col(spans: Column) -> Column:
    """Ordered spans array → one markdown string."""
    return F.array_join(F.transform(spans, _render_span_md), "\n\n")


def text_col(spans: Column) -> Column:
    """Plain-text export: body texts joined by newlines, media and
    tables skipped (the reference's export_to_text semantics)."""
    texts = F.filter(
        spans, lambda s: ~s["kind"].isin("picture", "table"))
    return F.array_join(
        F.transform(texts, lambda s: s["text"]), "\n")


_DOCTAG_BY_KIND = {
    "title": "title",
    "section_header": "section_header_level_1",
    "list_item": "list_item",
    "code": "code",
    "formula": "formula",
    "caption": "caption",
    "footnote": "footnote",
    "page_header": "page_header",
    "page_footer": "page_footer",
    "picture": "picture",
    "table": "otsl",
}


def _render_span_doctags(s: Column) -> Column:
    kind = s["kind"]
    expr = None
    for k, tag in _DOCTAG_BY_KIND.items():
        branch = F.concat(F.lit(f"<{tag}>"), s["text"], F.lit(f"</{tag}>"))
        expr = (F.when(kind == k, branch) if expr is None
                else expr.when(kind == k, branch))
    return expr.otherwise(
        F.concat(F.lit("<text>"), s["text"], F.lit("</text>")))


def doctags_col(spans: Column) -> Column:
    """Ordered spans array → one DocTags string.

    The tag vocabulary mirrors the reference's DocTags export
    (groundtruth ``*.doctags.txt``; docling-core serializer invoked at
    cli/main.py:126-164): ``<doctag>`` wrapper, one ``<tag>text</tag>``
    line per item, ``section_header`` → ``section_header_level_1``,
    tables as ``<otsl>`` islands. Differences (documented dialect): no
    ``<loc_*>`` tokens — our spans carry no page geometry — and table
    bodies are the engine's canonical grid text, not OTSL cell tokens."""
    body = F.array_join(F.transform(spans, _render_span_doctags), "\n")
    return F.concat(F.lit("<doctag>"), body, F.lit("</doctag>"))


def html_escape_col(text: Column) -> Column:
    """Minimal deterministic HTML escaping (&, <, >) — replayable in
    ANSI SQL with the same replace chain."""
    return F.replace(
        F.replace(
            F.replace(text, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"))


def _render_span_html(s: Column) -> Column:
    kind = s["kind"]
    text = html_escape_col(s["text"])
    return (
        F.when(kind == "title", F.concat(F.lit("<h1>"), text, F.lit("</h1>")))
        .when(kind == "section_header",
              F.concat(F.lit("<h2>"), text, F.lit("</h2>")))
        .when(kind == "list_item",
              F.concat(F.lit("<li>"), text, F.lit("</li>")))
        .when(kind == "code",
              F.concat(F.lit("<pre><code>"), text, F.lit("</code></pre>")))
        .when(kind == "caption",
              F.concat(F.lit("<figcaption>"), text, F.lit("</figcaption>")))
        .when(kind == "picture", F.lit("<figure></figure>"))
        .when(kind == "formula",
              F.concat(F.lit('<div class="formula">'), text,
                       F.lit("</div>")))
        .when(kind == "table",
              F.concat(F.lit('<pre class="table">'), text, F.lit("</pre>")))
        .otherwise(F.concat(F.lit("<p>"), text, F.lit("</p>"))))


def html_col(spans: Column) -> Column:
    """Ordered spans array → one standalone HTML document string (the
    reference's export_to_html sink, cli/main.py:126-164). Fixed
    dialect: h1/h2 headings, li items, pre/code blocks, figure
    placeholders, canonical grid text in a pre block."""
    body = F.array_join(F.transform(spans, _render_span_html), "\n")
    return F.concat(F.lit("<!DOCTYPE html>\n<html><body>\n"), body,
                    F.lit("\n</body></html>"))


def export_markdown(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "doc_id", markdown_col(F.col("spans")).alias("markdown"))


def export_doctags(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "doc_id", doctags_col(F.col("spans")).alias("doctags"))


def export_html(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "doc_id", html_col(F.col("spans")).alias("html"))


def export_text(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "doc_id", text_col(F.col("spans")).alias("text"))


def export_doctags_docling(corpus: DataFrame) -> DataFrame:
    """(doc_id, spans) with a serialized-DoclingDocument JSON payload →
    (doc_id, doctags) in the reference's FULL DocTags dialect —
    loc tokens (0-500 page grid, one quad per prov entry), OTSL table
    cell streams, nested captions, page breaks (doctags_dialect.py,
    byte-parity with all 11 reference ``*.doctags.txt`` goldens).

    One Arrow-batched stage, doc-local — at 100 TB this is a rendering
    map with zero shuffle. The pure-Catalyst ``export_doctags`` above
    stays the cheap path for span tables without provenance."""
    import json as _json

    import pandas as _pd

    def _render(batches):
        from docling_spark.doctags_dialect import render_doctags_docling
        for pdf in batches:
            out_ids, out_tags = [], []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                payload = spans[0]["text"] if len(spans) else "{}"
                try:
                    tags = render_doctags_docling(_json.loads(payload))
                except Exception as exc:  # malformed json → error tag
                    tags = f"<doctag><error>{exc}</error></doctag>"
                out_ids.append(doc_id)
                out_tags.append(tags)
            yield _pd.DataFrame({"doc_id": out_ids, "doctags": out_tags})

    return corpus.mapInPandas(_render, schema="doc_id string, doctags string")


# ---------------------------------------------------------------------------
# DoclingDocument JSON export (the reference's primary serialization,
# groundtruth *.json; docling-core DoclingDocument shape v1.3.0)


def _table_data_col(text: Column) -> Column:
    """Canonical grid text (doctree.serialize_table: "RxC" line, tab
    rows, trailing "H:" flags) → docling-core TableData struct
    (num_rows, num_cols, table_cells with offsets + column_header).

    Known limitation: a cell whose text contains a literal tab or
    newline cannot be recovered exactly (the canonical form reuses
    those as delimiters); such cells split at the embedded delimiter.
    Re-export of the reloaded document is a fixed point
    (tests/test_export_json.py)."""
    lines = F.split(text, "\n")
    dims = F.split(F.element_at(lines, 1), "x")
    nr = F.element_at(dims, 1).cast("int")
    nc = F.element_at(dims, 2).cast("int")
    rows = F.slice(lines, 2, F.greatest(F.size(lines) - 2, F.lit(0)))
    flags = F.split(F.substring(F.element_at(lines, -1), 3, 1_000_000),
                    "\t")
    cells = F.flatten(F.transform(rows, lambda row, r: F.transform(
        F.split(row, "\t"), lambda c, j: F.struct(
            r.alias("start_row_offset_idx"),
            j.alias("start_col_offset_idx"),
            (r + 1).alias("end_row_offset_idx"),
            (j + 1).alias("end_col_offset_idx"),
            c.alias("text"),
            ((r == 0) & (F.element_at(flags, j + 1) == "1"))
            .alias("column_header")))))
    return F.struct(cells.alias("table_cells"), nr.alias("num_rows"),
                    nc.alias("num_cols"))


def _ref(prefix: str, idx: Column) -> Column:
    return F.struct(
        F.concat(F.lit(prefix), idx.cast("string")).alias("$ref"))


def docling_json_col(doc_id: Column, spans: Column) -> Column:
    """Ordered spans array → one DoclingDocument JSON string loadable
    by docling-core's ``DoclingDocument.model_validate_json`` (shape of
    the reference groundtruth ``*.json``, schema v1.3.0): body children
    in span order, per-category items under texts/pictures/tables,
    canonical grid text re-expanded into real TableData cells. Pure
    Catalyst (``to_json``) — zero Python at render time."""
    is_table = lambda s: s["kind"] == "table"        # noqa: E731
    is_pic = lambda s: s["kind"] == "picture"        # noqa: E731
    is_text = lambda s: ~s["kind"].isin("table", "picture")  # noqa: E731

    def prior(i, pred):  # per-category index = same-kind spans before i
        return F.size(F.filter(F.slice(spans, 1, i), pred))

    children = F.transform(spans, lambda s, i: F.when(
        is_table(s), _ref("#/tables/", prior(i, is_table))).when(
        is_pic(s), _ref("#/pictures/", prior(i, is_pic))).otherwise(
        _ref("#/texts/", prior(i, is_text))))

    root = lambda name: F.struct(                    # noqa: E731
        F.lit(f"#/{name}").alias("self_ref"),
        (children if name == "body"
         else F.array().cast("array<struct<`$ref`:string>>"))
        .alias("children"),
        F.lit("furniture" if name == "furniture" else "body")
        .alias("content_layer"),
        F.lit("_root_").alias("name"),
        F.lit("unspecified").alias("label"))

    texts = F.transform(
        F.filter(spans, is_text), lambda s, i: F.struct(
            F.concat(F.lit("#/texts/"), i.cast("string"))
            .alias("self_ref"),
            F.struct(F.lit("#/body").alias("$ref")).alias("parent"),
            F.lit("body").alias("content_layer"),
            s["kind"].alias("label"),
            s["text"].alias("orig"),
            s["text"].alias("text")))
    pictures = F.transform(
        F.filter(spans, is_pic), lambda s, i: F.struct(
            F.concat(F.lit("#/pictures/"), i.cast("string"))
            .alias("self_ref"),
            F.struct(F.lit("#/body").alias("$ref")).alias("parent"),
            F.lit("body").alias("content_layer"),
            F.lit("picture").alias("label")))
    tables = F.transform(
        F.filter(spans, is_table), lambda s, i: F.struct(
            F.concat(F.lit("#/tables/"), i.cast("string"))
            .alias("self_ref"),
            F.struct(F.lit("#/body").alias("$ref")).alias("parent"),
            F.lit("body").alias("content_layer"),
            F.lit("table").alias("label"),
            _table_data_col(s["text"]).alias("data")))

    doc = F.struct(
        F.lit("DoclingDocument").alias("schema_name"),
        F.lit("1.3.0").alias("version"),
        doc_id.cast("string").alias("name"),
        root("furniture").alias("furniture"),
        root("body").alias("body"),
        F.array().cast(
            "array<struct<self_ref:string>>").alias("groups"),
        texts.alias("texts"),
        pictures.alias("pictures"),
        tables.alias("tables"))
    return F.to_json(doc)


def export_docling_json(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "doc_id",
        docling_json_col(F.col("doc_id"), F.col("spans")).alias("doc_json"))
