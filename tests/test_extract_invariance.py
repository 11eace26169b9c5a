"""``extract_routed`` rows do not depend on how Spark ran them.

One corpus covers every route: html/md/csv and the ``minidocs``
docx/xlsx/pptx payloads (doc path), multi-page ``pdfsynth`` raw PDFs,
multi-page ``pdf_page`` docs with shuffled page offsets and one bad
page (page-parallel path), image-only docs with shuffled offsets and a
NULL-kind doc. Every setting below must give the rows of the default
run, every column compared except ``wall_us``: Arrow batch sizes, input
order and partitioning, the page repartition width, the shuffle width
and AQE. Page reassembly and span ordering must come from offsets,
never from the order in which rows happen to arrive."""

import base64
from contextlib import contextmanager

import pytest

from docling_spark.operators.extract import extract_routed, route_counts
from docling_spark.parsers.pdf_page import encode_page
from docling_spark.schema import INPUT_SCHEMA
from docling_spark.sources.minidocs import payload_variants
from docling_spark.sources.pdfsynth import synth_pdf_pages


def _corpus_rows():
    rows = []
    for v in range(2):
        rows += [
            (f"html{v}", [("html", f"<html><body><h1>T{v}</h1>"
                           f'<img src="a"/><p>body {v}</p>'
                           "<ul><li>one</li><li>two</li></ul>"
                           "</body></html>", "", 1),
                          ("media", "", f"media://h{v}", 0)]),
            (f"md{v}", [("md", "text\n", "", 1),
                        ("md", f"# Title {v}\n\n", "", 0)]),
            (f"csv{v}", [("csv", f"a,b\n{v},x\n{v + 1},y\n", "", 0)]),
        ]
    for kind in ("docx", "xlsx", "pptx"):
        for v, payload in enumerate(payload_variants(kind)[:2]):
            rows.append((f"{kind}{v}", [(kind, payload, "", 0)]))
    for v in range(3):
        pdf = synth_pdf_pages([[f"doc {v} page {p} line {i}"
                                for i in range(3)] for p in range(4 + v)])
        rows.append((f"raw{v}", [
            ("pdf_raw", base64.b64encode(pdf).decode("ascii"), "", 0)]))
    for v in range(3):
        pages = [encode_page(p, 612.0, 792.0, [
            (0, f"doc {v} heading {p}", 50, 100, 400, 112),
            (1, f"doc {v} words on page {p}", 50, 130, 400, 142)])
            for p in range(5)]
        order = [3, 0, 4, 1, 2]
        spans = [("pdf_page", pages[p], "", p) for p in order]
        if v == 0:
            spans.insert(2, ("pdf_page", "not json", "", 5))
        rows.append((f"paged{v}", spans))
    for v in range(2):
        rows.append((f"image{v}", [("image", "", f"img://{v}/c", 2),
                                   ("image", "", f"img://{v}/a", 0),
                                   ("image", "", f"img://{v}/b", 1)]))
    rows.append(("md_tie", [("md", "# Tied\n\n", "", 0),
                            ("md", "offsets tie\n", "", 0)]))
    rows.append(("null_kind", [(None, "orphan text", "", 0)]))
    return rows


def _rows(df):
    out = {}
    for r in df.collect():
        row = r.asDict(recursive=True)
        row.pop("wall_us")
        out[row["doc_id"]] = row
    return out


@contextmanager
def _confs(spark, confs):
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _corpus_rows()
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    return rows, route_counts(df), _rows(extract_routed(df))


BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
SHUFFLE = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"

SETTINGS = {
    "batch_1": ({BATCH: "1"}, None, None),
    "batch_2048": ({BATCH: "2048"}, None, None),
    "reversed_input": ({}, "reversed", None),
    "repartition_7_input": ({}, "repartition", None),
    "num_partitions_1": ({}, None, 1),
    "num_partitions_3": ({}, None, 3),
    "shuffle_partitions_1": ({SHUFFLE: "1"}, None, None),
    "shuffle_partitions_7": ({SHUFFLE: "7"}, None, None),
    "aqe_off": ({AQE: "false"}, None, None),
    "aqe_on": ({AQE: "true"}, None, None),
}


def test_corpus_takes_every_route(corpus):
    rows, routes, base = corpus
    assert routes == {"doc": 14, "paged": 3, "raw": 3, "image": 2}
    assert set(base) == {doc_id for doc_id, _ in rows}
    assert base["paged0"]["status"] == "partial_success"
    assert [s["text"] for s in base["paged1"]["spans"]] == [
        f"doc 1 heading {p} doc 1 words on page {p}" for p in range(5)]
    assert [s["media_ref"] for s in base["image0"]["spans"]] == [
        "img://0/a", "img://0/b", "img://0/c"]
    assert base["null_kind"]["status"] == "skipped"


@pytest.mark.parametrize("setting", list(SETTINGS))
def test_rows_do_not_depend_on_how_spark_ran(spark, corpus, setting):
    rows, routes, base = corpus
    confs, order, num_partitions = SETTINGS[setting]
    if order == "reversed":
        rows = rows[::-1]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    if order == "repartition":
        df = df.repartition(7)
    with _confs(spark, confs):
        got = _rows(extract_routed(df, num_partitions=num_partitions,
                                   routes=routes))
    assert got == base
