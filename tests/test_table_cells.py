"""Distributed TableItem.export_to_dataframe parity
(operators/tables.py:table_cells)."""


def _extracted(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")


def test_cells_and_table_ordinals(spark):
    from docling_spark.operators.tables import table_cells
    g1 = "2x2\na\tb\nc\td\nH:1\t0"
    g2 = "1x3\nx\ty\tz\nH:0\t0\t0"
    out = table_cells(_extracted(spark, [
        ("d1", [("title", "T", "", 0),
                ("table", g1, "", 1),
                ("text", "p", "", 2),
                ("table", g2, "", 3)]),
        ("d2", [("text", "no tables here", "", 0)]),
    ])).collect()
    got = {(r["doc_id"], r["table_idx"], r["row_idx"], r["col_idx"]):
           (r["num_rows"], r["num_cols"], r["is_header"], r["text"])
           for r in out}
    assert len(out) == 7  # 4 + 3 cells; d2 contributes nothing
    # table 0: only column 0 of row 0 is a header (H:1 0)
    assert got[("d1", 0, 0, 0)] == (2, 2, 1, "a")
    assert got[("d1", 0, 0, 1)] == (2, 2, 0, "b")
    assert got[("d1", 0, 1, 0)] == (2, 2, 0, "c")
    assert got[("d1", 0, 1, 1)] == (2, 2, 0, "d")
    # second table span gets ordinal 1 even with non-table spans between
    assert got[("d1", 1, 0, 2)] == (1, 3, 0, "z")


def test_round_trips_through_extraction(spark):
    """Cells recovered from a real extraction run agree with the md
    backend's parsed grid (the '2x2' synthetic table)."""
    import __spark_entry__ as e
    out = e.queries()["table_cells"](spark, "/root/testdata/sf0.001")
    rows = out.filter("doc_id = '3'").collect()
    got = {(r["row_idx"], r["col_idx"]): r["text"] for r in rows}
    assert got[(0, 0)] == "k" and got[(0, 1)] == "v"
    assert got[(1, 0)] == "chars" and got[(1, 1)].isdigit()


def test_html_table_cells_nested_table_skipped(spark):
    from docling_spark.operators.tables import html_table_cells
    html = ("<html><body>"
            "<table><tr><td><table><tr><td>inner</td></tr></table>"
            "</td></tr></table>"               # nested → outer skipped
            "<table><tr><td>solo</td></tr></table>"
            "</body></html>")
    df = spark.createDataFrame(
        [("d", [{"kind": "html", "text": html, "media_ref": "",
                 "offset": 0}])],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>")
    rows = html_table_cells(df).collect()
    # the nested-outer table is skipped like the reference
    # (html_backend.py:376-379); the INNER standalone grid and the
    # second table still parse
    texts = sorted(r["text"] for r in rows)
    assert texts == ["inner", "solo"]
    assert all(r["num_rows"] == 1 and r["num_cols"] == 1 for r in rows)


def _tcell(l, t, r, b, text):
    return (float(l), float(t), float(r), float(b), text)


def _struct_src(spark, rows):
    cell_t = ("array<struct<l double, t double, r double, b double, "
              "text string>>")
    return spark.createDataFrame(rows, f"doc_id string, cells {cell_t}")


def test_pdf_table_structure_operator(spark):
    from docling_spark.operators.tables import pdf_table_structure
    rows = [("d", [_tcell(0, 0, 100, 10, "H"),
                   _tcell(0, 20, 30, 30, "a"),
                   _tcell(35, 20, 65, 30, "b")])]
    out = pdf_table_structure(_struct_src(spark, rows)).collect()
    got = {(r["start_row"], r["start_col"]):
           (r["row_span"], r["col_span"], r["column_header"], r["text"])
           for r in out}
    assert got[(0, 0)] == (1, 2, 1, "H")
    assert got[(1, 0)] == (1, 1, 0, "a")
    assert got[(1, 1)] == (1, 1, 0, "b")
    assert all(r["num_rows"] == 2 and r["num_cols"] == 2 for r in out)
