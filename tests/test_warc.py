"""WARC container parsing (parsers/warc_parser.py) + the Spark
record/CDX operators (operators/warc.py).

Framing cases from the ISO 28500 spec plus the corruptions a real
crawl shard exhibits; the Spark round-trip drives the same synthesis
the warc_records registry query uses."""

import pytest

from docling_spark.parsers.warc_parser import parse_warc


def _record(warc_type: str, payload: bytes, *, uri: str = "",
            ctype: str = "application/warc-fields",
            version: bytes = b"WARC/1.0") -> bytes:
    head = version + b"\r\nWARC-Type: " + warc_type.encode()
    if uri:
        head += b"\r\nWARC-Target-URI: " + uri.encode()
    head += (b"\r\nContent-Type: " + ctype.encode()
             + b"\r\nContent-Length: " + str(len(payload)).encode())
    return head + b"\r\n\r\n" + payload + b"\r\n\r\n"


HTTP_OK = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"


def test_multi_record_blob():
    blob = (_record("warcinfo", b"software: x\r\n")
            + _record("request", b"GET / HTTP/1.1\r\n\r\n",
                      uri="http://a.example/",
                      ctype="application/http; msgtype=request")
            + _record("response", HTTP_OK + b"<html>hi</html>",
                      uri="http://a.example/",
                      ctype="application/http; msgtype=response"))
    recs = parse_warc(blob)
    assert [r["warc_type"] for r in recs] == [
        "warcinfo", "request", "response"]
    assert all(r["error"] is None for r in recs)
    resp = recs[2]
    assert resp["http_status"] == 200
    assert resp["http_content_type"] == "text/html"
    assert resp["body"] == b"<html>hi</html>"
    assert resp["content_length"] == len(HTTP_OK) + len(b"<html>hi</html>")
    # non-response records expose no HTTP fields
    assert recs[0]["http_status"] is None and recs[0]["body"] == b""


def test_headers_case_insensitive_and_warc_11():
    blob = (b"WARC/1.1\r\nwarc-type: response\r\n"
            b"CONTENT-TYPE: application/http;msgtype=response\r\n"
            b"content-length: " + str(len(HTTP_OK) + 2).encode()
            + b"\r\n\r\n" + HTTP_OK + b"ok\r\n\r\n")
    (rec,) = parse_warc(blob)
    assert rec["warc_type"] == "response"
    assert rec["http_status"] == 200 and rec["body"] == b"ok"


def test_missing_final_separator_at_eof():
    blob = _record("warcinfo", b"a: b\r\n")
    (rec,) = parse_warc(blob[:-4])          # truncate the separator
    assert rec["warc_type"] == "warcinfo" and rec["error"] is None


def test_content_length_overrun_yields_error_record():
    blob = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"Content-Length: 9999\r\n\r\nshort")
    (rec,) = parse_warc(blob)
    assert rec["warc_type"] == "error"
    assert "overrun" in rec["error"]


def test_good_records_survive_corrupt_tail():
    blob = _record("warcinfo", b"x\r\n") + b"GARBAGE NOT WARC\r\n\r\n"
    recs = parse_warc(blob)
    assert [r["warc_type"] for r in recs] == ["warcinfo", "error"]
    assert "version line" in recs[1]["error"]


@pytest.mark.parametrize("blob,msg", [
    (b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nx", "Content-Length"),
    (b"WARC/1.0\r\nContent-Length: nan\r\n\r\n", "Content-Length"),
    (b"WARC/1.0\r\nno colon here\r\n\r\n", "no colon"),
    (b"WARC/1.0\r\nContent-Length: 2", "unterminated"),
])
def test_malformed_headers(blob, msg):
    recs = parse_warc(blob)
    assert recs[-1]["warc_type"] == "error" and msg in recs[-1]["error"]


def test_lf_only_http_head_tolerated():
    payload = b"HTTP/1.1 404 Not Found\nContent-Type: text/plain\n\ngone"
    blob = _record("response", payload,
                   ctype="application/http; msgtype=response")
    (rec,) = parse_warc(blob)
    assert rec["http_status"] == 404
    assert rec["http_content_type"] == "text/plain"
    assert rec["body"] == b"gone"


def test_non_http_response_payload_kept_whole():
    blob = _record("response", b"not an http message",
                   ctype="application/http; msgtype=response")
    (rec,) = parse_warc(blob)
    assert rec["http_status"] is None
    assert rec["body"] == b"not an http message"


def test_empty_blob():
    assert parse_warc(b"") == []
    assert parse_warc(b"\r\n\r\n") == []


def test_spark_roundtrip_and_cdx(spark):
    from pyspark.sql import functions as F

    from docling_spark.operators.warc import cdx_index, warc_records
    from docling_spark.sources.warcsynth import corpus_warc

    recs = warc_records(corpus_warc(spark, "/root/testdata/sf0.001"))
    recs.cache()
    n_docs = recs.select("doc_id").distinct().count()
    by_type = dict(recs.groupBy("warc_type").count().collect())
    assert by_type == {"warcinfo": n_docs, "request": n_docs,
                       "response": n_docs}
    assert recs.filter(F.col("error") != "").count() == 0
    # response body round-trips the synthesized HTML exactly
    row = (recs.filter((F.col("doc_id") == "0")
                       & (F.col("warc_type") == "response"))
           .collect()[0])
    assert row.body_text.startswith("<html><body><p>")
    assert row.http_status == 200
    assert row.target_uri.endswith("/doc/0")

    cdx = cdx_index(recs)
    crow = cdx.filter(F.col("url") == row.target_uri).collect()[0]
    assert crow.urlkey.startswith("example,src")
    assert crow.urlkey.endswith(")/doc/0")
    assert crow.ts == "20260101000000"
    assert crow.status == 200 and crow.mime == "text/html"
    assert len(crow.digest) == 64
    assert crow.length == row.content_length
    recs.unpersist()


def _rec(warc_type, payload, ctype, uri=None):
    h = (f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
         f"WARC-Record-ID: <urn:x:1>\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n")
    if uri:
        h += f"WARC-Target-URI: {uri}\r\n"
    h += f"Content-Type: {ctype}\r\nContent-Length: {len(payload)}\r\n\r\n"
    return h.encode() + payload + b"\r\n\r\n"


def test_parse_warc_conversion_and_metadata_bodies():
    from docling_spark.parsers.warc_parser import parse_warc
    blob = (_rec("conversion", b"plain text here", "text/plain",
                 "http://a.com/x")
            + _rec("metadata", b'{"Envelope":{}}', "application/json",
                   "http://a.com/x")
            + _rec("request", b"GET / HTTP/1.1\r\n\r\n",
                   "application/http; msgtype=request", "http://a.com/x"))
    recs = parse_warc(blob)
    assert [r["warc_type"] for r in recs] == ["conversion", "metadata",
                                              "request"]
    assert recs[0]["body"] == b"plain text here"
    assert recs[0]["http_content_type"] == "text/plain"
    assert recs[1]["body"] == b'{"Envelope":{}}'
    assert recs[2]["body"] == b""        # requests keep the old contract


def test_wet_wat_operators(spark):
    from docling_spark.operators.warc import (warc_records,
                                              wat_metadata,
                                              wet_text_records)
    from docling_spark.sources.warcsynth import corpus_wat, corpus_wet
    import os
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        import pytest
        pytest.skip("testdata missing")
    wet = wet_text_records(warc_records(corpus_wet(spark, sf)))
    row = wet.orderBy("doc_id").first()
    assert row["n_chars"] == len(row["text"]) and row["text"]
    wat = wat_metadata(warc_records(corpus_wat(spark, sf)))
    w = wat.orderBy("doc_id").first()
    assert w["title"].startswith("Doc ") and w["n_links"] == 1


def test_parse_warc_revisit_headers():
    from docling_spark.parsers.warc_parser import parse_warc
    blob = (b"WARC/1.0\r\n"
            b"WARC-Type: revisit\r\n"
            b"WARC-Record-ID: <urn:x:9>\r\n"
            b"WARC-Refers-To: <urn:x:1>\r\n"
            b"WARC-Profile: http://netpreserve.org/warc/1.0/revisit/"
            b"identical-payload-digest\r\n"
            b"WARC-Payload-Digest: sha256:abc\r\n"
            b"Content-Type: application/http\r\n"
            b"Content-Length: 0\r\n\r\n\r\n\r\n")
    recs = parse_warc(blob)
    assert len(recs) == 1
    r = recs[0]
    assert r["warc_type"] == "revisit"
    assert r["refers_to"] == "<urn:x:1>"
    assert r["profile"].endswith("identical-payload-digest")
    assert r["payload_digest"] == "sha256:abc"
    # non-revisit records default the linkage headers to ''
    assert parse_warc(
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"Content-Length: 0\r\n\r\n\r\n\r\n")[0]["refers_to"] == ""


def test_warc_revisit_dedup_mismatch_and_dangling(spark):
    import hashlib

    from docling_spark.operators.warc import warc_revisit_dedup
    body = "<html>x</html>"
    good = "sha256:" + hashlib.sha256(body.encode()).hexdigest()
    rows = [
        # referenced response
        ("d1", "response", "<urn:1>", "u1", 200, body, "", "", ""),
        # revisit with the correct digest
        ("d2", "revisit", "<urn:2>", "u1", -1, "", "<urn:1>", "p", good),
        # revisit with a wrong digest
        ("d3", "revisit", "<urn:3>", "u1", -1, "", "<urn:1>", "p",
         "sha256:dead"),
        # revisit pointing at a record that does not exist
        ("d4", "revisit", "<urn:4>", "u1", -1, "", "<urn:404>", "p",
         good),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, warc_type string, record_id string, "
              "target_uri string, http_status int, body_text string, "
              "refers_to string, profile string, payload_digest string")
    out = {r.doc_id: r for r in warc_revisit_dedup(df).collect()}
    assert set(out) == {"d2", "d3", "d4"}
    assert out["d2"].digest_match == 1
    assert out["d3"].digest_match == 0
    assert out["d4"].digest_match == 0   # dangling pointer != match
