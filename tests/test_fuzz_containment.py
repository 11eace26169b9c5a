"""Property-based containment tests (hypothesis): no payload, however
malformed, may escape the per-document error containment — the UDF
contract that one poisoned document can never kill a 100-TB task
(mirrors the reference's raises_on_error=False path,
document_converter.py:303-326)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_spark.operators.extract import _load_parsers, _parse_doc

PARSERS = _load_parsers()
KINDS = sorted(PARSERS)

payloads = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400)


@settings(max_examples=60, deadline=None)
@given(kind=st.sampled_from(KINDS), payload=payloads)
def test_parse_doc_never_raises(kind, payload):
    spans, status, errors, _rendered = _parse_doc(
        kind, [payload], [], PARSERS)
    assert status in ("success", "failure", "skipped")
    if status != "success":
        assert spans == []
    for s in spans:
        assert set(s) == {"kind", "text", "media_ref", "offset"}
    assert [s["offset"] for s in spans] == list(range(len(spans)))


@settings(max_examples=40, deadline=None)
@given(payload=payloads)
def test_pdf_page_payloads_contained(payload):
    spans, status, errors, _rendered = _parse_doc(
        "pdf_page", [payload], [], PARSERS)
    assert status in ("success", "failure", "skipped")


@settings(max_examples=40, deadline=None)
@given(payload=st.binary(max_size=300).map(
    lambda b: __import__("base64").b64encode(b).decode()))
def test_binary_container_payloads_contained(payload):
    # docx/xlsx/pptx take base64 zip containers; arbitrary bytes must
    # fail cleanly, never crash
    for kind in ("docx", "xlsx", "pptx"):
        spans, status, errors, _rendered = _parse_doc(
            kind, [payload], [], PARSERS)
        assert status in ("success", "failure", "skipped")
        if status == "failure":
            assert errors and errors[0]["component"] == "extract"


@settings(max_examples=60, deadline=None)
@given(payload=payloads)
def test_boilerplate_strip_invariants(payload):
    # the stripper runs under the operator's per-doc try/except, but
    # stdlib html.parser accepts anything — the stripper itself should
    # hold its invariants on arbitrary input, tags or not
    from docling_spark.parsers.boilerplate import strip_boilerplate
    out = strip_boilerplate(payload)
    assert out["n_kept"] >= 0 and out["n_dropped"] >= 0
    assert 0 <= out["doc_link_density_e4"] <= 10000
    assert isinstance(out["text"], str)
    if out["n_kept"] == 0:
        assert out["text"] == ""


@settings(max_examples=60, deadline=None)
@given(payload=payloads)
def test_embed_hash_token_math_contained(payload):
    # driver-side replica of the embed UDF inner loop: any text maps
    # to a unit (or zero) vector with finite components
    import math

    from docling_spark.operators.vectorize import _token_bucket_sign
    v = [0.0] * 16
    for tok in " ".join(payload.split()).lower().split(" "):
        if not tok:
            continue
        b, s = _token_bucket_sign(tok, 16)
        assert 0 <= b < 16 and s in (1.0, -1.0)
        v[b] += s
    n = math.sqrt(sum(x * x for x in v))
    assert all(math.isfinite(x) for x in v)
    assert n >= 0.0
