"""From-scratch WARC (Web ARChive, ISO 28500) record parser.

The on-disk format of a web crawl (Common Crawl publishes ~100 TB of
WARC per monthly snapshot) and therefore the first format a web-scale
training-data pipeline has to ingest. The reference engine stops at
document formats (HTML/PDF/...); this module supplies the container
layer above them so raw crawl bytes can flow straight into the
extraction operators.

Implements the ISO 28500 framing from the public spec only:

* a record = version line ``WARC/1.x``, CRLF-delimited named headers,
  an empty line, exactly ``Content-Length`` octets of payload, and a
  two-CRLF record separator;
* header names are case-insensitive (spec §4.1); values are trimmed;
* ``application/http; msgtype=response`` payloads additionally carry
  an HTTP/1.1 message whose status line + headers are split from the
  entity body at the first blank line (RFC 9112 framing).

Parsing is forgiving at the edges a real crawl exhibits: a missing
final record separator at EOF is accepted, stray leading CRLFs are
skipped, and any framing violation terminates the blob with a single
synthetic ``error`` record rather than an exception — a 100 TB scan
must never die on one corrupt container.

Pure stdlib; no network, no external WARC library.
"""

from __future__ import annotations

from typing import Dict, List

CRLF = b"\r\n"


def _parse_http_response(payload: bytes):
    """HTTP/1.1 response bytes -> (status:int, content_type:str, body).

    Returns (None, "", payload) when the payload is not an HTTP
    response message (missing status line / malformed head)."""
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        # LF-only HTTP heads occur in old crawls; tolerate them
        head, sep, body = payload.partition(b"\n\n")
        if not sep:
            return None, "", payload
    lines = head.replace(b"\r\n", b"\n").split(b"\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].upper().startswith(b"HTTP/"):
        return None, "", payload
    try:
        status = int(parts[1])
    except ValueError:
        return None, "", payload
    ctype = ""
    for ln in lines[1:]:
        name, colon, value = ln.partition(b":")
        if colon and name.strip().lower() == b"content-type":
            ctype = value.strip().decode("latin-1")
            break
    return status, ctype, body


def parse_warc(data: bytes) -> List[Dict]:
    """WARC blob -> list of record dicts, in container order.

    Each dict carries: ``warc_type``, ``record_id``, ``target_uri``,
    ``date``, ``content_length`` (declared octets), ``http_status`` /
    ``http_content_type`` / ``body`` (response records only; ``body``
    is the HTTP entity body as bytes, b"" otherwise), the revisit
    linkage headers ``refers_to`` (WARC-Refers-To), ``profile``
    (WARC-Profile) and ``payload_digest`` (WARC-Payload-Digest) —
    '' when absent (ISO 28500 §6.7: revisit records point at the
    capture they duplicate), and ``error`` (None, or a message for
    the synthetic terminal error record)."""
    out: List[Dict] = []
    pos, n = 0, len(data)

    def err(msg: str) -> None:
        out.append({"warc_type": "error", "record_id": "",
                    "target_uri": "", "date": "", "content_length": -1,
                    "http_status": None, "http_content_type": "",
                    "refers_to": "", "profile": "",
                    "payload_digest": "", "body": b"", "error": msg})

    while pos < n:
        while data.startswith(CRLF, pos):      # stray separators
            pos += 2
        if pos >= n:
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            err("unterminated record header block")
            break
        head = data[pos:head_end]
        lines = head.split(CRLF)
        if not lines[0].startswith(b"WARC/"):
            err("missing WARC/ version line")
            break
        headers: Dict[str, str] = {}
        bad = False
        for ln in lines[1:]:
            name, colon, value = ln.partition(b":")
            if not colon:
                err("malformed header line (no colon)")
                bad = True
                break
            headers[name.strip().lower().decode("latin-1")] = (
                value.strip().decode("latin-1"))
        if bad:
            break
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            err("missing or non-numeric Content-Length")
            break
        if clen < 0 or head_end + 4 + clen > n:
            err("declared Content-Length overruns the blob")
            break
        payload = data[head_end + 4:head_end + 4 + clen]
        pos = head_end + 4 + clen
        # spec: record separator = two CRLFs; accept truncation at EOF
        for _ in range(2):
            if data.startswith(CRLF, pos):
                pos += 2

        rec = {"warc_type": headers.get("warc-type", ""),
               "record_id": headers.get("warc-record-id", ""),
               "target_uri": headers.get("warc-target-uri", ""),
               "date": headers.get("warc-date", ""),
               "content_length": clen,
               "http_status": None, "http_content_type": "",
               "refers_to": headers.get("warc-refers-to", ""),
               "profile": headers.get("warc-profile", ""),
               "payload_digest": headers.get("warc-payload-digest", ""),
               "body": b"", "error": None}
        ctype = headers.get("content-type", "")
        if "msgtype=response" in ctype.replace(" ", ""):
            status, http_ct, body = _parse_http_response(payload)
            rec["http_status"] = status
            rec["http_content_type"] = http_ct
            rec["body"] = body
        elif rec["warc_type"] in ("conversion", "resource", "metadata"):
            # these record types carry their content directly (ISO
            # 28500 §6.8/6.5/6.9) — WET text and WAT JSON envelopes
            # live here, not inside an HTTP message
            rec["http_content_type"] = ctype
            rec["body"] = payload
        out.append(rec)
    return out
