"""From-scratch page rasterizer + deterministic OCR engine.

Fills two SURVEY §2.4/§2.5 slots that were previously declared
out-of-scope because the environment ships no imaging or OCR
libraries:

* **page render** (the reference rasterizes pages via pypdfium2 for
  enrichment models and the multimodal page dump —
  `/root/reference/docling/backend/pdf_backend.py` `get_page_image`,
  `/root/reference/docling/datamodel/settings.py` `images_scale`):
  here a structured page (width/height in points + line cells) is
  rendered into a real 8-bit grayscale bitmap with numpy and encoded
  as a genuine PNG (zlib + struct + CRC32 — no imaging library), at a
  caller-chosen DPI exactly like the reference's `images_scale`.

* **OCR engine** (the reference wraps five external engines —
  easyocr/tesseract/rapidocr/onnxtr/mac —
  `/root/reference/docling/models/*ocr*.py`; all are pluggable slots
  here): a deterministic template-matching engine that recognizes the
  renderer's glyph atlas back out of the bitmap — segmentation by ink
  rows/columns, fixed-pitch glyph windows, word-gap reconstruction —
  returning line cells (text + bbox in points) in the same shape the
  OCR reconciliation path (parsers/ocr_plan.py) consumes.

HONESTY NOTE on the glyph atlas: the rasterizer's *geometry* is real
(points→pixels transform, per-character advance, line placement,
clipping) and the PNG bytes are spec-valid, but the glyph *shapes* are
a synthetic 5×7 atlas derived from md5(char) — this environment ships
no font files to rasterize. Every pattern is unique (pinned by test),
so render→OCR is an exact round trip; a production deployment would
swap the atlas for a rasterized font and a real OCR model via the
same two functions.

Scale shape: both directions are pure per-page Python driven from
Arrow-batched ``mapInPandas`` (operators/render.py) — zero shuffles;
pages are independent, so the stage scales with input splits.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Dict, List, Tuple

import numpy as np

GLYPH_W = 5          # ink columns per glyph
GLYPH_H = 7          # ink rows per glyph
ADVANCE = 6          # x pitch per character (5 ink + 1 gap)


def _glyph(ch: str) -> bytes:
    """5×7 pattern for one printable-ASCII char: 7 row bitmasks, bit 4
    = leftmost column. Row 0 always has the leftmost pixel set and row
    6 is solid — this pins every glyph's top-left corner and makes
    every glyph column inked, which is what lets the OCR segmenter
    find exact glyph windows without knowing the layout grid."""
    if ch == " ":
        return bytes(GLYPH_H)
    h = hashlib.md5(ch.encode("ascii")).digest()
    rows = [(h[0] & 0x1F) | 0x10]
    rows += [h[i] & 0x1F for i in range(1, 6)]
    rows.append(0x1F)
    return bytes(rows)


ATLAS: Dict[str, bytes] = {chr(c): _glyph(chr(c))
                           for c in range(0x20, 0x7F)}
_DECODE: Dict[bytes, str] = {v: k for k, v in ATLAS.items() if k != " "}


def _atlas_cell(ch: str) -> np.ndarray:
    """7×ADVANCE bool ink mask for one char (glyph + 1 gap column)."""
    g = ATLAS.get(ch) or ATLAS["?"]
    bits = np.frombuffer(g, dtype=np.uint8)
    cell = np.zeros((GLYPH_H, ADVANCE), dtype=bool)
    cell[:, :GLYPH_W] = (
        (bits[:, None] >> np.arange(GLYPH_W - 1, -1, -1)) & 1
    ).astype(bool)
    return cell


_ATLAS_NP: Dict[str, np.ndarray] = {chr(c): _atlas_cell(chr(c))
                                    for c in range(0x20, 0x7F)}
_SPACE_CELL = np.zeros((GLYPH_H, ADVANCE), dtype=bool)
_W5 = (1 << np.arange(GLYPH_W - 1, -1, -1)).astype(np.uint8)


# ---------------------------------------------------------------------------
# raster

def render_page(width: float, height: float, cells: List[dict],
                dpi: float = 72.0) -> Tuple[np.ndarray, int]:
    """Rasterize a structured page (the same cell dicts the paged
    pipeline consumes: text + l/t/r/b in points) into a grayscale
    array (255 = paper, 0 = ink). Returns (image, n_glyphs_drawn).
    Glyphs that would cross the page edge are clipped whole (skipped),
    deterministically."""
    scale = dpi / 72.0
    w_px = max(1, int(round(width * scale)))
    h_px = max(1, int(round(height * scale)))
    img = np.full((h_px, w_px), 255, dtype=np.uint8)
    drawn = 0
    for cell in cells:
        x = int(round(float(cell["l"]) * scale))
        y = int(round(float(cell["t"]) * scale))
        text = str(cell.get("text", ""))
        if not text or y < 0 or y + GLYPH_H > h_px:
            continue
        # chars whose glyph window fits horizontally form one
        # contiguous run (x is monotone): blit the whole run as one
        # concatenated mask instead of per-pixel Python
        n = len(text)
        xs0 = x
        i0 = 0
        while i0 < n and xs0 + i0 * ADVANCE < 0:
            i0 += 1
        i1 = n
        while i1 > i0 and xs0 + (i1 - 1) * ADVANCE + GLYPH_W > w_px:
            i1 -= 1
        if i1 <= i0:
            continue
        run = text[i0:i1]
        mask = np.concatenate(
            [_ATLAS_NP.get(ch, _SPACE_CELL if ch == " "
                           else _ATLAS_NP["?"]) for ch in run], axis=1)
        x0 = xs0 + i0 * ADVANCE
        width = min(mask.shape[1], w_px - x0)
        region = img[y:y + GLYPH_H, x0:x0 + width]
        region[mask[:, :width]] = 0
        drawn += sum(1 for ch in run if ch != " ")
    return img, drawn


# ---------------------------------------------------------------------------
# PNG codec (spec-conformant for 8-bit grayscale, filter 0)

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def png_encode(img: np.ndarray) -> bytes:
    """8-bit grayscale numpy array → PNG bytes (color type 0, filter
    None per scanline). Valid input for any PNG reader, including the
    repo's own header parser (operators/multimodal.py)."""
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    buf = np.zeros((h, w + 1), dtype=np.uint8)  # col 0 = filter byte 0
    buf[:, 1:] = img
    raw = buf.tobytes()
    # compression level 1: page rasters are mostly paper (long 255
    # runs), where level 1 is ~3x faster than the default for a few
    # percent size — any level emits a spec-valid stream
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, 1))
            + _chunk(b"IEND", b""))


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → 8-bit grayscale array. Supports what this engine
    emits plus the two cheap filters (None/Sub/Up) so externally
    re-encoded grayscale pages still decode."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype != 0:
                raise ValueError("only 8-bit grayscale supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w + 1
    arr = np.frombuffer(raw, dtype=np.uint8)
    if arr.size == h * stride:
        mat = arr.reshape(h, stride)
        if not mat[:, 0].any():      # all scanlines filter 0 (what
            return mat[:, 1:].copy()  # this engine emits): no row loop
    img = np.empty((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.uint8)
    for r in range(h):
        line = raw[r * stride:(r + 1) * stride]
        filt, row = line[0], np.frombuffer(line[1:], dtype=np.uint8)
        if filt == 0:
            out = row.copy()
        elif filt == 2:          # Up
            out = (row.astype(np.int32) + prev) % 256
            out = out.astype(np.uint8)
        elif filt == 1:          # Sub
            out = (np.cumsum(row, dtype=np.uint64) & 0xFF) \
                .astype(np.uint8)
        else:
            raise ValueError(f"unsupported PNG filter {filt}")
        img[r] = out
        prev = img[r]
    return img


# ---------------------------------------------------------------------------
# OCR

def ocr_page(img: np.ndarray, dpi: float = 72.0) -> List[dict]:
    """Recognize rendered text back out of a grayscale bitmap.

    Layout-blind segmentation: scan for the first inked row of each
    line band (every glyph inks its top row by atlas construction),
    take a GLYPH_H-row window, then walk inked columns left→right in
    ADVANCE-pitch windows, decoding each 5×7 pattern against the
    atlas; inter-glyph gaps wider than one pad column become spaces
    (gap = 6·s + 1 → s spaces). Unknown patterns decode to '?' like
    any real engine's low-confidence char. Returns line cells
    (text, l/t/r/b in points) in reading order."""
    scale = dpi / 72.0
    ink = img < 128
    h_px, w_px = ink.shape
    row_has = ink.any(axis=1)
    cells: List[dict] = []
    r = 0
    while r < h_px:
        if not row_has[r]:
            r += 1
            continue
        band = ink[r:r + GLYPH_H]
        col_idx = np.flatnonzero(band.any(axis=0))
        starts: List[int] = []
        if band.shape[0] >= GLYPH_H:
            # glyph starts: first inked column, then repeatedly the
            # first inked column at or after prev_start + GLYPH_W —
            # the integer scan is cheap; the per-glyph numpy work
            # (window extract + bit-pack) is batched below
            ci = col_idx.tolist()
            ncols = len(ci)
            lim = w_px - GLYPH_W
            i = 0
            while i < ncols:
                x = ci[i]
                if x > lim:
                    break
                starts.append(x)
                nxt = x + GLYPH_W
                while i < ncols and ci[i] < nxt:
                    i += 1     # pointer walk: each column visited once
        if starts:
            st = np.asarray(starts)
            # (GLYPH_H, n, GLYPH_W) windows in one fancy index, then
            # pack each 5-col row to its bitmask in one tensordot —
            # identical values to the per-glyph win @ _W5
            wins = band[:, st[:, None] + np.arange(GLYPH_W)]
            codes = np.tensordot(
                wins.astype(np.uint8), _W5, axes=([2], [0])) \
                .astype(np.uint8).T
            byts = np.ascontiguousarray(codes).tobytes()
            dec = _DECODE.get
            parts = []
            prev_end = None
            for j, x in enumerate(starts):
                if prev_end is not None:
                    gap_cols = x - prev_end
                    n_spaces = max(
                        0, (gap_cols + GLYPH_W - ADVANCE) // ADVANCE)
                    parts.append(" " * n_spaces)
                parts.append(dec(
                    byts[j * GLYPH_H:(j + 1) * GLYPH_H], "?"))
                prev_end = x + GLYPH_W
            text = "".join(parts).rstrip()
            if text:
                x0 = float(col_idx[0])
                x1 = float(starts[-1] + GLYPH_W)
                cells.append({
                    "text": text,
                    "l": x0 / scale, "t": r / scale,
                    "r": x1 / scale, "b": (r + GLYPH_H) / scale,
                })
        r += GLYPH_H
    return cells
