"""Multimodal binary-column plumbing: real header parsing (PNG built
from stdlib zlib — no codec needed), frame-sample planning, and the
Arrow batch path through Spark."""

import hashlib
import struct
import zlib

from pyspark.sql import functions as F

from docling_spark.operators.multimodal import (
    frame_sample_plan,
    parse_image_header,
    with_image_meta,
)


def make_png(width: int, height: int) -> bytes:
    """Minimal valid grayscale PNG via stdlib only."""
    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def test_png_header_parse():
    data = make_png(320, 200)
    assert parse_image_header(data) == (320, 200, "image/png")


def test_gif_and_unknown_headers():
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 10
    assert parse_image_header(gif) == (12, 34, "image/gif")
    assert parse_image_header(b"garbage")[2] == "application/octet-stream"


def test_jpeg_sof_scan():
    # minimal JPEG: SOI + APP0 stub + SOF0 with dims + EOI
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8, 8, 99, 101, 1)
    jpg = b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof
    w, h, mime = parse_image_header(jpg)
    assert (w, h, mime) == (101, 99, "image/jpeg")


def test_meta_and_features_through_spark(spark):
    rows = [(f"m{i}", make_png(16 + i, 24 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "media_ref string, bytes binary")
    meta = with_image_meta(df).select("media_ref", "meta.*").collect()
    by_ref = {r["media_ref"]: r for r in meta}
    for i in range(10):
        r = by_ref[f"m{i}"]
        assert (r["width"], r["height"]) == (16 + i, 24 + i)
        assert r["mime"] == "image/png"
        assert r["sha256"] == hashlib.sha256(rows[i][1]).hexdigest()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, 5500.0), (2, 500.0), (3, 100000.0)],
        "vid long, duration_ms double")
    plan = df.select(
        "vid", frame_sample_plan(F.col("duration_ms"), fps=1.0,
                                 max_frames=8).alias("p"))
    got = {r["vid"]: r["p"] for r in plan.collect()}
    assert len(got[1]) == 6          # 5.5s at 1 fps → 6 frames
    assert got[2] == [0]             # sub-second clip → 1 frame
    assert len(got[3]) == 8          # capped at max_frames
    assert got[1][0] == 0 and got[1][-1] < 5500


# ---------------------------------------------------------------------------
# audio: WAV/RIFF chunk walk + window planning


def make_wav(channels=2, rate=16000, n_samples=400, extra_chunk=False):
    """Minimal valid 16-bit PCM WAV via stdlib only."""
    ba = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * ba, ba, 16)
    pcm = bytes(n_samples * ba)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # odd-sized chunk exercises the word-align pad byte
        body += b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_header_parse():
    from docling_spark.operators.multimodal import parse_audio_header
    mime, ch, sr, bits, n, dur = parse_audio_header(
        make_wav(channels=1, rate=8000, n_samples=1200))
    assert (mime, ch, sr, bits, n) == ("audio/wav", 1, 8000, 16, 1200)
    assert dur == 150  # 1200 / 8000 s


def test_wav_odd_chunk_padding_and_fallbacks():
    from docling_spark.operators.multimodal import parse_audio_header
    mime, ch, sr, bits, n, dur = parse_audio_header(
        make_wav(channels=2, rate=16000, n_samples=160, extra_chunk=True))
    assert (ch, sr, n, dur) == (2, 16000, 160, 10)
    assert parse_audio_header(b"not riff")[0] == "application/octet-stream"
    # truncated after the fmt chunk: header fields parse, no duration
    wav = make_wav()
    cut = wav[:36]
    mime, ch, sr, bits, n, dur = parse_audio_header(cut)
    assert mime == "audio/wav" and n is None and dur is None


def test_audio_meta_and_window_plan_through_spark(spark):
    from docling_spark.operators.multimodal import (audio_window_plan,
                                                    with_audio_meta)
    rows = [(1, make_wav(1, 8000, 1200)),   # 150 ms
            (2, make_wav(2, 16000, 160)),   # 10 ms < one 25 ms window
            (3, b"junk")]
    df = spark.createDataFrame(rows, "doc_id long, bytes binary")
    out = (with_audio_meta(df)
           .select("doc_id", "meta.*",
                   audio_window_plan(F.col("meta.duration_ms"),
                                     window_ms=25, hop_ms=10)
                   .alias("plan"))
           .orderBy("doc_id").collect())
    assert out[0]["duration_ms"] == 150
    # windows: starts 0,10,…,120 (last full 25 ms window ends at 145)
    assert out[0]["plan"] == [10 * i for i in range(13)]
    assert out[1]["plan"] == []          # clip shorter than one window
    assert out[2]["mime"] == "application/octet-stream"
    assert out[2]["plan"] is None        # no duration → no plan


# ---------------------------------------------------------------------------
# PNM decode + average hash + hamming LSH


def make_pgm(pixels, w, h, maxval=255, comment=False):
    head = b"P5\n"
    if comment:
        head += b"# a comment line\n"
    head += b"%d %d\n%d\n" % (w, h, maxval)
    return head + bytes(pixels)


def test_decode_pnm_p5_and_p6():
    from docling_spark.operators.multimodal import decode_pnm
    px = list(range(64))
    arr = decode_pnm(make_pgm(px, 8, 8))
    assert arr.shape == (8, 8) and arr[0, 0] == 0 and arr[7, 7] == 63
    # comments in the header are skipped
    arr2 = decode_pnm(make_pgm(px, 8, 8, comment=True))
    assert (arr == arr2).all()
    # P6 luma-averages the three channels
    rgb = bytes([30, 60, 90] * 4)
    p6 = b"P6\n2 2\n255\n" + rgb
    a6 = decode_pnm(p6)
    assert a6.shape == (2, 2) and a6[0, 0] == 60
    # maxval rescale: 15 at maxval 15 → 255
    a15 = decode_pnm(make_pgm([15, 0, 15, 0], 2, 2, maxval=15))
    assert a15[0, 0] == 255 and a15[0, 1] == 0


def test_average_hash_pgm_bit_exact():
    from docling_spark.operators.multimodal import average_hash
    # pixel j = 255 iff bit j of the pattern → hash == pattern
    pat = 0x0123456789ABCDE  # 60-bit, top bits clear
    px = [255 if (pat >> j) & 1 else 0 for j in range(64)]
    assert average_hash(make_pgm(px, 8, 8)) == pat
    # bit 63 set → signed two's-complement long
    px63 = [0] * 63 + [255]
    assert average_hash(make_pgm(px63, 8, 8)) == (1 << 63) - (1 << 64)
    # all-equal raster → no pixel strictly above the mean → 0
    assert average_hash(make_pgm([7] * 64, 8, 8)) == 0
    # 16×16 raster block-means down to the same 8×8 grid
    big = []
    for r in range(16):
        for c in range(16):
            big.append(255 if (pat >> ((r // 2) * 8 + c // 2)) & 1
                       else 0)
    assert average_hash(make_pgm(big, 16, 16)) == pat
    assert average_hash(b"junk") is None


def test_phash_near_dup_lsh_equals_bruteforce(spark):
    from docling_spark.operators.multimodal import phash_near_dup
    import itertools
    base = 0x5A5A_1234_ABCD_0F0  # < 2^63
    rows = [(0, base), (1, base ^ 0b1),          # hamming 1 to base
            (2, base ^ 0b11000000),              # hamming 2 to base
            (3, base ^ ((1 << 20) | (1 << 40) | (1 << 55) | 1)),
            (4, 0x00FF00FF00FF00F)]              # far from all
    df = spark.createDataFrame(rows, "doc_id long, ahash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in phash_near_dup(df, id_col="doc_id",
                                   hash_col="ahash").collect()}
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin(ha ^ hb).count("1")
        if d <= 3:
            want[(ia, ib)] = d
    assert got == want and (0, 1) in got and got[(0, 1)] == 1


def test_bind_captions_window_semantics(spark):
    from docling_spark.operators.multimodal import bind_captions
    rows = [
        # caption after its figure
        (1, 0, "text", "t", None), (1, 1, "picture", "", "m1"),
        (1, 2, "caption", "c1", None),
        # equidistant → ties to the PRECEDING media
        (2, 0, "picture", "", "mA"), (2, 1, "caption", "c2", None),
        (2, 2, "table", "", "mB"),
        # caption with media only after it
        (3, 0, "caption", "c3", None), (3, 1, "picture", "", "mC"),
        # no media in the doc
        (4, 0, "caption", "c4", None), (4, 1, "text", "t", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, offset int, kind string, text string, "
              "media_ref string")
    got = {r["doc_id"]: r for r in bind_captions(df).collect()}
    assert got[1]["media_ref"] == "m1" and got[1]["rel_pos"] == "prev"
    assert got[2]["media_ref"] == "mA" and got[2]["rel_pos"] == "prev"
    assert got[3]["media_ref"] == "mC" and got[3]["rel_pos"] == "next"
    assert got[4]["media_ref"] is None and got[4]["rel_pos"] is None
    assert len(got) == 4


def test_average_hash_png_real_decode_path():
    """PNG payloads hash over REAL decoded pixels (raster.png_decode),
    so identical renders hash equal and the hash equals hashing the
    decoded raster directly."""
    import numpy as np
    from docling_spark.operators.multimodal import (_block_downsample,
                                                    average_hash)
    from docling_spark.parsers.raster import png_decode, png_encode
    rng = np.random.RandomState(7)
    img = (rng.rand(40, 40) * 255).astype(np.uint8)
    png = png_encode(img)
    h = average_hash(png)
    # identical image → identical hash; decode really ran (bit-exact)
    assert h == average_hash(png_encode(img.copy()))
    assert (png_decode(png) == img).all()
    grid = _block_downsample(img.astype(np.float64), 8)
    bits = (grid > grid.mean()).ravel()
    want = 0
    for j in np.nonzero(bits)[0]:
        want |= 1 << int(j)
    if want >= 1 << 63:
        want -= 1 << 64
    assert h == want
    # structural change (top half blanked) flips many bits
    img2 = img.copy(); img2[:20, :] = 255
    h2 = average_hash(png_encode(img2))
    assert bin((h ^ h2) & ((1 << 64) - 1)).count("1") > 3


def test_render_to_visual_hash_composition():
    """Real composition: rasterize a structured page (parsers/raster),
    hash the PNG — same page → same hash, different layout → far."""
    from docling_spark.operators.multimodal import average_hash
    from docling_spark.parsers.raster import png_encode, render_page
    cells = [{"text": "hello world", "l": 50, "t": 100, "r": 300,
              "b": 112}]
    img1, _ = render_page(612.0, 792.0, cells, dpi=72.0)
    img1b, _ = render_page(612.0, 792.0, list(cells), dpi=72.0)
    assert average_hash(png_encode(img1)) == \
        average_hash(png_encode(img1b))
    many = [{"text": "x" * 40, "l": 50, "t": 100 + 80 * i, "r": 560,
             "b": 160 + 80 * i} for i in range(8)]
    img2, _ = render_page(612.0, 792.0, many, dpi=72.0)
    h1 = average_hash(png_encode(img1))
    h2 = average_hash(png_encode(img2))
    assert h1 != h2


def test_average_hash_corrupt_payloads_return_none():
    """Decode failures must degrade, never raise (one bad blob would
    otherwise fail the whole Arrow batch)."""
    import zlib, struct  # noqa: F401  (documenting the raised kinds)
    from docling_spark.operators.multimodal import average_hash
    from docling_spark.parsers.raster import png_encode
    import numpy as np
    # zero-dimension PGM header
    assert average_hash(b"P5\n0 0\n255\n") is None
    # absurd-dimension PGM header (would overflow frombuffer count)
    assert average_hash(b"P5\n99999999 99999999\n255\n") is None
    # PNG magic + grayscale IHDR but garbage IDAT (zlib.error inside)
    good = bytearray(png_encode(np.zeros((4, 4), dtype=np.uint8)))
    bad = bytes(good[:33]) + b"\x00\x00\x00\x04IDATjunk\x00\x00\x00\x00"
    h = average_hash(bad)          # falls back to the stand-in decode
    assert h is None or isinstance(h, int)
    # truncated PNG header (struct.error inside) → stand-in or None
    assert average_hash(b"\x89PNG\r\n\x1a\n\x00\x00") is None
    import pytest
    with pytest.raises(ValueError):
        average_hash(b"P5\n8 8\n255\n" + bytes(64), hash_size=16)


def test_parse_exif_truncated_and_hostile():
    from docling_spark.operators.multimodal import parse_exif, synth_tiff
    t = synth_tiff(10, 20, 1, "M", "N", "D")
    assert parse_exif(t[:6]) is None            # truncated header
    assert parse_exif(b"II*\x00\xff\xff\xff\xff") is None  # bad IFD off
    # entry count pointing past the buffer: parse stops, keeps parsed
    bad = bytearray(t)
    bad[8:10] = (9999).to_bytes(2, "little")
    out = parse_exif(bytes(bad))
    assert out is not None and out["n_tags"] == 9999
    # JPEG without an Exif APP1 -> None
    assert parse_exif(b"\xff\xd8\xff\xe0\x00\x04xx\xff\xd9") is None


def test_exif_jpeg_segment_walk():
    from docling_spark.operators.multimodal import parse_exif, synth_tiff
    t = synth_tiff(33, 44, 3, "Mk", "Md", "Dt", little_endian=False)
    # APP0 first, then APP1/Exif: the walk must skip APP0
    app0 = b"\xff\xe0" + (15).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 8
    app1 = (b"\xff\xe1" + (len(t) + 8).to_bytes(2, "big")
            + b"Exif\x00\x00" + t)
    out = parse_exif(b"\xff\xd8" + app0 + app1 + b"\xff\xd9")
    assert out["width"] == 33 and out["byte_order"] == "MM"
    assert out["orientation"] == 3
