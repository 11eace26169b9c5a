"""Seeded input generators and output expectations for the four
benchmark workloads.

Every generator takes a seed and a directory and writes the parquet the
job reads; the same seed writes byte-identical files. Documents whose
extraction output has a closed form (the HTML template of
``docling_spark.sources.corpus``, pure-image documents, the curation
rules) get their expected row computed here. Documents whose output
only the parsers define (heavy HTML pages, PDFs, Office containers,
markdown, CSV, corrupt payloads) are drawn from fixed pools: each pool
variant is a pure function of its index, and ``frozen.json`` holds the
digest of the row the job committed for it when the pool was frozen
(``freeze.py``). A seed then picks doc_ids, order, file layout and the
light-document text, while the expected digest of every committed row
stays known.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import re
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FROZEN_PATH = os.path.join(HERE, "frozen.json")

INPUT_FILES = 8  # parquet files per generated input table
MEDIA_MOD = 5    # sources.corpus: doc_id % 5 == 0 carries a media span

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
ERROR = pa.struct([("component", pa.string()), ("module", pa.string()),
                   ("message", pa.string())])
INPUT_SCHEMA = pa.schema([("doc_id", pa.string()),
                          ("spans", pa.list_(SPAN))])
OUTPUT_SCHEMA = pa.schema([("doc_id", pa.string()),
                           ("spans", pa.list_(SPAN)),
                           ("status", pa.string()),
                           ("errors", pa.list_(ERROR)),
                           ("n_spans", pa.int32()),
                           ("wall_us", pa.int64())])

WORDS = ("the of and to in a is that for it as was with be by on not this "
         "are or from at which but have an they were there would their we "
         "been has when who will more no if out so said what up its about "
         "into than them can only other new some could time these two may "
         "then do first any now such like over even most made after also "
         "did many before must through back years where much way well down "
         "should because each just those people how too little state good "
         "very make world still own see work long get here between both "
         "life being under never day same another know while last might "
         "great old year off come since against go came right used take "
         "three batch part spark line column order small sort fast value "
         "scan hash slow group filter query big key window row table stream "
         "merge data vector page parse token arrow span").split()


# ---------------------------------------------------------------------------
# digests

def span_digest(status: str, spans) -> str:
    """Digest of one committed extraction row's (status, ordered spans);
    ``spans`` is a sequence of (kind, text, media_ref, offset)."""
    h = hashlib.sha1(status.encode())
    for kind, text, ref, off in spans:
        h.update(b"\x1e%s\x1f%s\x1f%s\x1f%d" % (
            (kind or "").encode(), (text or "").encode(),
            (ref or "").encode(), off if off is not None else -1))
    return h.hexdigest()


def curate_digest(text: str, n_tokens: int) -> str:
    return hashlib.sha1(b"%s\x1f%d" % (text.encode(), n_tokens)).hexdigest()


def table_digest(rows: Dict[str, str]) -> str:
    """Order-insensitive digest of doc_id → row digest: the sum of the
    per-row hashes mod 2**128, with the row count."""
    acc = 0
    for doc_id, row in rows.items():
        acc += int.from_bytes(hashlib.sha1(
            doc_id.encode() + b"\x00" + row.encode()).digest()[:16], "big")
    return f"{len(rows)}:{acc % (1 << 128):032x}"


# ---------------------------------------------------------------------------
# shared helpers

def _ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct positive doc ids, shuffled."""
    return rng.choice(10 ** 9, size=n, replace=False) + 1


def _light_texts(rng: np.random.Generator, n: int) -> List[str]:
    """Body texts of ~1 KB light HTML documents: 120-180 consecutive
    words sliced from one seeded word buffer (slicing keeps a
    100k-document corpus at milliseconds)."""
    n_words = 400_000
    words = [WORDS[i] for i in rng.integers(0, len(WORDS), n_words)]
    buf = " ".join(words)
    starts = np.zeros(n_words + 1, dtype=np.int64)
    np.cumsum([len(w) + 1 for w in words], out=starts[1:])
    lens = rng.integers(120, 181, n)
    offs = rng.integers(0, n_words - 181, n)
    return [buf[starts[o]:starts[o + k] - 1] for o, k in zip(offs, lens)]


def template_html(doc_id: int, text: str) -> str:
    """The ``sources.corpus.html_payload_col`` template, rendered in
    Python for inputs that are written as (doc_id, spans) directly."""
    img = '<img src="m"/>' if doc_id % MEDIA_MOD == 0 else ""
    return (f"<html><body><h1>Doc {doc_id}</h1><p>{text}</p>"
            f"<h2>Stats</h2><p>{len(text)} chars</p>{img}</body></html>")


def template_spans(doc_id: int, text: str) -> list:
    """Extraction output of one template document (the spans the
    DuckDB oracle in ``__spark_entry__`` predicts for the template)."""
    spans = [("title", f"Doc {doc_id}", "", 0), ("text", text, "", 1),
             ("section_header", "Stats", "", 2),
             ("text", f"{len(text)} chars", "", 3)]
    if doc_id % MEDIA_MOD == 0:
        spans.append(("picture", "", f"media://{doc_id}", 4))
    return spans


def _spans_array(docs: List[list]) -> pa.Array:
    offsets = [0]
    kinds, texts, refs, offs = [], [], [], []
    for spans in docs:
        for k, t, r, o in spans:
            kinds.append(k)
            texts.append(t)
            refs.append(r)
            offs.append(o)
        offsets.append(len(kinds))
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
             pa.array(refs, pa.string()), pa.array(offs, pa.int32())],
            fields=list(SPAN)))


def write_files(table: pa.Table, out_dir: str,
                n_files: int = INPUT_FILES) -> None:
    """Write ``table`` as ``n_files`` parquet files of consecutive
    rows, like a multi-file lake table."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def write_input(rows: List[Tuple[str, list]], out_dir: str) -> None:
    table = pa.Table.from_arrays(
        [pa.array([r[0] for r in rows], pa.string()),
         _spans_array([r[1] for r in rows])], schema=INPUT_SCHEMA)
    write_files(table, out_dir)


# ---------------------------------------------------------------------------
# pools (pure functions of the variant index; never of the seed)

def heavy_html(v: int, target: int = 236_000) -> str:
    """A ~236 KB article page (stands in for the Wikipedia fixture the
    scaling bench used): h1 title, h2/h3 sections, paragraphs with
    inline links, bullet and numbered lists (some nested), and tables."""
    rng = random.Random(1_000 + v)

    def ws(k: int) -> str:
        return " ".join(rng.choices(WORDS, k=k))

    parts = [f"<html><head><title>Article {v}</title></head><body>"
             f"<h1>Article {v} {ws(4)}</h1>"]
    size = len(parts[0])
    i = 0
    while size < target:
        i += 1
        block = [f"<h2>{ws(3)} {i}</h2>",
                 f"<p>{ws(35)} <a href=\"https://example.org/{v}/{i}\">"
                 f"{ws(3)}</a> {ws(25)}</p>"]
        if i % 2 == 0:
            block.append(f"<h3>{ws(4)}</h3><p>{ws(50)}</p>")
        if i % 3 == 0:
            items = "".join(f"<li>{ws(7)}</li>" for _ in range(5))
            nested = "".join(f"<li>{ws(5)}</li>" for _ in range(3))
            block.append(f"<ul>{items}<li>{ws(3)}<ul>{nested}</ul></li></ul>")
        if i % 5 == 0:
            block.append("<ol>" + "".join(
                f"<li>{ws(6)}</li>" for _ in range(4)) + "</ol>")
        if i % 4 == 0:
            head = "".join(f"<th>{ws(1)}</th>" for _ in range(4))
            body = "".join(
                "<tr>" + "".join(f"<td>{ws(2)}</td>" for _ in range(4))
                + "</tr>" for _ in range(8))
            block.append(f"<table><tr>{head}</tr>{body}</table>")
        chunk = "".join(block)
        parts.append(chunk)
        size += len(chunk)
    parts.append("</body></html>")
    return "".join(parts)


HEAVY_VARIANTS = 20

# page counts of the PDF pool: heavy-tailed, ending in two documents of
# over a thousand pages (one reducer each in the page reassembly). The
# long ones carry few lines per page, so their single-task byte parse
# stays short and the reassembly skew, not one slow core, sets the pace.
PDF_PAGES = ([1] * 24 + [2] * 12 + [3] * 8 + [5] * 6 + [8] * 4 + [13] * 3
             + [21] * 2 + [55, 89, 144, 377] + [1000, 1200])
MEGA_PAGES = 1000


def pdf_bytes(v: int) -> bytes:
    from docling_spark.sources.pdfsynth import synth_pdf_pages
    rng = random.Random(2_000 + v)
    n_pages = PDF_PAGES[v]
    n_lines = 30 if n_pages < MEGA_PAGES else 4
    pages = [[" ".join(rng.choices(WORDS, k=8)) for _ in range(n_lines)]
             for _ in range(n_pages)]
    return synth_pdf_pages(pages)


def md_payload(v: int) -> str:
    rng = random.Random(3_000 + v)

    def ws(k: int) -> str:
        return " ".join(rng.choices(WORDS, k=k))

    out = [f"# Notes {v} {ws(2)}", "", ws(40), ""]
    for s in range(3):
        out += [f"## {ws(3)} {s}", "", ws(30), "",
                *[f"- {ws(5)}" for _ in range(4)], "",
                "| key | value | unit |", "|---|---|---|",
                *[f"| {ws(1)} | {rng.randint(0, 999)} | {ws(1)} |"
                  for _ in range(3)], ""]
    return "\n".join(out)


def csv_payload(v: int) -> str:
    rng = random.Random(4_000 + v)
    rows = ["name,count,unit,score"]
    for _ in range(12 + v):
        rows.append(f"{rng.choice(WORDS)},{rng.randint(0, 9999)},"
                    f"{rng.choice(WORDS)},{rng.randint(0, 100)}")
    return "\n".join(rows) + "\n"


def _office(kind: str, v: int) -> str:
    from docling_spark.sources import minidocs
    build = {"docx": minidocs.docx_payload, "xlsx": minidocs.xlsx_payload,
             "pptx": minidocs.pptx_payload}[kind]
    return build(v)


def corrupt_payload(v: int) -> Tuple[str, str]:
    """(kind, payload) of a damaged document: truncated Office zips,
    random bytes as a PDF, and truncated PDFs. Each commits whatever row
    was frozen for it: a failure row, except the truncated PDFs, which
    the PDF reader turns into success rows without spans."""
    if v < 6:
        kind = ("docx", "xlsx", "pptx")[v % 3]
        raw = base64.b64decode(_office(kind, v % 4))
        cut = raw[: len(raw) * (40 + 10 * (v // 3)) // 100]
        return kind, base64.b64encode(cut).decode("ascii")
    rng = random.Random(5_000 + v)
    if v < 9:
        blob = bytes(rng.getrandbits(8) for _ in range(4096))
    else:
        whole = pdf_bytes(40 + v % 4)
        blob = whole[: len(whole) // 3]
    return "pdf_raw", base64.b64encode(blob).decode("ascii")


CORRUPT_VARIANTS = 12
MD_VARIANTS = 8
CSV_VARIANTS = 8
OFFICE_VARIANTS = 4


@dataclass
class Pool:
    """One pool of fixed documents: ``key`` → (kind, payload)."""
    build: Callable[[int], Tuple[str, str]]
    size: int


def _pdf_doc(v: int) -> Tuple[str, str]:
    return "pdf_raw", base64.b64encode(pdf_bytes(v)).decode("ascii")


POOLS: Dict[str, Pool] = {
    "heavy": Pool(lambda v: ("html", heavy_html(v)), HEAVY_VARIANTS),
    "pdf": Pool(_pdf_doc, len(PDF_PAGES)),
    "md": Pool(lambda v: ("md", md_payload(v)), MD_VARIANTS),
    "csv": Pool(lambda v: ("csv", csv_payload(v)), CSV_VARIANTS),
    "docx": Pool(lambda v: ("docx", _office("docx", v)), OFFICE_VARIANTS),
    "xlsx": Pool(lambda v: ("xlsx", _office("xlsx", v)), OFFICE_VARIANTS),
    "pptx": Pool(lambda v: ("pptx", _office("pptx", v)), OFFICE_VARIANTS),
    "corrupt": Pool(corrupt_payload, CORRUPT_VARIANTS),
}


def payload_sha(kind: str, payload: str) -> str:
    return hashlib.sha1(f"{kind}\x00{payload}".encode()).hexdigest()


class Pools:
    """Pool documents checked against ``frozen.json``. Payloads are
    cached on disk under the benchmark's work directory (pool documents
    do not depend on the seed); a cached payload is used only while its
    digest equals the frozen one."""

    def __init__(self, cache_dir: str) -> None:
        self.dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        with open(FROZEN_PATH, encoding="utf-8") as f:
            self.frozen = json.load(f)["variants"]

    def get(self, pool: str, v: int) -> Tuple[str, str, str]:
        """(kind, payload, expected row digest) of variant ``v``."""
        key = f"{pool}/{v}"
        entry = self.frozen.get(key)
        if entry is None:
            raise RuntimeError(f"frozen.json has no entry for {key}; "
                               "run perfbench/freeze.py")
        path = os.path.join(self.dir, f"{pool}-{v}.json")
        try:
            with open(path, encoding="utf-8") as f:
                kind, payload = json.load(f)
        except FileNotFoundError:
            kind, payload = "", ""
        if payload_sha(kind, payload) != entry["payload_sha"]:
            kind, payload = POOLS[pool].build(v)
            if payload_sha(kind, payload) != entry["payload_sha"]:
                raise RuntimeError(f"pool document {key} differs from the "
                                   "frozen one; run perfbench/freeze.py")
            tmp = f"{path}.tmp-{os.getpid()}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump([kind, payload], f)
            os.replace(tmp, path)
        return kind, payload, entry["row"]


# ---------------------------------------------------------------------------
# workload inputs

@dataclass
class Inputs:
    """What one generated workload hands to the runner."""
    job: str                                 # "extract" or "curate"
    input_arg: str                           # value of the job's --input
    n_docs: int                              # docs the job is asked to settle
    expected: Dict[str, str]                 # doc_id → row digest, this run
    kinds: Dict[str, str] = field(default_factory=dict)  # doc_id → kind
    lake_template: Optional[str] = None      # pre-committed table to copy
    precommitted: Dict[str, str] = field(default_factory=dict)
    pre_snapshots: List[str] = field(default_factory=list)  # their ids
    band_pairs: int = 0  # curate: band-equal candidate pairs per join run
    sample: List[Tuple[str, str]] = field(default_factory=list)

    @property
    def input_dir(self) -> str:
        arg = self.input_arg
        return arg[len("synth:"):] if arg.startswith("synth:") else arg


def gen_append_light(seed: int, work: str, pools: Pools) -> Inputs:
    """~1 KB template HTML docs read through ``synth:``
    (sources.corpus); 90% are pre-committed over three snapshots, the
    timed run extracts the remaining 10%."""
    n_docs, n_snaps, todo_share = 40_000, 3, 0.10
    rng = np.random.default_rng([seed, 1])
    ids = _ids(rng, n_docs)
    texts = _light_texts(rng, n_docs)
    in_dir = os.path.join(work, "input")
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string()),
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # corpus_from_documents reads <dir>/documents.parquet
    write_files(docs, os.path.join(in_dir, "documents.parquet"))

    n_pre = n_docs - int(n_docs * todo_share)
    lake = os.path.join(work, "lake_template")
    snapshots = []
    pre: Dict[str, str] = {}
    bounds = np.linspace(0, n_pre, n_snaps + 1).astype(int)
    for s in range(n_snaps):
        lo, hi = int(bounds[s]), int(bounds[s + 1])
        rows_spans, doc_ids = [], []
        for i in range(lo, hi):
            sp = template_spans(int(ids[i]), texts[i])
            doc_ids.append(str(int(ids[i])))
            rows_spans.append(sp)
            pre[doc_ids[-1]] = span_digest("success", sp)
        n = hi - lo
        table = pa.Table.from_arrays([
            pa.array(doc_ids, pa.string()), _spans_array(rows_spans),
            pa.array(["success"] * n, pa.string()),
            pa.array([[]] * n, pa.list_(ERROR)),
            pa.array([len(sp) for sp in rows_spans], pa.int32()),
            pa.array(rng.integers(50, 150, n), pa.int64())],
            schema=OUTPUT_SCHEMA)
        snap_id = f"{1_700_000_000_000 + s:013d}-pre{s:05d}"
        write_files(table, os.path.join(lake, f"snap-{snap_id}"), n_files=4)
        snapshots.append({"id": snap_id, "data": f"snap-{snap_id}",
                          "metrics": None, "key_col": "doc_id",
                          "committed_at": 1_700_000_000.0 + s})
    with open(os.path.join(lake, "_snapshots.json"), "w",
              encoding="utf-8") as f:
        json.dump({"snapshots": snapshots}, f, indent=1)

    expected = {str(int(ids[i])): span_digest(
        "success", template_spans(int(ids[i]), texts[i]))
        for i in range(n_pre, n_docs)}
    sample = [("html", template_html(int(ids[i]), texts[i]))
              for i in range(n_pre, n_pre + 200)]
    return Inputs(job="extract", input_arg=f"synth:{in_dir}",
                  n_docs=n_docs, expected=expected,
                  kinds={d: "html" for d in expected},
                  lake_template=lake, precommitted=pre,
                  pre_snapshots=[s["id"] for s in snapshots], sample=sample)


def gen_heavy_html(seed: int, work: str, pools: Pools) -> Inputs:
    """1 in 20 docs is a ~236 KB article page (each pool variant used
    the same number of times), the rest ~1 KB template pages. The heavy
    docs keep the same doc_ids under every seed, so their spread over
    the hash partitions -- the size skew the job must absorb -- is a
    fixed property of the workload; seeds vary the light docs."""
    n_docs, per_variant = 2_400, 6
    rng = np.random.default_rng([seed, 2])
    ids = _ids(rng, n_docs)
    n_heavy = HEAVY_VARIANTS * per_variant
    texts = _light_texts(rng, n_docs - n_heavy)
    heavy_at = set(rng.choice(n_docs, size=n_heavy, replace=False).tolist())
    heavy_ids = [(2_000_000_000 + 100 * v + k, v)
                 for v in range(HEAVY_VARIANTS) for k in range(per_variant)]
    rows, expected, heavy_sample, light_sample = [], {}, [], []
    li = 0
    for i in range(n_docs):
        doc_id = int(ids[i])
        if i in heavy_at:
            doc_id, v = heavy_ids.pop()
        key = str(doc_id)
        if i in heavy_at:
            kind, payload, expected[key] = pools.get("heavy", v)
        else:
            kind, payload = "html", template_html(doc_id, texts[li])
            sp = template_spans(doc_id, texts[li])
            expected[key] = span_digest("success", sp)
            li += 1
        spans = [("html", payload, "", 0)]
        if doc_id % MEDIA_MOD == 0 and i not in heavy_at:
            spans.append(("media", "", f"media://{doc_id}", 1))
        rows.append((key, spans))
        (heavy_sample if i in heavy_at else light_sample).append(
            (kind, payload))
    write_input(rows, os.path.join(work, "input"))
    # fixed sample keeping the 1-in-20 mix: 5 heavy + 95 light
    return Inputs(job="extract", input_arg=os.path.join(work, "input"),
                  n_docs=n_docs, expected=expected,
                  kinds={d: "html" for d in expected},
                  sample=heavy_sample[:5] + light_sample[:95])


def gen_routed_mixed(seed: int, work: str, pools: Pools) -> Inputs:
    """Every extract_routed branch: base64 PDFs (heavy-tailed page
    counts, two of over a thousand pages), docx/xlsx/pptx, md/csv,
    pure-image docs, and truncated zips / corrupt PDFs. PDFs keep their
    doc_ids under every seed and PDF *v* always heads input file
    *v* mod 8, so which tasks and reducers carry the long ones is a
    fixed property of the workload; seeds order the other documents."""
    rng = np.random.default_rng([seed, 3])
    plan: List[Tuple[str, int]] = []
    plan += [("pdf", v) for v in range(len(PDF_PAGES))]
    for kind in ("docx", "xlsx", "pptx"):
        plan += [(kind, v) for v in range(OFFICE_VARIANTS) for _ in range(40)]
    plan += [("md", v) for v in range(MD_VARIANTS) for _ in range(25)]
    plan += [("csv", v) for v in range(CSV_VARIANTS) for _ in range(25)]
    plan += [("corrupt", v) for v in range(CORRUPT_VARIANTS) for _ in range(4)]
    n_images = 200
    plan += [("image", j) for j in range(n_images)]
    rest = [i for i in rng.permutation(len(plan)).tolist()
            if plan[i][0] != "pdf"]
    files: List[List[int]] = [[] for _ in range(INPUT_FILES)]
    for i, (pool, v) in enumerate(plan):
        if pool == "pdf":
            files[v % INPUT_FILES].append(i)
    step = -(-len(plan) // INPUT_FILES)  # rows per file in write_files
    for f in files:
        while len(f) < step and rest:
            f.append(rest.pop())
    order = [i for f in files for i in f]
    ids = _ids(rng, len(plan))
    rows, expected, kinds, sample = [], {}, {}, []
    seen_sample = set()
    for pos, pi in enumerate(order):
        pool, v = plan[pi]
        key = str(3_000_000_000 + v if pool == "pdf" else int(ids[pos]))
        if pool == "image":
            n_img = int(rng.integers(1, 5))
            refs = [f"img://{key}/{j}" for j in range(n_img)]
            spans = [("image", "", refs[j], j) for j in range(n_img)]
            spans = [spans[j] for j in rng.permutation(n_img)]
            expected[key] = span_digest(
                "success", [("picture", "", r, j) for j, r in enumerate(refs)])
            kinds[key] = "image"
        else:
            kind, payload, expected[key] = pools.get(pool, v)
            spans = [(kind, payload, "", 0)]
            kinds[key] = kind
            if (pool, v) not in seen_sample and not (
                    pool == "pdf" and PDF_PAGES[v] >= MEGA_PAGES):
                seen_sample.add((pool, v))
                sample.append((kind, payload))
        rows.append((key, spans))
    write_input(rows, os.path.join(work, "input"))
    return Inputs(job="extract", input_arg=os.path.join(work, "input"),
                  n_docs=len(rows), expected=expected, kinds=kinds,
                  sample=sample)


# ---------------------------------------------------------------------------
# curation: planted duplicates and an in-process replay of the rules

CURATE_VOCAB = [w for w in WORDS if w not in ("the", "and", "of", "is")]
EN_MARKERS = ("the", "and", "of", "is")
LANG_MARKERS = {"en": EN_MARKERS, "es": ("el", "la", "de", "que"),
                "de": ("der", "und", "die", "ist"),
                "fr": ("le", "la", "et", "est")}
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def gen_curate(seed: int, work: str, pools: Pools) -> Inputs:
    """Documents parquet (doc_id, text, source) with planted exact
    duplicates (byte-equal and case/whitespace variants), near
    duplicates (one word changed or a short tail appended), short docs
    and non-English docs."""
    n_base = 3_000
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(CURATE_VOCAB)
    texts: List[str] = []
    for _ in range(n_base):
        k = int(rng.integers(40, 160))
        toks = vocab[rng.integers(0, len(vocab), k)].tolist()
        for j in rng.choice(k, size=max(2, k // 12), replace=False):
            toks[j] = EN_MARKERS[int(rng.integers(0, 4))]
        texts.append(" ".join(toks))
    planted: List[str] = []
    for j in range(n_base // 10):           # exact duplicates
        src = texts[int(rng.integers(0, n_base))]
        planted.append(src if j % 2 else
                       "  " + src.upper().replace(" ", " \n ", 3) + " ")
    for _ in range(n_base // 10):           # near duplicates
        toks = texts[int(rng.integers(0, n_base))].split(" ")
        if rng.random() < 0.5:
            toks[int(rng.integers(0, len(toks)))] = "vector"
        else:
            toks += ["extra", "trailing", "words"]
        planted.append(" ".join(toks))
    for _ in range(n_base // 50):           # too short for the quality gate
        planted.append(" ".join(rng.choice(vocab, 5).tolist()) + " the")
    for _ in range(n_base // 30):           # not English
        toks = vocab[rng.integers(0, len(vocab), 60)].tolist()
        for j in range(0, 60, 4):
            toks[j] = ("el", "la", "de", "que")[j % 4]
        planted.append(" ".join(toks))
    all_texts = texts + planted
    order = rng.permutation(len(all_texts))
    ids = _ids(rng, len(all_texts))
    doc_ids = [int(ids[p]) for p in range(len(all_texts))]
    docs = [(doc_ids[p], all_texts[order[p]]) for p in range(len(all_texts))]
    table = pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
        "source": pa.array([f"src{d % 7}" for d, _ in docs], pa.string())})
    in_dir = os.path.join(work, "input")
    write_files(table, in_dir)
    expected, band_pairs = curate_expected(docs)
    return Inputs(job="curate", input_arg=in_dir, n_docs=len(docs),
                  expected=expected, band_pairs=band_pairs)


def _norm(text: str) -> str:
    return _JAVA_WS.sub(" ", text).strip(" ").lower()


def simhash32(nt: str) -> int:
    """32-bit SimHash over distinct word 3-gram shingles, bit i voted
    by bit i of the shingle md5's first two 16-bit chunks (the rule
    of ``operators.dedup.simhash_bits`` and its SQL oracle)."""
    toks = nt.split(" ")
    if len(toks) >= 3:
        sh = dict.fromkeys(" ".join(toks[i:i + 3])
                           for i in range(len(toks) - 2))
    else:
        sh = {nt: None}
    vals = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                     for s in sh], dtype=np.uint64)
    c0 = vals >> np.uint64(16)          # md5 hex chars 1-4
    c1 = vals & np.uint64(0xFFFF)       # md5 hex chars 5-8
    bits = np.arange(16, dtype=np.uint64)
    ones = np.concatenate([((c0[:, None] >> bits) & np.uint64(1)).sum(0),
                           ((c1[:, None] >> bits) & np.uint64(1)).sum(0)])
    votes = 2 * ones.astype(np.int64) - len(vals)
    return int(sum(1 << b for b in range(32) if votes[b] > 0))


def curate_expected(docs: List[Tuple[int, str]]) -> Tuple[Dict[str, str], int]:
    """Rows ``jobs/curate.py`` commits with default flags: token gate
    10..100000, language 'en' by marker argmax, lowest doc_id per
    normalized-text md5, then for every SimHash pair within Hamming 3
    the higher doc_id is dropped. Also returns the number of
    (band, pair) candidates the band equijoin evaluates."""
    reps: Dict[str, Tuple[int, str, int]] = {}
    for doc_id, text in docs:
        nt = _norm(text)
        toks = nt.split(" ")
        if not 10 <= len(toks) <= 100_000:
            continue
        sc = {lg: sum(t in m for t in toks) for lg, m in LANG_MARKERS.items()}
        if not (sc["en"] > 0 and sc["en"] >= sc["es"]
                and sc["en"] >= sc["de"] and sc["en"] >= sc["fr"]):
            continue
        fp = hashlib.md5(nt.encode()).hexdigest()
        if fp not in reps or doc_id < reps[fp][0]:
            reps[fp] = (doc_id, text, len(toks))
    kept = sorted(reps.values())
    hashes = [simhash32(_norm(t)) for _, t, _ in kept]
    dropped = set()
    candidates = 0
    for band in range(4):
        buckets: Dict[int, List[int]] = {}
        for i, h in enumerate(hashes):
            buckets.setdefault((h >> (8 * band)) & 255, []).append(i)
        for members in buckets.values():
            candidates += len(members) * (len(members) - 1) // 2
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    a, b = members[x], members[y]
                    if bin(hashes[a] ^ hashes[b]).count("1") <= 3:
                        dropped.add(kept[max(a, b)][0])
    return {str(d): curate_digest(t, n) for d, t, n in kept
            if d not in dropped}, candidates


GENERATORS = {
    "extract_append_light": gen_append_light,
    "extract_heavy_html": gen_heavy_html,
    "extract_routed_mixed": gen_routed_mixed,
    "curate_dedup": gen_curate,
}
