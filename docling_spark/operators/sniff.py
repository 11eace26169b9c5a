"""Format sniffing — the engine's analogue of the reference's
MIME/format detection (`_guess_format` + content probes,
/root/reference/docling/datamodel/document.py:274-427).

The reference sniffs bytes via the `filetype` lib, then falls back to
content probes (HTML/XHTML regex on the first 1 KB
`_detect_html_xhtml` :365-398, `csv.Sniffer` :400-427, XML DOCTYPE
dispatch :313-346). Here detection is a PURE CATALYST expression
(when/otherwise over content probes) so it runs JVM-side at scan
speed, prunes columns, and is replayable in ANSI SQL by the oracle —
the Python `csv.Sniffer` equivalent only matters once a payload
actually reaches the per-format parser, which re-sniffs exactly
(parsers/csv_parser.py).

Probe rules (deterministic, documented):
  1. first 1 KB contains '<!doctype html' or '<html'   → html
  2. USPTO patent DOCTYPE markers, or an APS 'PATN'
     first line (document.py:313-346 dispatch)          → uspto
  3. JATS journal-article DTD markers                   → jats
  4. payload starts with '<?xml'                        → xml
  5. payload starts with '# ' or contains '\\n# '       → md
  6. first two lines both contain the same candidate
     delimiter (',' ';' '\\t' '|') with equal counts     → csv
  7. otherwise                                          → text
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CSV_DELIMS = [",", ";", "\t", "|"]


def _count_in(col: Column, ch: str) -> Column:
    return F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))


def format_col(payload: Column) -> Column:
    head = F.lower(F.substring(payload, 1, 1024))
    lines = F.split(payload, "\n")
    line1 = F.element_at(lines, 1)
    line2 = F.coalesce(F.element_at(lines, 2), F.lit(""))

    csv_hit = None
    for d in CSV_DELIMS:
        c1 = _count_in(line1, d)
        c2 = _count_in(line2, d)
        hit = (c1 > 0) & (c1 == c2)
        csv_hit = hit if csv_hit is None else (csv_hit | hit)

    uspto_doctype = (head.contains("us-patent")
                     | head.contains("us-grant-025")
                     | head.contains("patent-application-publication"))
    jats_doctype = (head.contains("//nlm//dtd")
                    | head.contains("jats-journalpublishing")
                    | head.contains("//jats//"))
    return (
        F.when(payload.startswith("<doctag>"), F.lit("doctags"))
        .when(head.contains("<!doctype html") | head.contains("<html"),
              F.lit("html"))
        .when(payload.startswith("PATN\n")
              | (head.contains("<!doctype") & uspto_doctype),
              F.lit("uspto"))
        .when(head.contains("<!doctype") & jats_doctype, F.lit("jats"))
        .when(payload.startswith("<?xml"), F.lit("xml"))
        .when(payload.startswith("# ") | payload.contains("\n# "),
              F.lit("md"))
        .when(csv_hit, F.lit("csv"))
        .otherwise(F.lit("text")))


def sha256_col(payload: Column) -> Column:
    """Content identity — sha256 of the payload (the reference's
    document hash, utils/utils.py:19-37) as a built-in, JVM-side."""
    return F.sha2(payload, 256)
