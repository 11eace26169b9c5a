"""URL canonicalization + URL-level dedup for web-crawl corpora.

Web-scale pipelines (C4, Raffel et al. 2020; CCNet, Wenzek et al.
2020; RefinedWeb, Penedo et al. 2023) dedup FIRST by URL: the same
page is fetched many times with tracking parameters, fragments,
case-variant hosts, default ports, duplicate/trailing slashes. The
reference engine has no crawl layer (it starts from fetched bytes,
datamodel/document.py:274-427 resolves streams) — this module is the
§2.7 training-data addition that sits in front of it.

Canonicalization is pure Catalyst string expressions — JVM-side,
whole-stage-codegen, zero Python, zero shuffle. Dedup is ONE hash
aggregation keyed on the canonical string (the same single-shuffle
shape as dedup_exact).

Rules applied (the common subset of RFC 3986 §6 normalization and
crawler practice):

* scheme and host lowercased; fragment dropped
* default port stripped (``:80`` for http, ``:443`` for https)
* leading ``www.`` stripped from the host
* duplicate slashes in the path collapsed; trailing slashes stripped
* tracking query params dropped (``utm_*``, fbclid, gclid, mc_cid,
  mc_eid, ref); remaining params sorted for order-independence
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TRACKING_KEYS = ["fbclid", "gclid", "mc_cid", "mc_eid", "ref"]
TRACKING_PREFIX = "utm_"


def canonical_url_col(url: Column) -> Column:
    """Catalyst expression: raw URL string → canonical form."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")  # drop fragment
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    path = F.regexp_extract(rest, r"^[^/?]*([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)

    host = F.when(scheme == "http",
                  F.regexp_replace(hostport, ":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(hostport, ":443$", "")) \
            .otherwise(hostport)
    host = F.regexp_replace(host, r"^www\.", "")

    path = F.regexp_replace(path, "/{2,}", "/")
    path = F.regexp_replace(path, "/+$", "")

    def _keep(p: Column) -> Column:
        key = F.element_at(F.split(p, "="), 1)
        return ((p != F.lit("")) & ~key.startswith(TRACKING_PREFIX)
                & ~key.isin(TRACKING_KEYS))

    params = F.array_sort(F.filter(F.split(query, "&"), _keep))
    qcanon = F.array_join(params, "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon))
         .otherwise(F.lit("")))


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``canon_url``. Narrow — no shuffle; stays inside
    whole-stage codegen with the surrounding projections."""
    return df.withColumn("canon_url", canonical_url_col(F.col(url_col)))


def url_dedup(df: DataFrame, url_col: str = "url", *,
              id_col: str = "doc_id") -> DataFrame:
    """One row per canonical URL: (canon_url, keep_id, n_dups), keeper
    = the smallest id (earliest fetch). ONE shuffle, keyed on the
    canonical string (map-side partial min/count)."""
    canon = canonical_url_col(F.col(url_col)).alias("canon_url")
    rows = df.select(canon, F.col(id_col).alias("_id"))
    return (rows.groupBy("canon_url")
            .agg(F.min("_id").alias("keep_id"),
                 F.count("*").alias("n_dups")))


def host_col(url: Column) -> Column:
    """Canonical host from a raw URL: lowercase, strip port and
    leading www. — pure Catalyst."""
    rest = F.regexp_replace(F.trim(url),
                            r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    host = F.regexp_replace(host, r":[0-9]+$", "")
    return F.regexp_replace(host, r"^www\.", "")


def url_blocklist_gate(df: DataFrame, blocklist: DataFrame, *,
                       url_col: str = "url",
                       id_col: str = "doc_id") -> DataFrame:
    """Domain-blocklist gate with UT1-style suffix semantics: a doc is
    dropped when ANY dot-suffix of its host (a.b.example.com →
    a.b.example.com, b.example.com, example.com, com) appears in the
    blocklist — blocking a registered domain blocks every subdomain.

    ``id_col`` must name a UNIQUE row id (default ``doc_id``; falls
    back to the first column only when no ``doc_id`` exists, preserving
    the old positional contract). The final anti-join keys on this
    value, so a non-unique id would drop every row sharing an id with
    any blocked row.

    Plan shape: the host's ≤ ~6 suffixes are exploded doc-locally and
    semi-joined against the BROADCAST blocklist, so the document table
    never shuffles; the distinct blocked ids (a few % of the corpus for
    a real blocklist) are broadcast into the final anti-join."""
    host = host_col(F.col(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n), "."))
    probe = df.withColumn("_host", host) \
              .withColumn("_sfx", F.explode(suffixes))
    blocked = blocklist.select(F.col(blocklist.columns[0]).alias("_sfx"))
    if id_col not in df.columns:
        id_col = df.columns[0]
    hit = (probe.join(F.broadcast(blocked), "_sfx", "left_semi")
           .select(F.col(id_col).alias("_hit_id")).distinct())
    return df.join(F.broadcast(hit), F.col(id_col) == F.col("_hit_id"),
                   "left_anti")


def path_col(url: Column) -> Column:
    """URL path ('/' when absent), query/fragment stripped — pure
    Catalyst."""
    rest = F.regexp_replace(F.trim(url),
                            r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    path = F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def robots_gate(df: DataFrame, rules: DataFrame, *,
                url_col: str = "url",
                id_col: str = "doc_id") -> DataFrame:
    """robots.txt-style crawl-permission gate (the RFC 9309 core:
    longest-match path rules per host, Allow beats Disallow on equal
    length). ``rules`` is (host, path_prefix, allow∈{0,1}); a doc is
    DROPPED only when the LONGEST rule prefix matching its (host,
    path) has allow=0 — no matching rule means default-allow (the
    RFC rule), and ties at equal prefix length break toward allow.

    Scale shape: the rule table is crawl-config-sized (≪ corpus), so
    the host equijoin BROADCASTS and the doc table never shuffles; the
    longest-match argmax is a per-doc max_by over the handful of
    matching rules (grouped on the unique doc id, map-side
    combinable), and the final pass is an anti-join against the
    (small) drop-list. The startswith predicate stays in codegen."""
    if id_col not in df.columns:
        id_col = df.columns[0]
    host = host_col(F.col(url_col))
    path = path_col(F.col(url_col))
    probe = df.withColumn("_host", host).withColumn("_path", path)
    r = rules.select(F.col("host").alias("_host"),
                     F.col("path_prefix").alias("_pfx"),
                     F.col("allow").cast("int").alias("_allow"))
    matched = (probe.select(id_col, "_host", "_path")
               .join(F.broadcast(r), "_host")
               .where(F.col("_path").startswith(F.col("_pfx"))))
    # longest prefix wins, allow beats disallow on equal length —
    # encoded as ONE long (len·2 + allow) so the argmax is a plain
    # max() and the aggregate stays a hash aggregate (max_by over a
    # struct falls back to SortAggregate)
    verdict = (matched.groupBy(id_col)
               .agg((F.max(F.length("_pfx") * 2 + F.col("_allow"))
                     % 2).alias("_keep")))
    dropped = verdict.where(F.col("_keep") == 0).select(id_col)
    return df.join(F.broadcast(dropped), id_col, "left_anti")


def domain_mix_report(df: DataFrame, *, url_col: str = "url",
                      text_col: str = "text") -> DataFrame:
    """Corpus-composition report per registered-ish domain (last two
    host labels): doc count, token count, and each domain's share of
    corpus tokens in e4 — the table every corpus release publishes
    and the input mixture_weights consumes.

    ONE shuffle on the (tiny) domain key with map-side partial sums;
    the share denominator rides a scalar subtotal joined broadcast —
    the corpus is never re-shuffled."""
    host = host_col(F.col(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    domain = F.when(n >= 2, F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1))) \
        .otherwise(host)
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    per = (df.select(domain.alias("domain"), toks.alias("_t"))
           .groupBy("domain")
           .agg(F.count("*").alias("n_docs"),
                F.sum("_t").alias("n_tokens")))
    total = per.groupBy().agg(F.sum("n_tokens").alias("_total"))
    return (per.crossJoin(F.broadcast(total))
            .select("domain", "n_docs",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.floor(F.col("n_tokens") * 10000 / F.col("_total"))
                    .cast("long").alias("token_share_e4")))


def crawl_frontier(df: DataFrame, *, url_col: str = "url",
                   priority_col: str = "priority",
                   per_host_delay_ms: int = 1000) -> DataFrame:
    """Politeness-scheduled fetch plan over a candidate-URL frontier:
    within each host, order by descending priority (ties by canonical
    URL for determinism) and assign fetch WAVES — one fetch per host
    per wave — plus the earliest allowed fetch time under a per-host
    crawl delay. This is the scheduling step between link discovery
    (html_links / outlink_host_graph) and fetching: a 10^12-URL
    frontier is embarrassingly parallel BY HOST, and politeness (not
    CPU) is the binding constraint, so the plan's only shuffle is the
    hash partition on host that the window needs; wave assignment and
    delay math are pure Catalyst window + projection.

    Output: (url, host, wave, not_before_ms) — wave is 0-based rank
    within the host, not_before_ms = wave × per_host_delay_ms.

    The reference has no crawl layer (it starts from fetched bytes);
    this is a §2.7 web-corpus addition like url_dedup."""
    host = host_col(F.col(url_col))
    # the window orders by the POST-rename names — ordering by url_col
    # here would fail analysis for any url_col other than "url"
    w = (Window.partitionBy("host")
         .orderBy(F.col(priority_col).desc(), F.col("url")))
    return (df.select(F.col(url_col).alias("url"), host.alias("host"),
                      F.col(priority_col))
            .withColumn("wave",
                        (F.row_number().over(w) - 1).cast("int"))
            .select("url", "host", "wave",
                    (F.col("wave").cast("long") * per_host_delay_ms)
                    .alias("not_before_ms")))


def sitemap_urls(df: DataFrame, *, xml_col: str = "xml",
                 source_col: str = "sitemap_url") -> DataFrame:
    """Sitemap-protocol (sitemaps.org 0.9) URL extraction as a pure
    Catalyst projection — the crawl-DISCOVERY input that feeds
    crawl_frontier. Each ``<url>`` entry yields (sitemap_url, url,
    lastmod, priority_e2, is_index); ``<sitemap>`` entries of a
    sitemap INDEX file are emitted with is_index=1 so the caller can
    recurse. Zero Python and zero shuffle: one regexp_extract_all per
    entry kind + posexplode; at 10^12 sitemap rows this is a narrow
    map over the scan.

    Fields are extracted per-entry (not document-global), entities in
    <loc> are left as-is except &amp; (the one escape the protocol
    requires), missing <lastmod>/<priority> become NULL; priority is
    scaled ×100 to an int (protocol range 0.0–1.0). Sitemaps are
    adversarial web input, so a NON-NUMERIC <priority> degrades to
    NULL via try_cast instead of aborting the job under ANSI mode."""
    entry = r"<(?:url|sitemap)>.*?</(?:url|sitemap)>"
    xml = F.regexp_replace(F.col(xml_col), r"[\n\r\t]", " ")
    entries = F.regexp_extract_all(xml, F.lit(f"({entry})"), 1)
    e = F.col("_e")
    loc = F.regexp_extract(e, r"<loc>\s*(.*?)\s*</loc>", 1)
    lastmod = F.regexp_extract(e, r"<lastmod>\s*(.*?)\s*</lastmod>", 1)
    prio = F.regexp_extract(e, r"<priority>\s*(.*?)\s*</priority>", 1)
    return (df.select(F.col(source_col), F.explode(entries).alias("_e"))
            .select(
                source_col,
                F.regexp_replace(loc, "&amp;", "&").alias("url"),
                F.when(lastmod != "", lastmod).alias("lastmod"),
                F.round(prio.try_cast("double") * 100)
                 .try_cast("int").alias("priority_e2"),
                F.when(e.startswith("<sitemap>"), 1).otherwise(0)
                 .cast("int").alias("is_index"))
            .filter(F.col("url") != ""))


def url_path_templates(df: DataFrame, *, url_col: str = "url",
                       min_count: int = 1) -> DataFrame:
    """Generalize URL paths into templates and count pages per
    (host, template): digit runs become ``{n}`` and long lowercase-hex
    runs (≥16 chars — UUID fragments, content hashes) become ``{h}``.

    Why a crawl pipeline needs this: page-generator templates
    (``/2024/01/05/…`` calendar archives, ``/product/{n}``,
    ``/session/{h}``) are where crawler traps and low-value
    near-duplicate families live. Grouping by generalized path finds
    them without fetching anything — a template with 10^7 URLs and a
    flat content hash is a trap; the frontier caps or drops it.

    Output: (host, template, n_urls, n_params) where n_params counts
    the template's placeholders. Scale shape: pure-Catalyst
    projection (two regexp_replace passes) + ONE groupBy on
    (host, template), whose output is template-cardinality —
    orders of magnitude below URL-cardinality — and broadcastable
    back into frontier gates."""
    host = host_col(F.col(url_col))
    path = path_col(F.col(url_col))
    tpl = F.regexp_replace(path, r"[0-9a-f]{16,}", "{h}")
    tpl = F.regexp_replace(tpl, r"[0-9]+", "{n}")
    g = (df.filter(F.col(url_col).isNotNull())  # no NULL-key group
         .select(host.alias("host"), tpl.alias("template"))
         .groupBy("host", "template")
         .agg(F.count(F.lit(1)).alias("n_urls")))
    n_params = (F.size(F.split(F.col("template"), r"\{", -1)) - 1)
    return (g.filter(F.col("n_urls") >= min_count)
            .select("host", "template", "n_urls",
                    n_params.cast("int").alias("n_params")))


def robots_sitemaps(df: DataFrame, *, host_col_name: str = "host",
                    txt_col: str = "robots_txt") -> DataFrame:
    """robots.txt → declared sitemap URLs: ``Sitemap:`` lines are
    global (not group-scoped) per sitemaps.org/RFC 9309 §2.3, keys are
    case-insensitive, values run to end-of-line with optional
    ``#`` comments stripped. Output (host, sm_idx, sitemap_url) in
    file order — the seed list sitemap_urls ingests next.

    Pure Catalyst and truly zero-shuffle: the split line array is
    filtered to sitemap lines DOC-LOCALLY (higher-order ``filter``),
    so the posexplode position IS the file-order index — no window,
    no exchange (a row_number-per-host spelling would both shuffle
    and assign nondeterministic indices when one host contributes
    several robots snapshots). Robots bodies are KB-sized, so the
    per-row array work is bounded."""
    pat = r"(?i)^\s*sitemap\s*:\s*([^#\s]+)"
    lines = F.split(F.col(txt_col), "\r?\n", -1)
    matched = F.filter(lines,
                       lambda x: F.regexp_extract(x, pat, 1) != "")
    return (df.select(F.col(host_col_name).alias("host"),
                      F.posexplode_outer(matched).alias("_i", "_line"))
            .filter(F.col("_line").isNotNull())
            .select("host", F.col("_i").cast("int").alias("sm_idx"),
                    F.regexp_extract(F.col("_line"), pat, 1)
                    .alias("sitemap_url")))
