"""URL canonicalization rules + dedup shapes (operators/weburl.py)."""

from pyspark.sql import functions as F

from docling_spark.operators.weburl import (
    canonical_url_col,
    canonicalize_urls,
    url_dedup,
)

CASES = [
    # lowercase scheme+host, keep non-default port
    ("HTTPS://Example.COM:8443/A/b", "https://example.com:8443/A/b"),
    # strip default ports per scheme
    ("http://example.com:80/x", "http://example.com/x"),
    ("https://example.com:443/x", "https://example.com/x"),
    # :80 is NOT default for https
    ("https://example.com:80/x", "https://example.com:80/x"),
    # www. strip, fragment drop
    ("https://www.example.com/x#sec-2", "https://example.com/x"),
    # slash collapse + trailing strip (root path becomes empty)
    ("https://example.com//a///b//", "https://example.com/a/b"),
    ("https://example.com/", "https://example.com"),
    # tracking params dropped, rest sorted; empty query → no '?'
    ("https://example.com/x?utm_source=a&b=2&a=1&fbclid=z",
     "https://example.com/x?a=1&b=2"),
    ("https://example.com/x?utm_campaign=only",
     "https://example.com/x"),
    # 'ref' dropped but 'refresh' kept (exact key, not prefix)
    ("https://example.com/x?ref=tw&refresh=1",
     "https://example.com/x?refresh=1"),
    # path case preserved (paths are case-sensitive per RFC 3986)
    ("https://example.com/CaseSensitive", "https://example.com/CaseSensitive"),
]


def test_canonical_rules(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    got = [r["c"] for r in
           df.select(canonical_url_col(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in CASES]


def test_canonicalize_is_narrow(spark):
    df = spark.createDataFrame([("https://a.com/x",)], "url string")
    plan = canonicalize_urls(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_url_dedup_keeper_and_counts(spark):
    rows = [
        (1, "https://www.a.com/p?utm_source=x"),
        (2, "https://a.com:443/p"),
        (3, "https://a.com/p/"),
        (9, "https://b.com/q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["canon_url"]: r for r in url_dedup(df).collect()}
    assert out["https://a.com/p"]["keep_id"] == 1
    assert out["https://a.com/p"]["n_dups"] == 3
    assert out["https://b.com/q"]["keep_id"] == 9


def test_crawl_frontier_waves_and_delay(spark):
    from docling_spark.operators.weburl import crawl_frontier
    rows = [("https://a.com/low", 1), ("https://a.com/hi", 9),
            ("https://a.com/mid", 5), ("https://b.com/only", 0),
            ("https://a.com/tie1", 5)]
    df = spark.createDataFrame(rows, "url string, priority int")
    got = {r["url"]: r for r in
           crawl_frontier(df, per_host_delay_ms=250).collect()}
    assert got["https://a.com/hi"]["wave"] == 0
    # priority tie (5, 5) breaks by URL ascending: /mid before /tie1
    assert got["https://a.com/mid"]["wave"] == 1
    assert got["https://a.com/tie1"]["wave"] == 2
    assert got["https://a.com/low"]["wave"] == 3
    assert got["https://a.com/low"]["not_before_ms"] == 750
    assert got["https://b.com/only"]["wave"] == 0
    assert got["https://b.com/only"]["host"] == "b.com"


def test_sitemap_urls_extraction(spark):
    from docling_spark.operators.weburl import sitemap_urls
    xml = ('<?xml version="1.0"?>\n<urlset>\n'
           '<url><loc>https://a.com/p?x=1&amp;y=2</loc>\n'
           '<lastmod>2026-01-02</lastmod>'
           '<priority>0.8</priority></url>\n'
           '<url><loc> https://a.com/q </loc></url>\n'
           '<sitemap><loc>https://a.com/more.xml</loc></sitemap>'
           '</urlset>')
    df = spark.createDataFrame(
        [("https://a.com/sitemap.xml", xml)],
        "sitemap_url string, xml string")
    got = {r["url"]: r for r in sitemap_urls(df).collect()}
    full = got["https://a.com/p?x=1&y=2"]
    assert full["lastmod"] == "2026-01-02"
    assert full["priority_e2"] == 80 and full["is_index"] == 0
    bare = got["https://a.com/q"]
    assert bare["lastmod"] is None and bare["priority_e2"] is None
    idx = got["https://a.com/more.xml"]
    assert idx["is_index"] == 1
    assert len(got) == 3


def test_sitemap_priority_malformed_is_null(spark):
    from docling_spark.operators.weburl import sitemap_urls
    xml = ('<urlset><url><loc>https://a.com/x</loc>'
           '<priority>high</priority></url></urlset>')
    df = spark.createDataFrame(
        [("https://a.com/s.xml", xml)], "sitemap_url string, xml string")
    row = sitemap_urls(df).collect()[0]
    assert row["url"] == "https://a.com/x"
    assert row["priority_e2"] is None


def test_crawl_frontier_custom_url_col(spark):
    from docling_spark.operators.weburl import crawl_frontier
    df = spark.createDataFrame(
        [("https://a.com/p", 3), ("https://a.com/q", 7)],
        "link string, priority int")
    got = {r["url"]: r["wave"]
           for r in crawl_frontier(df, url_col="link").collect()}
    assert got == {"https://a.com/q": 0, "https://a.com/p": 1}
def test_bitext_candidates(spark):
    from docling_spark.operators.bitext import bitext_candidates
    rows = [
        (1, "en", "total was 42 in 2026"),
        (2, "fr", "le total etait 42 en 2026"),
        (3, "de", "insgesamt 42 im jahr 2026"),
        (4, "fr", "sans chiffres ici"),          # empty skeleton
        (5, "en", "another 42 2026 but way way way way way way "
                  "way way way way way way way way longer text"),
        (6, "fr", "42 2026"),                     # ratio gate kills 5-6
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, "
                                     "text string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in bitext_candidates(df).collect()}
    assert (1, 2) in got and got[(1, 2)]["lang_b"] == "fr"
    assert (1, 3) in got and got[(1, 3)]["skeleton"] == "42|2026"
    assert (5, 6) not in got                      # length-ratio gate
    assert all(a != 4 and b != 4 for a, b in got)
    assert (1, 6) not in got     # shares skeleton, fails ratio (285)


def test_robots_gate_longest_match_and_default_allow(spark):
    from docling_spark.operators.weburl import robots_gate
    docs = spark.createDataFrame(
        [("1", "https://a.com/private/x"),
         ("2", "https://a.com/private/ok/x"),   # re-allowed subtree
         ("3", "https://a.com/pub"),            # no matching rule
         ("4", "https://b.com/private/x"),      # unruled host
         ("5", "https://A.COM:443/private/y")], # host normalization
        "doc_id string, url string")
    rules = spark.createDataFrame(
        [("a.com", "/private", 0), ("a.com", "/private/ok", 1)],
        "host string, path_prefix string, allow int")
    kept = {r["doc_id"] for r in robots_gate(docs, rules).collect()}
    assert kept == {"2", "3", "4"}


def test_robots_gate_tie_breaks_toward_allow(spark):
    from docling_spark.operators.weburl import robots_gate
    docs = spark.createDataFrame(
        [("1", "https://a.com/p/x")], "doc_id string, url string")
    rules = spark.createDataFrame(
        [("a.com", "/p", 0), ("a.com", "/p", 1)],
        "host string, path_prefix string, allow int")
    assert robots_gate(docs, rules).count() == 1


def test_domain_mix_report_shares_sum(spark):
    from docling_spark.operators.weburl import domain_mix_report
    docs = spark.createDataFrame(
        [("1", "https://x.a.com/p", "one two"),
         ("2", "https://a.com/q", "three"),
         ("3", "https://b.org/r", "four five six")],
        "doc_id string, url string, text string")
    out = {r["domain"]: r for r in domain_mix_report(docs).collect()}
    assert out["a.com"]["n_docs"] == 2
    assert out["a.com"]["n_tokens"] == 3
    assert out["b.org"]["token_share_e4"] == 5000
