"""Crawl front-end queries — the stages a web-scale corpus runs BEFORE any
content-level dedup/quality stage sees a byte of text (round-12 additions):

  * ``text_html_strip_c4``     — C4-style markup -> visible text extraction
                                 with line- and page-level cleanse rules;
  * ``dedup_url_canonical``    — URL canonicalization + first-by-canonical
                                 dedup (the cheapest, highest-frequency
                                 real-world dedup stage);
  * ``filter_domain_blocklist``— registrable-domain / TLD crawl filter
                                 against a broadcast blocklist dimension.

The ``documents`` fixture carries no markup or URL column, so each query
PLANTS a deterministic fixture from (doc_id, source, text) — six URL
spellings of the same page, pages with/without enough sentences, planted
brace/lorem/javascript boilerplate — identically in the Spark code and the
DuckDB oracle (the ``corpus_curation_v8`` delta-planting discipline: the
construction is shared, the OPERATOR under test is independently
implemented on each engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.htmltext import (
    MIN_LINE_WORDS,
    MIN_PAGE_LINES,
    c4_kept_lines,
    c4_page_kept,
    visible_lines,
)
from airflow_cms_inpatient_etl_spark.operators.weburl import (
    TRACKING_PARAM_RE,
    canonical_host,
    canonicalize_url,
    host_tld,
    registrable_domain,
)
from airflow_cms_inpatient_etl_spark.operators.graph import pagerank_integer
from airflow_cms_inpatient_etl_spark.operators.stages import keep_first_by_key
from airflow_cms_inpatient_etl_spark.queries.base import fill_doc, register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, snapshot, spread_scan

# --------------------------------------------------------------------------- #
# shared URL fixture: 6 spellings of each page, 3 consecutive docs per page    #
# --------------------------------------------------------------------------- #
# page identity = doc_id div 3; host derives from the PAGE (not the doc's
# source) so the spellings of one page agree on authority; spelling variant
# = doc_id % 6 exercises every canonicalization rule: uppercase scheme+host,
# default ports (:443/:80), http->https fold, fragment strip, tracking params
# (utm_*/ref/fbclid) in varying positions, param-order shuffle (z=9 vs id=),
# trailing slash, /index.html, and an empty path ('' -> '/').


def _fixture_urls(d):
    """(doc_id, url) with the 6-variant spelling plant."""
    page = F.expr("doc_id div 3")
    k = page % 12
    tld = (
        F.when(k % 3 == 0, F.lit("com"))
        .when(k % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    host = F.concat(F.lit("www.site"), k.cast("string"), F.lit("."), tld)
    ps = page.cast("string")
    v = F.col("doc_id") % 6
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTPS://"), F.upper(host), F.lit(":443/Articles/"), ps,
                F.lit("?utm_source=feed&id="), ps, F.lit("&z=9"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://"), host, F.lit("/Articles/"), ps,
                F.lit("/?z=9&id="), ps, F.lit("#section-2"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://"), host, F.lit(":80/Articles/"), ps,
                F.lit("?id="), ps, F.lit("&z=9&utm_campaign=spring"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://"), host, F.lit("/Articles/"), ps,
                F.lit("?ref=tw&z=9&id="), ps,
            ),
        )
        .when(
            v == 4,
            F.concat(
                F.lit("https://"), host, F.lit("/Articles/"), ps,
                F.lit("/index.html?id="), ps, F.lit("&z=9"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, F.lit("?z=9&id="), ps, F.lit("&fbclid=xyz"),
            )
        )
    )
    return d.select("doc_id", url.alias("url"))


_FIXTURE_URLS_SQL = """
    u AS (
        SELECT doc_id, doc_id // 3 AS page, (doc_id // 3) % 12 AS k FROM documents
    ),
    h AS (
        SELECT doc_id, page,
               'www.site' || k || '.' ||
                 CASE k % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
                 AS host
        FROM u
    ),
    urls AS (
        SELECT doc_id,
          CASE doc_id % 6
            WHEN 0 THEN 'HTTPS://' || UPPER(host) || ':443/Articles/' || page
                        || '?utm_source=feed&id=' || page || '&z=9'
            WHEN 1 THEN 'https://' || host || '/Articles/' || page
                        || '/?z=9&id=' || page || '#section-2'
            WHEN 2 THEN 'http://' || host || ':80/Articles/' || page
                        || '?id=' || page || '&z=9&utm_campaign=spring'
            WHEN 3 THEN 'https://' || host || '/Articles/' || page
                        || '?ref=tw&z=9&id=' || page
            WHEN 4 THEN 'https://' || host || '/Articles/' || page
                        || '/index.html?id=' || page || '&z=9'
            ELSE 'https://' || host || '?z=9&id=' || page || '&fbclid=xyz'
          END AS url
        FROM h
    )
"""

# DuckDB mirror of operators.weburl (independently implemented: SQL CASE /
# regexp / list functions, same rules)
_CANON_PARTS_SQL = """
    parts AS (
        SELECT doc_id, url,
               LOWER(REGEXP_EXTRACT(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               LOWER(REGEXP_EXTRACT(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
               REGEXP_EXTRACT(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
               REGEXP_EXTRACT(url, '\\?([^#]*)', 1) AS rawq
        FROM urls
    ),
    canon AS (
        SELECT doc_id, url,
               CASE WHEN scheme = 'http' THEN 'https' ELSE scheme END AS cscheme,
               CASE WHEN scheme = 'http' THEN REGEXP_REPLACE(hostport, ':80$', '')
                    WHEN scheme = 'https' THEN REGEXP_REPLACE(hostport, ':443$', '')
                    ELSE hostport END AS chost,
               CASE WHEN REGEXP_REPLACE(REGEXP_REPLACE(rawpath, '/index\\.html$', ''), '/+$', '') = ''
                    THEN '/'
                    ELSE REGEXP_REPLACE(REGEXP_REPLACE(rawpath, '/index\\.html$', ''), '/+$', '')
               END AS cpath,
               COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(
                   STRING_SPLIT(rawq, '&'),
                   p -> p <> '' AND NOT REGEXP_MATCHES(LOWER(p), '{tracking_re}')
               )), '&'), '') AS cq
        FROM parts
    ),
    canonical AS (
        SELECT doc_id, url,
               cscheme || '://' || chost || cpath ||
                 CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
        FROM canon
    )
""".replace("{tracking_re}", TRACKING_PARAM_RE)


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH {_FIXTURE_URLS_SQL},
    {_CANON_PARTS_SQL}
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dupes,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_spellings,
           MIN(doc_id) AS keep_doc_id
    FROM canonical
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark, sf_dir):
    """URL canonicalization + first-by-canonical-URL dedup — the cheapest,
    highest-frequency dedup stage in a real crawl pipeline: fold scheme/host
    case, http->https, default ports, fragments, tracking params (utm_*,
    ref, fbclid, gclid), param order, /index.html and trailing slashes into
    one page-identity key, then keep the lowest doc_id per key.

    The fixture plants six spellings per page (three consecutive docs each),
    so every rule separates observably: most canonical groups carry 2-3
    spellings, while the variant-5 spelling (empty path -> '/') correctly
    forms its own page identity.

    Scale shape: canonicalization is one map-side codegen'd projection
    (regex + array HOFs, zero Python); the ONLY exchange is the final
    groupBy on the canonical key — at 100 TB that key is hashed to 8 bytes
    and the groupBy is a near-uniform shuffle (page keys don't skew the way
    content hashes of boilerplate do).  cf. reference
    `dags/cms_inpatient_download_unzip.py:22` (fixed-URL ingest)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = _fixture_urls(d)
    return (
        urls.select("doc_id", "url", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dupes"),
            F.countDistinct("url").cast("long").alias("n_spellings"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


_BLOCKLIST = ["site0.com", "site4.org", "site5.net", "site9.com", "blocked.example"]


@register(
    "filter_domain_blocklist",
    oracle=f"""
    WITH {_FIXTURE_URLS_SQL},
    hosts AS (
        SELECT doc_id,
               LOWER(REGEXP_EXTRACT(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               LOWER(REGEXP_EXTRACT(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport
        FROM urls
    ),
    doms AS (
        SELECT doc_id,
               REGEXP_EXTRACT(h2, '([^.]+\\.[^.]+)$', 1) AS domain,
               REGEXP_EXTRACT(h2, '\\.([^.]+)$', 1) AS tld
        FROM (
            SELECT doc_id,
                   CASE WHEN scheme = 'http' THEN REGEXP_REPLACE(hostport, ':80$', '')
                        WHEN scheme = 'https' THEN REGEXP_REPLACE(hostport, ':443$', '')
                        ELSE hostport END AS h2
            FROM hosts
        )
    ),
    agg AS (
        SELECT domain, tld, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM doms GROUP BY domain, tld
    ),
    blocklist(domain) AS (VALUES {", ".join(f"('{x}')" for x in _BLOCKLIST)})
    SELECT a.domain, a.tld, a.n_docs,
           b.domain IS NOT NULL AS in_blocklist,
           a.tld = 'net' AS tld_blocked,
           (b.domain IS NOT NULL OR a.tld = 'net') AS is_blocked
    FROM agg a LEFT JOIN blocklist b ON a.domain = b.domain
    """,
)
def filter_domain_blocklist(spark, sf_dir):
    """Registrable-domain / TLD crawl filter: roll the corpus up to its
    registrable domains (public-suffix-lite: last two host labels), then
    flag each against (a) an explicit domain blocklist — a BROADCAST
    dimension join, the posture a multi-million-entry production blocklist
    keeps at 100 TB — and (b) a TLD policy rule ('net' here; spam TLD lists
    in production), evaluated map-side.

    The aggregation runs BEFORE the blocklist join, so the join touches
    domain-count rows (thousands), never corpus rows — at 100 TB the
    blocklist broadcast also pushes into the scan as a filter when used as
    a gate rather than a report.  One spelled-out blocklist entry
    ('blocked.example') matches nothing, proving left-join semantics."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = _fixture_urls(d)
    host = canonical_host(F.col("url"))
    labeled = urls.select(
        "doc_id",
        registrable_domain(host).alias("domain"),
        host_tld(host).alias("tld"),
    )
    bl = (
        spark.createDataFrame([(x,) for x in _BLOCKLIST], "domain string")
        .withColumn("__bl", F.lit(True))
    )
    return (
        labeled.groupBy("domain", "tld")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(F.broadcast(bl), "domain", "left")
        .select(
            "domain",
            "tld",
            "n_docs",
            F.coalesce("__bl", F.lit(False)).alias("in_blocklist"),
            (F.col("tld") == "net").alias("tld_blocked"),
            (F.coalesce("__bl", F.lit(False)) | (F.col("tld") == "net")).alias(
                "is_blocked"
            ),
        )
    )


# --------------------------------------------------------------------------- #
# text_html_strip_c4 — markup -> visible text with C4 cleanse rules            #
# --------------------------------------------------------------------------- #
# fixture page plant: every doc's words are wrapped into an HTML page with
# head/style/script chrome, a nav div, a short line, a javascript line, an
# unpunctuated boilerplate line, and 1-3 real sentences gated on doc length
# (n>=10 always / n>=20 / n>=35), plus page-killing brace (doc_id%17) and
# lorem-ipsum (doc_id%23) plants — so every line rule and page rule
# separates docs observably at all three scales.

_BRACE_LINE = "<p>var config = { mode: production, debug: false };.</p>"
_LOREM_LINE = "<p>lorem ipsum dolor sit amet consectetur adipiscing.</p>"


def _planted_c4(df: DataFrame) -> DataFrame:
    """The fixture page plant (see the block comment above) run through the
    C4 strip: ``df`` (doc_id, text, *carried) becomes (doc_id, *carried, nl,
    kept, clean_text, page_kept) — the page's visible lines, the lines that
    pass the C4 line rules, their newline join and the page gate flag."""
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(w)

    def sent(start: int, length: int, punct: str):
        return F.concat(
            F.lit("<p>"),
            F.concat_ws(" ", F.slice(w, start, length)),
            F.lit(punct + "</p>"),
        )

    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>.m{color:#fff}</style>"
            '<script type="text/javascript">var a=1;</script></head><body>'
        ),
        F.lit('<div class="nav">Home | About | Contact</div>'),
        sent(1, 8, "."),
        sent(1, 2, "."),
        F.lit("<p>Please enable javascript to view this page.</p>"),
        F.when(n >= 20, sent(9, 12, "?")).otherwise(F.lit("")),
        F.when(n >= 35, sent(21, 12, "!")).otherwise(F.lit("")),
        F.lit("<p>copyright terms cookie policy settings menu</p>"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(_BRACE_LINE)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0, F.lit(_LOREM_LINE)).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    carried = [c for c in df.columns if c not in ("doc_id", "text")]
    staged = (
        df.select("doc_id", *carried, html.alias("html"))
        .select("doc_id", *carried, visible_lines(F.col("html")).alias("nl"))
        .select("doc_id", *carried, "nl", c4_kept_lines(F.col("nl")).alias("kept"))
    )
    clean = F.concat_ws("\n", F.col("kept"))
    return staged.select(
        "*", clean.alias("clean_text"), c4_page_kept(F.col("kept"), clean).alias("page_kept")
    )


@register(
    "text_html_strip_c4",
    oracle=f"""
    WITH w0 AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS w FROM documents
    ),
    page AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || doc_id
          || '</title><style>.m{{color:#fff}}</style>'
          || '<script type="text/javascript">var a=1;</script></head><body>'
          || '<div class="nav">Home | About | Contact</div>'
          || '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 1, 8), ' ') || '.</p>'
          || '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 1, 2), ' ') || '.</p>'
          || '<p>Please enable javascript to view this page.</p>'
          || CASE WHEN LEN(w) >= 20
                  THEN '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 9, 20), ' ') || '?</p>'
                  ELSE '' END
          || CASE WHEN LEN(w) >= 35
                  THEN '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 21, 32), ' ') || '!</p>'
                  ELSE '' END
          || '<p>copyright terms cookie policy settings menu</p>'
          || CASE WHEN doc_id % 17 = 0 THEN '{_BRACE_LINE}' ELSE '' END
          || CASE WHEN doc_id % 23 = 0 THEN '{_LOREM_LINE}' ELSE '' END
          || '</body></html>' AS html
        FROM w0
    ),
    stripped AS (
        SELECT doc_id,
          STRING_SPLIT(
            REGEXP_REPLACE(
              REGEXP_REPLACE(
                REGEXP_REPLACE(
                  REGEXP_REPLACE(html, '<script[^>]*>.*?</script>', ' ', 'g'),
                  '<style[^>]*>.*?</style>', ' ', 'g'),
                '</p>|</div>|</title>', CHR(10), 'g'),
              '<[^>]*>', ' ', 'g'),
            CHR(10)) AS rawlines
        FROM page
    ),
    lined AS (
        SELECT doc_id,
          LIST_FILTER(
            LIST_TRANSFORM(rawlines, x -> TRIM(REGEXP_REPLACE(x, '\\s+', ' ', 'g'))),
            x -> x <> '') AS nl
        FROM stripped
    ),
    keptl AS (
        SELECT doc_id, nl,
          LIST_FILTER(nl, x ->
              REGEXP_MATCHES(x, '[.!?"]$')
              AND LEN(STRING_SPLIT(x, ' ')) >= {MIN_LINE_WORDS}
              AND NOT CONTAINS(LOWER(x), 'javascript')) AS kept
        FROM lined
    )
    SELECT doc_id,
           CAST(LEN(nl) AS BIGINT) AS n_lines_raw,
           CAST(LEN(kept) AS BIGINT) AS n_lines_kept,
           COALESCE(ARRAY_TO_STRING(kept, CHR(10)), '') AS clean_text,
           (LEN(kept) >= {MIN_PAGE_LINES}
            AND NOT CONTAINS(COALESCE(ARRAY_TO_STRING(kept, CHR(10)), ''), '{{')
            AND NOT CONTAINS(LOWER(COALESCE(ARRAY_TO_STRING(kept, CHR(10)), '')),
                             'lorem ipsum')) AS page_kept
    FROM keptl
    """,
)
def text_html_strip_c4(spark, sf_dir):
    """C4-style HTML/boilerplate stripping (Raffel et al. 2020 §2.2) — the
    crawl front-end stage that feeds every downstream dedup/quality/token
    stage: drop script/style subtrees, strip tags, split on block-closing
    tags, then keep only lines that end in terminal punctuation, carry >=
    {MIN_LINE_WORDS} words, and don't mention 'javascript'; keep only pages
    with >= {MIN_PAGE_LINES} surviving sentences and no curly-brace / lorem
    ipsum text.  Emits per-doc raw/kept line counts, the cleansed text, and
    the page gate flag.

    Scale shape: ONE map-side codegen'd projection (regexes + array HOFs) —
    no shuffle, no Python; the guarded spread_scan only spreads the
    single-row-group local fixture and adds no exchange on a real multi-
    split scan.  The oracle independently re-implements the rules with
    DuckDB string/list functions over the identical planted pages."""
    d = load_table(spark, sf_dir, "documents")
    staged = _planted_c4(spread_scan(d.select("doc_id", "text"), "doc_id"))
    return staged.select(
        "doc_id",
        F.size("nl").cast("long").alias("n_lines_raw"),
        F.size("kept").cast("long").alias("n_lines_kept"),
        "clean_text",
        "page_kept",
    )


fill_doc(text_html_strip_c4, MIN_LINE_WORDS=MIN_LINE_WORDS, MIN_PAGE_LINES=MIN_PAGE_LINES)


# --------------------------------------------------------------------------- #
# crawl_linkgraph_pagerank — link extraction -> host graph -> centrality       #
# --------------------------------------------------------------------------- #
# The Common-Crawl frontier-ranking composition (round-12 directive #3): the
# crawl front-end above canonicalizes PAGE identity; ranking the FRONTIER
# needs the link graph between hosts.  Fixture: every doc's HTML plants three
# <a href> outlinks from its page's host k to hosts (5k+1)%12, (3k+2)%12 and
# (k+7)%12 in deliberately messy spellings (uppercase scheme+host, default
# ports, fragments, tracking params), plus one relative link (no authority ->
# dropped).  For k in {5, 11} the second target equals k itself — a planted
# SELF-link the host-graph build must drop.  The oracle derives the planted
# link targets directly from k (never re-parsing HTML), so the hash match
# proves the Spark extraction + canonicalization recovered exactly the
# planted graph before ranking it.

_LG_ITERS = 4
_LG_SCALE = 10**12
_LG_HOSTS = 12


def _host_of(k):
    """www.site{k}.{tld(k)} — the host derivation all crawl fixtures share."""
    tld = (
        F.when(k % 3 == 0, F.lit("com"))
        .when(k % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    return F.concat(F.lit("www.site"), k.cast("string"), F.lit("."), tld)


def _linkgraph_cte_chain() -> str:
    """The WITH-chain (no final SELECT) of the planted host link graph +
    4-round integer PageRank — shared by ``crawl_linkgraph_pagerank`` and
    the frontier-schedule composition so the two oracles cannot drift."""
    scale, d = _LG_SCALE, 85
    nref = "(SELECT n_nodes FROM n)"
    base = f"((100 - {d}) * ({scale} // {nref})) // 100"
    parts = [
        f"""docs AS (SELECT doc_id, (doc_id // 3) % {_LG_HOSTS} AS k FROM documents),
    l AS (
        SELECT k AS src_k, (k * 5 + 1) % {_LG_HOSTS} AS dst_k FROM docs
        UNION ALL SELECT k, (k * 3 + 2) % {_LG_HOSTS} FROM docs
        UNION ALL SELECT k, (k + 7) % {_LG_HOSTS} FROM docs
    ),
    ks AS (SELECT DISTINCT src_k AS k FROM l UNION SELECT DISTINCT dst_k FROM l),
    dom AS (
        SELECT k, 'site' || k || '.' ||
               CASE k % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS domain
        FROM ks
    ),
    edges AS (
        SELECT ds.domain AS src, dd.domain AS dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM l
        JOIN dom ds ON ds.k = l.src_k
        JOIN dom dd ON dd.k = l.dst_k
        WHERE l.src_k <> l.dst_k
        GROUP BY ds.domain, dd.domain
    ),
    outd AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM edges GROUP BY src),
    ind AS (SELECT dst, CAST(SUM(w) AS BIGINT) AS in_w FROM edges GROUP BY dst),
    nodes AS (SELECT src AS domain FROM edges UNION SELECT dst FROM edges),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
    r0 AS (SELECT domain, {scale} // {nref} AS rank FROM nodes)"""
    ]
    for i in range(1, _LG_ITERS + 1):
        parts.append(
            f""",
    r{i} AS (
        SELECT nodes.domain,
               {base} + ({d} * COALESCE(CAST(SUM((r.rank * e.w) // o.wsum) AS BIGINT), 0)) // 100
                   AS rank
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.domain
        LEFT JOIN r{i - 1} r ON r.domain = e.src
        LEFT JOIN outd o ON o.src = e.src
        GROUP BY nodes.domain
    )"""
        )
    return "".join(parts)


def _linkgraph_oracle() -> str:
    return (
        f"WITH {_linkgraph_cte_chain()}"
        + f"""
    SELECT nodes.domain,
           CAST(COALESCE(o.wsum, 0) AS BIGINT) AS out_w,
           CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w,
           r.rank
    FROM nodes
    LEFT JOIN outd o ON o.src = nodes.domain
    LEFT JOIN ind i ON i.dst = nodes.domain
    JOIN r{_LG_ITERS} r ON r.domain = nodes.domain"""
    )


def _host_linkgraph(spark, sf_dir):
    """Shared Spark-side host link-graph build (HTML plant -> href
    extraction -> canonicalize -> registrable-domain edges with self- and
    relative-link drop): (edges snapshot (src, dst, w), nodes (node,)).
    Used by the PageRank and HITS centrality queries and the frontier
    composition, so the extraction discipline cannot drift between them."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    base = spread_scan(d, "doc_id")
    page = F.expr("doc_id div 3")
    k = page % _LG_HOSTS
    ps = page.cast("string")
    h = [_host_of((k * 5 + 1) % _LG_HOSTS), _host_of((k * 3 + 2) % _LG_HOSTS),
         _host_of((k + 7) % _LG_HOSTS)]
    html = F.concat(
        F.lit('<html><body><div class="nav">Home | About</div><p>doc '),
        F.col("doc_id").cast("string"),
        F.lit('</p><a href="HTTPS://'),
        F.upper(h[0]),
        F.lit(":443/Articles/"),
        ps,
        F.lit('?utm_source=feed&x=1">one</a><a href="http://'),
        h[1],
        F.lit(":80/Articles/"),
        ps,
        F.lit('#frag">two</a><a href="https://'),
        h[2],
        F.lit('/">three</a><a href="/relative/path">rel</a></body></html>'),
    )
    pages = base.select(
        registrable_domain(_host_of(k)).alias("src_domain"), html.alias("html")
    )
    links = pages.select(
        "src_domain",
        F.explode(
            F.regexp_extract_all("html", F.lit(r'href="([^"]+)"'), F.lit(1))
        ).alias("url"),
    )
    dst = registrable_domain(canonical_host(F.col("url")))
    edges = snapshot(
        links.select("src_domain", dst.alias("dst_domain"))
        .filter(
            (F.col("dst_domain") != "") & (F.col("dst_domain") != F.col("src_domain"))
        )
        .groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .selectExpr("src_domain AS src", "dst_domain AS dst", "w")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    return edges, nodes


@register("crawl_linkgraph_pagerank", oracle=_linkgraph_oracle())
def crawl_linkgraph_pagerank(spark, sf_dir):
    """Crawl link-graph extraction + host centrality — the frontier-ranking
    composition: extract ``<a href>`` outlinks from each page's HTML
    (``regexp_extract_all``, map-side), canonicalize each target with the
    SAME ``operators/weburl`` expressions the page-identity dedup uses, roll
    links up to registrable-domain edges (dropping self-links and
    authority-less relative links), and rank hosts with
    ``operators.graph.pagerank_integer`` (4 iterations, d=0.85, integer
    1e-12 rank units) — zero new graph code, pure composition.  Emits
    (domain, out_w, in_w, rank).

    Scale shape: extraction + canonicalization is ONE codegen'd map-side
    projection over the corpus scan (the explode multiplies rows by
    links-per-page, bounded by page size); the host-edge groupBy collapses
    corpus-sized links to a HOST-sized graph (thousands of domains at 100
    TB, after a corpus-sized but near-uniform shuffle), and every PageRank
    iteration then shuffles only the host graph — the big-data stage and
    the iterative stage never touch the same volume.  The oracle unrolls
    the identical integer recurrence from the PLANTED targets, never
    re-parsing HTML, so extraction, canonicalization, self-link discipline
    and rank arithmetic are all under the hash.  cf. reference
    `dags/cms_inpatient_download_unzip.py:22` (fixed-URL ingest — this is
    the stage that turns one URL into a ranked frontier)."""
    edges, nodes = _host_linkgraph(spark, sf_dir)
    ranks = pagerank_integer(edges, nodes, n_iter=_LG_ITERS, scale=_LG_SCALE)
    outd = edges.groupBy("src").agg(F.sum("w").cast("long").alias("out_w"))
    ind = edges.groupBy("dst").agg(F.sum("w").cast("long").alias("in_w"))
    return (
        ranks.withColumnRenamed("node", "domain")
        .join(outd.withColumnRenamed("src", "domain"), "domain", "left")
        .join(ind.withColumnRenamed("dst", "domain"), "domain", "left")
        .select(
            "domain",
            F.coalesce("out_w", F.lit(0)).cast("long").alias("out_w"),
            F.coalesce("in_w", F.lit(0)).cast("long").alias("in_w"),
            "rank",
        )
    )


# --------------------------------------------------------------------------- #
# crawl_revisit_policy — per-domain change-rate estimate -> revisit priority   #
# --------------------------------------------------------------------------- #
# Round-12 directive #4: a crawler's scheduling loop.  The events table is
# the fetch log: page = props.k, domain = site{page%12}.{tld}, and each fetch
# observes a content version that increments every (1 + dk%5)-th fetch of
# the page — a SEQUENCE-based plant, because a wall-clock change period
# makes the observed change RATIO sampling-frequency-dependent (at sparse
# sf0.001 sampling every wall-clock period looks "always changed", at dense
# sf0.1 sampling every period looks "never changed"); the sequence plant
# yields change ratio floor((F-1)/p)/(F-1) ~ 1/(1 + dk%5) at EVERY scale:
# period-1 domains are always hot, period-5 always cold, and all three
# buckets appear at all three testdata scales.  The operator under test is
# the generic lag-based change detector + the integer policy arithmetic —
# it never assumes the plant.


# CTE chain + final SELECT factored so the frontier-schedule composition's
# oracle reuses the policy computation verbatim (no drift possible)
_REVISIT_CTES = f"""f AS (
        SELECT CAST(props->>'k' AS BIGINT) AS page,
               CAST(props->>'k' AS BIGINT) % {_LG_HOSTS} AS dk,
               EPOCH_US(ts) AS us, ts, event_id
        FROM events
    ),
    seq AS (
        SELECT page, dk, us, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY page ORDER BY ts, event_id) AS rn
        FROM f
    ),
    v AS (
        SELECT page, dk, us,
               (rn - 1) // (1 + dk % 5) AS ver,
               LAG((rn - 1) // (1 + dk % 5))
                   OVER (PARTITION BY page ORDER BY ts, event_id) AS prev
        FROM seq
    ),
    c AS (
        SELECT page, dk, us,
               CASE WHEN prev IS NULL THEN NULL
                    WHEN ver <> prev THEN 1 ELSE 0 END AS changed
        FROM v
    ),
    per AS (
        SELECT dk,
               CAST(COUNT(DISTINCT page) AS BIGINT) AS n_pages,
               CAST(COUNT(*) AS BIGINT) AS n_fetches,
               CAST(COALESCE(SUM(changed), 0) AS BIGINT) AS n_changes,
               CAST(COUNT(changed) AS BIGINT) AS n_intervals,
               MAX(us) AS last_us, MIN(us) AS first_us
        FROM c GROUP BY dk
    ),
    now_t AS (SELECT MAX(us) AS now_us FROM c)"""

_REVISIT_FINAL = f"""SELECT 'site' || dk || '.' ||
               CASE dk % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
               AS domain,
           n_pages, n_fetches, n_changes, n_intervals,
           CASE WHEN n_intervals > 0 AND 2 * n_changes >= n_intervals THEN 'hot'
                WHEN n_intervals > 0 AND 4 * n_changes >= n_intervals THEN 'warm'
                ELSE 'cold' END AS change_bucket,
           (last_us - first_us) // NULLIF(n_changes, 0) AS mtbc_us,
           now_us - last_us AS overdue_us,
           COALESCE(
               now_us - last_us >= (last_us - first_us) // NULLIF(n_changes, 0),
               FALSE) AS revisit_due,
           CAST(
               (CASE WHEN n_intervals > 0 AND 2 * n_changes >= n_intervals THEN 0
                     WHEN n_intervals > 0 AND 4 * n_changes >= n_intervals THEN 2
                     ELSE 4 END)
               + (CASE WHEN COALESCE(
                       now_us - last_us >= (last_us - first_us) // NULLIF(n_changes, 0),
                       FALSE) THEN 0 ELSE 1 END)
               AS INTEGER) AS priority_rank
    FROM per, now_t"""


@register(
    "crawl_revisit_policy",
    oracle=f"""
    WITH {_REVISIT_CTES}
    {_REVISIT_FINAL}
    """,
)
def crawl_revisit_policy(spark, sf_dir):
    """Per-domain crawl frequency/recency policy — the scheduler that decides
    WHICH hosts the ranked frontier re-fetches next: estimate each page's
    change rate from consecutive-fetch content versions (lag over the
    per-page fetch timeline), roll up to domains (changes / observed
    intervals, mean-time-between-changes = span div changes), bucket change
    rates by integer cross-multiplication (2c >= n -> hot, 4c >= n -> warm,
    else cold), and combine with staleness (now - last fetch vs MTBC) into
    a total revisit priority rank (0 = hot + overdue ... 5 = cold + fresh).
    Everything is integer epoch-microsecond arithmetic — no float until
    nothing, so the policy hash-matches the oracle bit-exactly.

    Scale shape: ONE page-keyed window (lag on the fetch timeline — the
    partition is a page's fetch history, never corpus-wide), ONE
    domain-keyed groupBy, and a 1-row global-now broadcast; at 100 TB the
    fetch log shuffles once by page and once by domain, both near-uniform
    keys.  The revisit decision per domain is O(domains) rows — the shape a
    frontier scheduler needs to re-plan every cycle."""
    ev = load_table(spark, sf_dir, "events")
    page = F.get_json_object("props", "$.k").cast("long")
    us = F.unix_micros("ts")
    f = ev.select(
        page.alias("page"),
        (page % _LG_HOSTS).alias("dk"),
        "ts",
        "event_id",
        us.alias("us"),
    )
    w = W.partitionBy("page").orderBy("ts", "event_id")
    ver = F.expr("(rn - 1) div (1 + dk % 5)")
    v = (
        f.select("page", "dk", "us", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("ver", ver)
        .withColumn("prev", F.lag("ver").over(w))
    )
    c = v.select(
        "page",
        "dk",
        "us",
        F.when(F.col("prev").isNull(), F.lit(None).cast("int"))
        .when(F.col("ver") != F.col("prev"), 1)
        .otherwise(0)
        .alias("changed"),
    )
    c = snapshot(c)  # the per-domain rollup and the global now both read it
    per = c.groupBy("dk").agg(
        F.countDistinct("page").cast("long").alias("n_pages"),
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.coalesce(F.sum("changed"), F.lit(0)).cast("long").alias("n_changes"),
        F.count("changed").cast("long").alias("n_intervals"),
        F.max("us").alias("last_us"),
        F.min("us").alias("first_us"),
    )
    now = c.agg(F.max("us").alias("now_us"))
    per = per.crossJoin(F.broadcast(now))
    tld = (
        F.when(F.col("dk") % 3 == 0, F.lit("com"))
        .when(F.col("dk") % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    mtbc = F.when(
        F.col("n_changes") > 0,
        F.expr("(last_us - first_us) div n_changes"),
    )
    overdue = F.col("now_us") - F.col("last_us")
    due = F.coalesce(overdue >= mtbc, F.lit(False))
    hot = (F.col("n_intervals") > 0) & (2 * F.col("n_changes") >= F.col("n_intervals"))
    warm = (F.col("n_intervals") > 0) & (4 * F.col("n_changes") >= F.col("n_intervals"))
    bucket = F.when(hot, "hot").when(warm, "warm").otherwise("cold")
    rank = F.when(hot, 0).when(warm, 2).otherwise(4) + F.when(due, 0).otherwise(1)
    return per.select(
        F.concat(F.lit("site"), F.col("dk").cast("string"), F.lit("."), tld).alias(
            "domain"
        ),
        "n_pages",
        "n_fetches",
        "n_changes",
        "n_intervals",
        bucket.alias("change_bucket"),
        mtbc.alias("mtbc_us"),
        overdue.alias("overdue_us"),
        due.alias("revisit_due"),
        rank.cast("int").alias("priority_rank"),
    )


# --------------------------------------------------------------------------- #
# corpus_curation_v9 — the crawl front-end threaded into the standing          #
# curation pipeline (round-13 verdict stretch #9)                              #
# --------------------------------------------------------------------------- #
# Stage chain: URL-canonical dedup (keep first fetch per page identity) ->
# registrable-domain / TLD blocklist gate -> C4 HTML strip + page gate ->
# whitespace-token quality floor -> exact dedup on the CLEANED text ->
# per-domain funnel accounting + uniform-share mixture plan (sample_ppm).
# Fixtures are the module's shared plants (6-spelling URLs; the
# text_html_strip_c4 page, duplicated VERBATIM below rather than factored,
# so this round leaves that green query's code untouched — unify in a later
# rotation).  The oracle is a FULL recompute of every stage (the v8
# discipline): canonicalization, strip rules, gates, dedup and mixture are
# all under one hash.

_V9_MIN_TOKENS = 8  # quality floor on the CLEANED text (ws tokens)

_V9_PAGE_SQL = f"""
    w0 AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS w FROM documents
    ),
    page_html AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || doc_id
          || '</title><style>.m{{color:#fff}}</style>'
          || '<script type="text/javascript">var a=1;</script></head><body>'
          || '<div class="nav">Home | About | Contact</div>'
          || '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 1, 8), ' ') || '.</p>'
          || '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 1, 2), ' ') || '.</p>'
          || '<p>Please enable javascript to view this page.</p>'
          || CASE WHEN LEN(w) >= 20
                  THEN '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 9, 20), ' ') || '?</p>'
                  ELSE '' END
          || CASE WHEN LEN(w) >= 35
                  THEN '<p>' || ARRAY_TO_STRING(LIST_SLICE(w, 21, 32), ' ') || '!</p>'
                  ELSE '' END
          || '<p>copyright terms cookie policy settings menu</p>'
          || CASE WHEN doc_id % 17 = 0 THEN '{_BRACE_LINE}' ELSE '' END
          || CASE WHEN doc_id % 23 = 0 THEN '{_LOREM_LINE}' ELSE '' END
          || '</body></html>' AS html
        FROM w0
    ),
    stripped AS (
        SELECT doc_id,
          STRING_SPLIT(
            REGEXP_REPLACE(
              REGEXP_REPLACE(
                REGEXP_REPLACE(
                  REGEXP_REPLACE(html, '<script[^>]*>.*?</script>', ' ', 'g'),
                  '<style[^>]*>.*?</style>', ' ', 'g'),
                '</p>|</div>|</title>', CHR(10), 'g'),
              '<[^>]*>', ' ', 'g'),
            CHR(10)) AS rawlines
        FROM page_html
    ),
    lined AS (
        SELECT doc_id,
          LIST_FILTER(
            LIST_TRANSFORM(rawlines, x -> TRIM(REGEXP_REPLACE(x, '\\s+', ' ', 'g'))),
            x -> x <> '') AS nl
        FROM stripped
    ),
    keptl AS (
        SELECT doc_id,
          LIST_FILTER(nl, x ->
              REGEXP_MATCHES(x, '[.!?"]$')
              AND LEN(STRING_SPLIT(x, ' ')) >= {MIN_LINE_WORDS}
              AND NOT CONTAINS(LOWER(x), 'javascript')) AS kept
        FROM lined
    ),
    cleanp AS (
        SELECT doc_id,
               COALESCE(ARRAY_TO_STRING(kept, CHR(10)), '') AS clean_text,
               (LEN(kept) >= {MIN_PAGE_LINES}
                AND NOT CONTAINS(COALESCE(ARRAY_TO_STRING(kept, CHR(10)), ''), '{{')
                AND NOT CONTAINS(LOWER(COALESCE(ARRAY_TO_STRING(kept, CHR(10)), '')),
                                 'lorem ipsum')) AS page_kept
        FROM keptl
    )
"""


@register(
    "corpus_curation_v9",
    oracle=f"""
    WITH {_FIXTURE_URLS_SQL},
    {_CANON_PARTS_SQL},
    url_kept AS (
        SELECT MIN(doc_id) AS doc_id FROM canonical GROUP BY canonical_url
    ),
    dom AS (
        SELECT doc_id,
               'site' || k || '.' ||
                   CASE k % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
                   AS domain,
               CASE k % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS tld
        FROM u
    ),
    {_V9_PAGE_SQL},
    blocklist(domain) AS (VALUES {", ".join(f"('{x}')" for x in _BLOCKLIST)}),
    flags AS (
        SELECT dm.doc_id, dm.domain,
               uk.doc_id IS NOT NULL AS s_url,
               (bl.domain IS NOT NULL OR dm.tld = 'net') AS blocked,
               (c.page_kept AND
                LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(c.clean_text), '\\s+'),
                                x -> x != '')) >= {_V9_MIN_TOKENS}) AS q_pass,
               CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(c.clean_text), '\\s+'),
                                    x -> x != '')) AS BIGINT) AS ntok,
               c.clean_text
        FROM dom dm
        JOIN cleanp c ON c.doc_id = dm.doc_id
        LEFT JOIN url_kept uk ON uk.doc_id = dm.doc_id
        LEFT JOIN blocklist bl ON bl.domain = dm.domain
    ),
    surv AS (
        SELECT doc_id, domain, ntok, clean_text FROM flags
        WHERE s_url AND NOT blocked AND q_pass
    ),
    sel AS (
        SELECT doc_id, ntok,
               ROW_NUMBER() OVER (PARTITION BY MD5(clean_text) ORDER BY doc_id) AS rn
        FROM surv
    ),
    keptd AS (SELECT doc_id, ntok FROM sel WHERE rn = 1),
    funnel AS (
        SELECT f.domain,
               CAST(COUNT(*) AS BIGINT) AS docs_in,
               CAST(COUNT(*) FILTER (WHERE f.s_url) AS BIGINT) AS after_url_dedup,
               CAST(COUNT(*) FILTER (WHERE f.s_url AND NOT f.blocked) AS BIGINT)
                   AS after_blocklist,
               CAST(COUNT(*) FILTER (WHERE f.s_url AND NOT f.blocked AND f.q_pass)
                   AS BIGINT) AS after_quality,
               CAST(COUNT(kd.doc_id) AS BIGINT) AS docs_kept,
               CAST(COALESCE(SUM(kd.ntok), 0) AS BIGINT) AS kept_ws_tokens
        FROM flags f LEFT JOIN keptd kd ON kd.doc_id = f.doc_id
        GROUP BY f.domain
    ),
    tot AS (
        SELECT CAST(SUM(kept_ws_tokens) AS BIGINT) AS t_tokens,
               CAST(COUNT(*) FILTER (WHERE kept_ws_tokens > 0) AS BIGINT) AS n_live
        FROM funnel
    )
    SELECT f.domain, f.docs_in, f.after_url_dedup, f.after_blocklist,
           f.after_quality, f.docs_kept, f.kept_ws_tokens,
           CAST(CASE WHEN f.kept_ws_tokens > 0
                THEN LEAST(1000000,
                           ((t.t_tokens // t.n_live) * 1000000) // f.kept_ws_tokens)
                ELSE 0 END AS BIGINT) AS sample_ppm
    FROM funnel f, tot t
    """,
)
def corpus_curation_v9(spark, sf_dir):
    """Curation v9 — the crawl FRONT-END threaded into the standing pipeline
    (the production ordering a web corpus actually runs): (1) URL-canonical
    dedup keeps the first fetch per page identity (the module's 6-spelling
    plant; `operators/weburl` canonicalizer), (2) registrable-domain /
    TLD blocklist gate (broadcast dimension; 'net' TLD policy), (3) C4
    HTML strip + page gate (`operators/htmltext`, the text_html_strip_c4
    plant), (4) whitespace-token quality floor (>= {_V9_MIN_TOKENS} on the
    CLEANED text — stripping first, gating second, the FineWeb ordering),
    (5) exact dedup on the cleaned text (boilerplate removal makes
    previously-distinct pages collide — v7's load-bearing stage order),
    (6) per-domain funnel accounting plus a uniform-share MIXTURE plan:
    surviving domains get sample_ppm = min(1, (total/n_live)/domain_mass)
    in integer ppm — the rebalance knob `sample_language_rebalance`
    demonstrated, here keyed by crawl domain.

    Scale shape: stages 2-4 are ONE map-side codegen'd projection over the
    corpus scan (regex + array HOFs, no Python); the exchanges are the
    canonical-URL groupBy (8-byte page keys), the md5-keyed dedup window
    (payload dropped BEFORE the shuffle — the v6 exchange contract), the
    doc-keyed stage-flag joins, and ONE domain-keyed rollup; the mixture
    tail is a 1-row broadcast.  Every per-doc stage flag survives into the
    funnel, so the report prices each gate's cost — the accounting shape a
    100 TB curation run re-plans against every cycle."""
    d = load_table(spark, sf_dir, "documents")
    base = spread_scan(d.select("doc_id", "text"), "doc_id")
    page = F.expr("doc_id div 3")
    k = page % 12
    tld = (
        F.when(k % 3 == 0, F.lit("com"))
        .when(k % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    domain = F.concat(F.lit("site"), k.cast("string"), F.lit("."), tld)

    # stage 1: URL-canonical dedup over the shared 6-spelling plant
    urls = _fixture_urls(d.select("doc_id"))
    url_kept = (
        urls.select("doc_id", canonicalize_url(F.col("url")).alias("cu"))
        .groupBy("cu")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("s_url"))
    )

    # stages 3-4: the text_html_strip_c4 page plant and strip
    cleanp = _planted_c4(
        base.select("doc_id", "text", domain.alias("domain"), tld.alias("tld"))
    ).select("doc_id", "domain", "tld", "clean_text", "page_kept")
    ntok = F.expr(r"size(filter(split(trim(clean_text), '\\s+'), x -> x != ''))").cast(
        "long"
    )

    bl = (
        spark.createDataFrame([(x,) for x in _BLOCKLIST], "domain string")
        .withColumn("__bl", F.lit(True))
    )
    flags = (
        cleanp.join(url_kept, "doc_id", "left")
        .join(F.broadcast(bl), "domain", "left")
        .select(
            "doc_id",
            "domain",
            F.coalesce("s_url", F.lit(False)).alias("s_url"),
            (F.coalesce("__bl", F.lit(False)) | (F.col("tld") == "net")).alias(
                "blocked"
            ),
            (F.col("page_kept") & (ntok >= _V9_MIN_TOKENS)).alias("q_pass"),
            ntok.alias("ntok"),
            "clean_text",
        )
    )
    flags = snapshot(
        flags.select(
            "doc_id",
            "domain",
            "s_url",
            "blocked",
            "q_pass",
            "ntok",
            # the dedup key is materialized HERE so the window exchange
            # carries 32 hex chars, never the cleaned payload
            F.md5(F.col("clean_text").cast("binary")).alias("dedup_key"),
        )
    )
    surv = flags.filter(F.col("s_url") & ~F.col("blocked") & F.col("q_pass"))
    keptd = keep_first_by_key(surv, "dedup_key").select(
        F.col("doc_id").alias("k_doc"), F.col("ntok").alias("k_ntok")
    )
    funnel = snapshot(
        flags.join(keptd, flags["doc_id"] == keptd["k_doc"], "left")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.col("s_url"), 1).otherwise(0)).cast("long").alias(
                "after_url_dedup"
            ),
            F.sum(F.when(F.col("s_url") & ~F.col("blocked"), 1).otherwise(0))
            .cast("long")
            .alias("after_blocklist"),
            F.sum(
                F.when(F.col("s_url") & ~F.col("blocked") & F.col("q_pass"), 1).otherwise(0)
            )
            .cast("long")
            .alias("after_quality"),
            F.count("k_doc").alias("docs_kept"),
            F.coalesce(F.sum("k_ntok"), F.lit(0)).cast("long").alias("kept_ws_tokens"),
        )
    )
    tot = funnel.agg(
        F.sum("kept_ws_tokens").alias("t_tokens"),
        F.sum(F.when(F.col("kept_ws_tokens") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_live"),
    )
    ppm = F.when(
        F.col("kept_ws_tokens") > 0,
        F.least(
            F.lit(1000000).cast("long"),
            F.expr("((t_tokens div n_live) * 1000000) div kept_ws_tokens"),
        ),
    ).otherwise(F.lit(0))
    return funnel.crossJoin(F.broadcast(tot)).select(
        "domain",
        "docs_in",
        "after_url_dedup",
        "after_blocklist",
        "after_quality",
        "docs_kept",
        "kept_ws_tokens",
        ppm.cast("long").alias("sample_ppm"),
    )


# --------------------------------------------------------------------------- #
# crawl_hits_scores — HITS hubs/authorities on the host link graph             #
# --------------------------------------------------------------------------- #

_HITS_SCALE = 10**6  # hub/authority mass in ppm units
_HITS_ITERS = 2


def _hits_oracle() -> str:
    scale = _HITS_SCALE
    nref = "(SELECT n_nodes FROM n)"
    parts = [
        f"WITH {_linkgraph_cte_chain()}",
        f""",
    hh0 AS (SELECT domain, {scale} // {nref} AS x FROM nodes)""",
    ]
    prev_h = "hh0"
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    ar{i} AS (
        SELECT nodes.domain,
               COALESCE(CAST(SUM(h.x * e.w) AS BIGINT), 0) AS raw
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.domain
        LEFT JOIN {prev_h} h ON h.domain = e.src
        GROUP BY nodes.domain
    ),
    asum{i} AS (SELECT CAST(SUM(raw) AS BIGINT) AS s FROM ar{i}),
    aa{i} AS (SELECT domain, (raw * {scale}) // (SELECT s FROM asum{i}) AS x FROM ar{i}),
    hr{i} AS (
        SELECT nodes.domain,
               COALESCE(CAST(SUM(a.x * e.w) AS BIGINT), 0) AS raw
        FROM nodes
        LEFT JOIN edges e ON e.src = nodes.domain
        LEFT JOIN aa{i} a ON a.domain = e.dst
        GROUP BY nodes.domain
    ),
    hsum{i} AS (SELECT CAST(SUM(raw) AS BIGINT) AS s FROM hr{i}),
    hh{i} AS (SELECT domain, (raw * {scale}) // (SELECT s FROM hsum{i}) AS x FROM hr{i})"""
        )
        prev_h = f"hh{i}"
    parts.append(
        f"""
    SELECT a.domain, h.x AS hub_ppm, a.x AS authority_ppm,
           a.x > {scale} // {nref} AS above_uniform_authority
    FROM aa{_HITS_ITERS} a JOIN hh{_HITS_ITERS} h ON h.domain = a.domain"""
    )
    return "".join(parts)


@register("crawl_hits_scores", oracle=_hits_oracle())
def crawl_hits_scores(spark, sf_dir):
    """HITS hubs/authorities (Kleinberg 1999) over the SAME planted host
    link graph the PageRank query ranks — the second classic frontier
    centrality, and the one that separates 'links to good pages' (hub)
    from 'is linked by good hubs' (authority), which PageRank's single
    score conflates.  Two full iterations in INTEGER ppm units: each half
    step is contribution-sum then L1 renormalization to the 1e6 grid
    (x * scale div sum) — all BIGINT, so the iteration hash-matches the
    unrolled SQL recurrence exactly.

    Scale contract: the contribution product x * w needs
    ``max(w) < 2^63 / (scale * graph_mass_factor)`` — at scale=1e6 that is
    ~9.2e12 of edge weight headroom, 7 orders above the fixture and ample
    for a 100 TB host graph (weights are PAGE counts, hosts cap out in the
    billions); the normalize multiply raw * scale stays under 2^63 for
    total raw mass < 9.2e12 — same ceiling, same loud-failure remedy as
    ``pagerank_integer`` (pre-normalize w or shrink scale; ANSI mode turns
    a breach into an error instead of a wrap).

    Shape: the corpus-sized extraction is shared (one scan, one host-edge
    groupBy via ``_host_linkgraph``); each HITS half-step then shuffles
    only the host graph + a 1-row sum broadcast — iteration cost is
    decoupled from corpus size exactly as in the PageRank query."""
    edges, nodes = _host_linkgraph(spark, sf_dir)
    n_nodes = nodes.count()  # model parameter (the pagerank_integer pattern)
    if n_nodes == 0:
        raise ValueError("crawl_hits_scores: empty host graph")
    init = _HITS_SCALE // n_nodes
    h = nodes.select("node", F.lit(init).alias("x"))
    e = edges.withColumnRenamed("w", "_w")
    for _ in range(_HITS_ITERS):
        # authority: mass flows ALONG edges (sum over in-edges of src hubs)
        a = (
            nodes.join(e, F.col("node") == F.col("dst"), "left")
            .join(
                h.withColumnRenamed("node", "_f").withColumnRenamed("x", "_x"),
                F.col("_f") == F.col("src"),
                "left",
            )
            .groupBy("node")
            .agg(F.coalesce(F.sum(F.col("_x") * F.col("_w")), F.lit(0)).alias("raw"))
        )
        s_a = a.agg(F.sum("raw").alias("s"))
        a = a.crossJoin(F.broadcast(s_a)).select(
            "node", F.expr(f"(raw * {_HITS_SCALE}) div s").alias("x")
        )
        # hub: mass flows AGAINST edges (sum over out-edges of dst authorities)
        hr = (
            nodes.join(e, F.col("node") == F.col("src"), "left")
            .join(
                a.withColumnRenamed("node", "_f").withColumnRenamed("x", "_x"),
                F.col("_f") == F.col("dst"),
                "left",
            )
            .groupBy("node")
            .agg(F.coalesce(F.sum(F.col("_x") * F.col("_w")), F.lit(0)).alias("raw"))
        )
        s_h = hr.agg(F.sum("raw").alias("s"))
        h = hr.crossJoin(F.broadcast(s_h)).select(
            "node", F.expr(f"(raw * {_HITS_SCALE}) div s").alias("x")
        )
    return (
        a.withColumnRenamed("x", "authority_ppm")
        .join(h.withColumnRenamed("x", "hub_ppm"), "node")
        .select(
            F.col("node").alias("domain"),
            "hub_ppm",
            "authority_ppm",
            (F.col("authority_ppm") > F.lit(_HITS_SCALE // n_nodes)).alias(
                "above_uniform_authority"
            ),
        )
    )


# --------------------------------------------------------------------------- #
# crawl_frontier_schedule — centrality x revisit policy -> fetch schedule      #
# --------------------------------------------------------------------------- #

_FRONTIER_BUDGET = 1000  # pages per crawl cycle


@register(
    "crawl_frontier_schedule",
    oracle=f"""
    WITH {_linkgraph_cte_chain()},
    {_REVISIT_CTES},
    policy AS ({_REVISIT_FINAL}),
    due_mass AS (
        SELECT CAST(SUM(r.rank) AS BIGINT) AS rank_due_sum
        FROM r{_LG_ITERS} r JOIN policy p ON p.domain = r.domain
        WHERE p.revisit_due
    )
    SELECT p.domain, r.rank, p.priority_rank, p.revisit_due,
           CAST(ROW_NUMBER() OVER (
               ORDER BY p.priority_rank, r.rank DESC, p.domain) AS BIGINT)
               AS fetch_order,
           CAST(COALESCE(
               CASE WHEN p.revisit_due
                    THEN ({_FRONTIER_BUDGET} * r.rank)
                         // NULLIF(d.rank_due_sum, 0) END,
               0) AS BIGINT) AS budget_pages
    FROM policy p
    JOIN r{_LG_ITERS} r ON r.domain = p.domain
    CROSS JOIN due_mass d
    """,
)
def crawl_frontier_schedule(spark, sf_dir):
    """The crawl scheduler's output artifact — PURE COMPOSITION of the two
    round-14 crawl queries (zero new operator code): join host centrality
    (``crawl_linkgraph_pagerank``) with the revisit policy
    (``crawl_revisit_policy``) on domain, order the frontier by
    (priority_rank asc, rank desc, domain) into a total fetch order, and
    allocate a fixed {_FRONTIER_BUDGET}-page cycle budget across DUE
    domains proportionally to their integer rank (floor division — unspent
    remainder pages stay banked, never over-allocated).  The oracle reuses
    both queries' CTE chains verbatim, so the composition cannot drift
    from its parts.

    Shape: both inputs are domain-sized (the corpus-sized work happened
    inside them); the join, the 1-row due-mass broadcast, and the global
    order window all run on frontier-sized rows — at 100 TB this is the
    single coordinator-scale artifact of the whole crawl cycle, and the
    global window is the bounded-structure exemption (domains, not
    pages)."""
    rank_df = crawl_linkgraph_pagerank(spark, sf_dir).select("domain", "rank")
    pol = crawl_revisit_policy(spark, sf_dir).select(
        "domain", "priority_rank", "revisit_due"
    )
    joined = snapshot(rank_df.join(pol, "domain"))
    due_mass = joined.filter(F.col("revisit_due")).agg(
        F.sum("rank").alias("rank_due_sum")
    )
    w_order = W.orderBy("priority_rank", F.col("rank").desc(), "domain")
    budget = F.when(
        F.col("revisit_due"),
        F.expr(f"({_FRONTIER_BUDGET} * rank) div nullif(rank_due_sum, 0)"),
    )
    return joined.crossJoin(F.broadcast(due_mass)).select(
        "domain",
        "rank",
        "priority_rank",
        "revisit_due",
        F.row_number().over(w_order).cast("long").alias("fetch_order"),
        F.coalesce(budget, F.lit(0)).cast("long").alias("budget_pages"),
    )
