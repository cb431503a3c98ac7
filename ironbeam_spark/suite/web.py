"""Web-corpus queries — the Common-Crawl-style front half of a
pretraining pipeline (north-star, no reference counterpart; registered
after the driver's current 50-query window, driver rows arrive via the
freshness window, oracle-checked by tools/check.py now):

- q_url_canonical / q_domain_stats / q_html_extract — URL
  canonicalization, domain rollups behind a blocklist, C4-style HTML
  text extraction;
- q_link_graph / q_domain_filter — anchor-href domain link graph,
  exact-rational domain-quality gate;
- q_robots_filter — RFC 9309 gating (the oracle's rule table is
  HAND-DERIVED from the raw robots texts: non-mirror evidence);
- q_warc_roundtrip / q_stream_warc_ingest — ISO 28500 WARC sink+source,
  batch and streaming landing-directory ingestion;
- q_web_pipeline — the flagship composite (bench headliner): robots
  gate → blocklist → HTML extract → domain rollup as one plan;
- q_psl_domains — FULL publicsuffix.org semantics (wildcard/exception/
  3-label rules) through registered_domain_via_join; the oracle's
  per-class answers are HAND-DERIVED from the published algorithm;
- q_crawl_to_shards — WARC bytes → training shards end-to-end (bench
  headliner): decode → canonicalize → robots → blocklist → extract →
  quality → exact + MinHash dedup → prefix-sum token packing;
- q_stream_crawl_gate — the same politeness-gated front half as a
  stream-static pipeline over the WARC landing directory;
- q_crawl_schedule — per-domain politeness scheduler: the sequential
  min-delay recurrence unrolled into window algebra (one exchange).

The documents table carries no URL/HTML columns, so each query derives a
deterministic messy input from doc_id (same pattern as q_pii_scrub's
planted PII): mixed-case schemes/hosts, userinfo, default and explicit
ports, duplicate slashes, tracking params, fragments, trailing host
dots, IP hosts, bare single-label hosts — every branch of the
canonicalization contract is exercised by some residue class.  The
oracles re-derive the same inputs and mirror the published rule set
(mirrored-formula class: the from-spec differentials live in
tests/test_web_models.py — urllib.parse / html.parser / PSL-algorithm
ground truth that shares no regex text with the implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironbeam_spark.functions.web import (
    MULTI_LABEL_SUFFIXES,
    TRACKING_PARAM_RE,
    URL_PARSE_RE,
    canonicalize_url,
    html_to_text,
    registered_domain,
    url_host,
)
from ironbeam_spark.operators.web import domain_stats
from ironbeam_spark.plancache import memo_expr
from ironbeam_spark.scale import local_metadata_df
from ironbeam_spark.sources.io import read_table
from ironbeam_spark.streaming import run_to_memory
from ironbeam_spark.suite.registry import QUERIES, query

# Written-WARC corpus cache, keyed by (Spark application id, sf_dir):
# q_warc_roundtrip and q_stream_warc_ingest derive the IDENTICAL corpus
# from the documents table, so repeated invocations (bench warm-up +
# timed passes) reuse one on-disk copy instead of leaking a fresh
# mkdtemp per run and folding the write job into the measured read time.
# The write cost still appears exactly once (first invocation), which is
# the honest end-to-end cost of the roundtrip query.
_WARC_CORPUS_CACHE: dict[tuple[str, str], str] = {}


def _warc_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf_dir) the per-record-gzipped WARC corpus
    derived from the documents table; return its directory."""
    import os
    import tempfile

    from ironbeam_spark.sources.warc import write_warc

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _WARC_CORPUS_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.concat(
            F.lit("http://corpus.local/"), F.col("lang"), F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("uri"),
    )
    path = tempfile.mkdtemp(prefix="ironbeam_warc_corpus_")
    write_warc(docs, path, uri_col="uri", payload_col="text", compress=True)
    _WARC_CORPUS_CACHE[key] = path
    return path

# ---------------------------------------------------------------------------
# deterministic messy-URL derivation (Spark and SQL sides must agree)

_RAW_HOSTS = [
    "WWW.Example.COM",          # case folding + www kept (no www-stripping rule)
    "news.Example.co.uk",       # 2-label public suffix
    "Blog.sample.ORG.",         # trailing dot
    "cdn.static.example.com",   # deep subdomain, same registered domain as 0
    "USER.Pages.GitHub.IO",     # PaaS suffix: registered domain is pages.github.io
    "ads.TRACKER.net",          # blocklisted registered domain
    "192.168.10.5",             # IP literal: no registered domain
    "intranet",                 # single label: no registered domain
]
_SCHEMES = ["HTTPS", "http", "Http"]
_PORTS = [":443", ":80", ":8080", "", ""]
_QUERYSTRINGS = [
    "?utm_source=rss&z=9&a=1",          # tracking param dropped, rest sorted
    "?gclid=abc123",                    # all params dropped -> no '?'
    "?b=2&utm_campaign=x&a=1&a=0",      # duplicate param kept, sorted
    "",
]
_BLOCKLIST = ["tracker.net"]


@memo_expr
def _synth_url(full_id: bool = False) -> F.Column:
    """Deterministic messy URL per doc.  ``full_id=True`` puts the FULL
    doc_id in the path (unique URI per document — the crawl-corpus
    variant, so WARC record identity survives the container roundtrip);
    the default keeps ``doc_id % 97`` (the original web-family shape)."""
    d = F.col("doc_id")
    idx = lambda m: (d % m + 1).cast("int")  # noqa: E731
    return F.concat(
        F.element_at(F.lit(_SCHEMES), idx(3)),
        F.lit("://"),
        F.when(d % 7 == 0, F.lit("crawler:secret@")).otherwise(F.lit("")),
        F.element_at(F.lit(_RAW_HOSTS), idx(8)),
        F.element_at(F.lit(_PORTS), idx(5)),
        F.lit("//crawl//"),
        (d if full_id else d % 97).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.element_at(F.lit(_QUERYSTRINGS), idx(4)),
        F.when(d % 2 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )


def _sql_list(items: list[str] | tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{s}'" for s in items) + "]"


def _synth_url_sql(path_id_sql: str = "(doc_id % 97)") -> str:
    return (
        f"list_extract({_sql_list(_SCHEMES)}, (doc_id % 3 + 1)::INT) || '://'"
        " || CASE WHEN doc_id % 7 = 0 THEN 'crawler:secret@' ELSE '' END"
        f" || list_extract({_sql_list(_RAW_HOSTS)}, (doc_id % 8 + 1)::INT)"
        f" || list_extract({_sql_list(_PORTS)}, (doc_id % 5 + 1)::INT)"
        f" || '//crawl//' || {path_id_sql}::VARCHAR"
        " || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END"
        f" || list_extract({_sql_list(_QUERYSTRINGS)}, (doc_id % 4 + 1)::INT)"
        " || CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END"
    )


_SYNTH_URL_SQL = _synth_url_sql()
_CRAWL_URL_SQL = _synth_url_sql("doc_id")

def _host_sql(url_expr: str) -> str:
    """Canonical host (NULL when absent) of a URL SQL expression."""
    hostport = (
        f"regexp_replace(regexp_extract({url_expr}, '{URL_PARSE_RE}', 2), '^.*@', '')"
    )
    return (
        "nullif(regexp_replace(lower(regexp_replace("
        + hostport
        + ", ':[0-9]*$', '')), '\\.$', ''), '')"
    )


def _domain_sql(host_col: str) -> str:
    """PSL registered-domain CASE chain over a (already canonical) host
    column reference — mirror of functions/web.registered_domain."""
    split = f"string_split({host_col}, '.')"
    return f"""CASE WHEN {host_col} IS NULL
                OR regexp_matches({host_col}, '^[0-9]+(\\.[0-9]+){{3}}$')
                OR len({split}) < 2 THEN NULL
           WHEN list_contains({_sql_list(MULTI_LABEL_SUFFIXES)},
                              array_to_string({split}[-2:], '.'))
                THEN CASE WHEN len({split}) >= 3
                          THEN array_to_string({split}[-3:], '.') END
           ELSE array_to_string({split}[-2:], '.') END"""


# the canonicalization rule set from functions/web.py, as DuckDB CTEs
# (regex text interpolated from the same constants the engine compiles);
# parametrized on the URL derivation so the crawl-corpus variant (full
# doc_id in the path) shares the identical rule chain
def _canon_ctes(url_sql: str) -> str:
    return _CANON_CTES_TEMPLATE.replace("__URL_SQL__", url_sql)


_CANON_CTES_TEMPLATE = f"""
  urls AS (
    SELECT doc_id, n_chars, lang, source, __URL_SQL__ AS url
    FROM documents
  ),
  parsed AS (
    SELECT *,
      lower(regexp_extract(url, '{URL_PARSE_RE}', 1)) AS scheme,
      regexp_replace(regexp_extract(url, '{URL_PARSE_RE}', 2), '^.*@', '') AS hostport,
      regexp_extract(url, '{URL_PARSE_RE}', 3) AS rawpath,
      regexp_extract(url, '{URL_PARSE_RE}', 4) AS rawquery
    FROM urls
  ),
  hosted AS (
    SELECT *,
      regexp_replace(lower(regexp_replace(hostport, ':[0-9]*$', '')), '\\.$', '') AS host,
      regexp_extract(hostport, ':([0-9]+)$', 1) AS port
    FROM parsed
  ),
  pathq AS (
    SELECT *,
      CASE WHEN p1 = '' THEN '/'
           WHEN length(p1) > 1 AND p1 LIKE '%/' THEN regexp_replace(p1, '/$', '')
           ELSE p1 END AS path,
      array_to_string(list_sort(list_filter(string_split(rawquery, '&'),
        p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))), '&') AS qs
    FROM (SELECT *, regexp_replace(rawpath, '/{{2,}}', '/', 'g') AS p1 FROM hosted)
  ),
  canon AS (
    SELECT *,
      CASE WHEN scheme <> '' AND host <> '' THEN
        scheme || '://' || host ||
        CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                   OR (scheme = 'https' AND port = '443'))
             THEN ':' || port ELSE '' END ||
        path || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
      END AS canonical_url,
      CASE WHEN host = '' THEN NULL ELSE host END AS chost
    FROM pathq
  ),
  domained AS (
    SELECT *, {_domain_sql('chost')} AS domain
    FROM canon
  )
"""

_CANON_CTES = _canon_ctes(_SYNTH_URL_SQL)
_CRAWL_CANON_CTES = _canon_ctes(_CRAWL_URL_SQL)


@query(
    "q_url_canonical",
    f"""
    WITH {_CANON_CTES}
    SELECT doc_id, canonical_url, chost AS host, domain AS registered_domain
    FROM domained
    ORDER BY doc_id
    """,
    doc=(
        "URL canonicalization (north-star web curation): scheme/host folding, "
        "userinfo + default-port + fragment stripping, slash collapsing, "
        "tracking-param removal with bytewise param sort, PSL registered "
        "domain — all whole-stage-codegen expressions (functions/web.py), "
        "zero UDFs/shuffles; the exact-URL dedup key C4 §2.1 dedups on"
    ),
)
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select("doc_id", _synth_url().alias("url"))
    host = url_host("url")
    return urls.select(
        "doc_id",
        canonicalize_url("url").alias("canonical_url"),
        host.alias("host"),
        registered_domain(host).alias("registered_domain"),
    ).orderBy("doc_id")


@query(
    "q_domain_stats",
    f"""
    WITH {_CANON_CTES}
    SELECT domain AS registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT chost) AS BIGINT) AS n_hosts,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM domained
    WHERE domain IS NOT NULL AND domain NOT IN ({", ".join(f"'{d}'" for d in _BLOCKLIST)})
    GROUP BY domain
    ORDER BY registered_domain
    """,
    doc=(
        "per-domain curation rollup (north-star web curation): registered-"
        "domain rollup of doc volume / distinct hosts / exact char mass / "
        "language spread after a broadcast LEFT ANTI blocklist join "
        "(operators/web.py) — one aggregation shuffle on the low-cardinality "
        "domain key; the RefinedWeb-style domain accounting pass"
    ),
)
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select("doc_id", "n_chars", "lang", _synth_url().alias("url"))
    return domain_stats(
        urls,
        "url",
        blocklist=_BLOCKLIST,
        agg_cols={
            "sum_chars": F.sum("n_chars").cast("long"),
            "n_langs": F.countDistinct("lang"),
        },
    ).orderBy("registered_domain")


# ---------------------------------------------------------------------------
# HTML extraction

_HTML_PREFIX = "<html><!-- id "
_HTML_HEAD = (
    " --><head><title>Doc "
)
_HTML_AFTER_TITLE = (
    '</title><style>p { color: red; }</style>'
    '<script type="text/javascript">if (1 < 2) { document.write("<p>junk</p>"); }</script>'
    "</head><body><h1>Doc &amp; "
)
_HTML_AFTER_H1 = "</h1><p>"
_HTML_AFTER_TEXT = '</p><div class="meta">chars &lt; '
_HTML_AFTER_CHARS = " &nbsp;total</div><ul><li>lang: "
_HTML_AFTER_LANG = "</li><li>src: "
_HTML_SUFFIX = "</li></ul></body></html>"


@memo_expr
def _synth_html() -> F.Column:
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.lit(_HTML_PREFIX), d,
        F.lit(_HTML_HEAD), d,
        F.lit(_HTML_AFTER_TITLE), d,
        F.lit(_HTML_AFTER_H1), F.col("text"),
        F.lit(_HTML_AFTER_TEXT), F.col("n_chars").cast("string"),
        F.lit(_HTML_AFTER_CHARS), F.col("lang"),
        F.lit(_HTML_AFTER_LANG), F.col("source"),
        F.lit(_HTML_SUFFIX),
    )


_SYNTH_HTML_SQL = (
    f"'{_HTML_PREFIX}' || doc_id::VARCHAR"
    f" || '{_HTML_HEAD}' || doc_id::VARCHAR"
    f" || '{_HTML_AFTER_TITLE}' || doc_id::VARCHAR"
    f" || '{_HTML_AFTER_H1}' || text"
    f" || '{_HTML_AFTER_TEXT}' || n_chars::VARCHAR"
    f" || '{_HTML_AFTER_CHARS}' || lang"
    f" || '{_HTML_AFTER_LANG}' || source"
    f" || '{_HTML_SUFFIX}'"
)

_BLOCK_TAG_RE_SQL = (
    r"(?i)</?(?:p|br|div|li|ul|ol|h[1-6]|tr|td|th|table|blockquote"
    r"|section|article|header|footer)\b[^>]*>"
)

_EXTRACT_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "replace(replace(replace(replace(replace(replace(replace("
    "regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(html, '(?s)<!--.*?-->', '', 'g')"
    ", '(?is)<script\\b[^>]*>.*?</script\\s*>', '', 'g')"
    ", '(?is)<style\\b[^>]*>.*?</style\\s*>', '', 'g')"
    ", '(?is)<noscript\\b[^>]*>.*?</noscript\\s*>', '', 'g')"
    ", '(?is)<template\\b[^>]*>.*?</template\\s*>', '', 'g')"
    f", '{_BLOCK_TAG_RE_SQL}', chr(10), 'g')"
    ", '(?s)<[^>]*>', '', 'g')"
    ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), "
    "'&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&')"
    ", '[ \\t]+', ' ', 'g')"
    ", ' ?\\n ?', chr(10), 'g')"
    ", '\\n{2,}', chr(10), 'g')"
    ", '^\\s+|\\s+$', '', 'g')"
)


@query(
    "q_html_extract",
    f"""
    WITH wrapped AS (
      SELECT doc_id, {_SYNTH_HTML_SQL} AS html FROM documents
    ),
    extracted AS (
      SELECT doc_id, {_EXTRACT_SQL} AS txt FROM wrapped
    )
    SELECT doc_id,
           md5(txt) AS text_md5,
           CAST(len(string_split(txt, chr(10))) AS BIGINT) AS n_lines,
           CAST(length(txt) AS BIGINT) AS n_chars_clean
    FROM extracted
    ORDER BY doc_id
    """,
    doc=(
        "HTML text extraction (north-star web curation, C4-style): comment/"
        "script/style removal WITH content, block-tag newlines, tag strip, "
        "core entity decode, whitespace normalization — a pure regexp_replace "
        "chain (functions/web.html_to_text) in the scan stage, RE2-safe so "
        "the oracle shares the exact pattern text; from-spec html.parser "
        "differential in tests/test_web_models.py"
    ),
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wrapped = docs.select("doc_id", _synth_html().alias("html"))
    extracted = wrapped.select("doc_id", html_to_text("html").alias("txt"))
    return extracted.select(
        "doc_id",
        F.md5("txt").alias("text_md5"),
        F.size(F.split("txt", "\n", -1)).cast("long").alias("n_lines"),
        F.length("txt").cast("long").alias("n_chars_clean"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# domain-level link graph + domain-quality gating

from ironbeam_spark.functions.web import HREF_RE, extract_links  # noqa: E402
from ironbeam_spark.operators.web import domain_filter  # noqa: E402

_LINK_SUFFIXES = ["?utm_source=feed&x=1", "#top", ""]


def _link_url_spark(i: int) -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.lit("Http://"),
        F.element_at(F.lit(_RAW_HOSTS), ((d + 3 * i + 1) % 8 + 1).cast("int")),
        F.lit("/p/"),
        ((d + i) % 50).cast("string"),
        F.lit(_LINK_SUFFIXES[i]),
    )


def _link_url_sql(i: int) -> str:
    return (
        f"'Http://' || list_extract({_sql_list(_RAW_HOSTS)},"
        f" ((doc_id + {3 * i + 1}) % 8 + 1)::INT)"
        f" || '/p/' || ((doc_id + {i}) % 50)::VARCHAR || '{_LINK_SUFFIXES[i]}'"
    )


def _links_html_spark() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.lit('<div><a href="'), _link_url_spark(0), F.lit('">l0</a>'),
        F.when(
            d % 3 >= 1,
            F.concat(F.lit('<a href="'), _link_url_spark(1), F.lit('">l1</a>')),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 2,
            F.concat(F.lit('<a href="'), _link_url_spark(2), F.lit('">l2</a>')),
        ).otherwise(F.lit("")),
        F.lit("</div>"),
    )


_LINKS_HTML_SQL = (
    f"""'<div><a href="' || {_link_url_sql(0)} || '">l0</a>'"""
    f""" || CASE WHEN doc_id % 3 >= 1 THEN '<a href="' || {_link_url_sql(1)} || '">l1</a>' ELSE '' END"""
    f""" || CASE WHEN doc_id % 3 = 2 THEN '<a href="' || {_link_url_sql(2)} || '">l2</a>' ELSE '' END"""
    " || '</div>'"
)


@query(
    "q_link_graph",
    f"""
    WITH {_CANON_CTES},
    linked AS (
      SELECT domain AS src_domain, doc_id, {_LINKS_HTML_SQL} AS html
      FROM domained
      WHERE domain IS NOT NULL
    ),
    hrefs AS (
      SELECT src_domain,
             unnest(regexp_extract_all(html, '{HREF_RE}', 1)) AS href
      FROM linked
    ),
    dhosts AS (
      SELECT src_domain, {_host_sql('href')} AS dhost FROM hrefs
    ),
    edges AS (
      SELECT src_domain, {_domain_sql('dhost')} AS dst_domain FROM dhosts
    )
    SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
    FROM edges
    WHERE dst_domain IS NOT NULL
    GROUP BY src_domain, dst_domain
    ORDER BY src_domain, dst_domain
    """,
    doc=(
        "domain-level link graph (north-star web curation): href extraction "
        "from anchor tags (regexp_extract_all, scan-stage), per-href "
        "canonical host + PSL registered domain, explode -> one aggregation "
        "shuffle on the (src,dst) domain pair — the web-graph construction "
        "pass whose output feeds PageRank-style domain ranking; IP-host and "
        "suffix-only link targets drop as NULL"
    ),
)
def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.web import with_registered_domain

    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select("doc_id", _synth_url().alias("url"))
    base = with_registered_domain(urls, "url")
    linked = base.where(F.col("registered_domain").isNotNull()).select(
        F.col("registered_domain").alias("src_domain"),
        _links_html_spark().alias("html"),
    )
    hrefs = linked.select(
        "src_domain", F.explode(extract_links("html")).alias("href")
    )
    dst = registered_domain(url_host("href"))
    edges = hrefs.select("src_domain", dst.alias("dst_domain")).where(
        dst.isNotNull()
    )
    return (
        edges.groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .orderBy("src_domain", "dst_domain")
    )


# planted domain-quality signal: docs on hosts 1 (example.co.uk) and 5
# (tracker.net) score n_chars % 40 (mean < 40); every other domain scores
# 100 + n_chars % 40 (mean >= 100) — threshold 60 splits them exactly
_STAT_SQL = (
    "CASE WHEN doc_id % 8 IN (1, 5) THEN n_chars % 40"
    " ELSE 100 + n_chars % 40 END"
)


def _stat_spark() -> F.Column:
    d = F.col("doc_id")
    return F.when(
        (d % 8 == 1) | (d % 8 == 5), F.col("n_chars") % 40
    ).otherwise(F.lit(100) + F.col("n_chars") % 40)


@query(
    "q_domain_filter",
    f"""
    WITH {_CANON_CTES},
    statted AS (
      SELECT doc_id, domain AS registered_domain, {_STAT_SQL} AS stat
      FROM domained
      WHERE domain IS NOT NULL
    ),
    kept_domains AS (
      SELECT registered_domain
      FROM statted
      GROUP BY registered_domain
      HAVING sum(stat) * 1000 >= count(*) * 60000
    )
    SELECT doc_id, registered_domain
    FROM statted
    WHERE registered_domain IN (SELECT registered_domain FROM kept_domains)
    ORDER BY doc_id
    """,
    doc=(
        "domain-level quality gate (north-star web curation, Gopher/"
        "RefinedWeb-style drop-the-whole-domain filtering): per-domain mean "
        "of a quality stat via EXACT rational compare (sum*scale >= "
        "count*threshold, int64 — no FP mean), then a broadcast LEFT SEMI "
        "join back onto the corpus (operators/web.domain_filter) — one "
        "domain-key aggregation shuffle, never a corpus shuffle"
    ),
)
def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id", _synth_url().alias("url"), _stat_spark().alias("stat")
    )
    kept = domain_filter(urls, "url", "stat", min_mean=60.0)
    return kept.select("doc_id", "registered_domain").orderBy("doc_id")


@query(
    "q_warc_roundtrip",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc=(
        "WARC sink+source end-to-end (north-star web-corpus I/O, ISO 28500 "
        "— the Common Crawl container): partition-parallel write with one "
        "gzip MEMBER per record (CC's record-random-access layout), "
        "binaryFile + Arrow-batched multi-member decode back, doc identity "
        "recovered from WARC-Target-URI, payload decoded and aggregated — "
        "oracle computes the same aggregate straight from parquet, so any "
        "header/framing corruption breaks the value hash"
    ),
)
def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.sources.warc import read_warc

    path = _warc_corpus(spark, sf_dir)
    back = read_warc(spark, path)
    parsed = back.select(
        F.regexp_extract("target_uri", r"^http://corpus\.local/([a-z]+)/([0-9]+)$", 1)
        .alias("lang"),
        F.regexp_extract("target_uri", r"^http://corpus\.local/([a-z]+)/([0-9]+)$", 2)
        .cast("long")
        .alias("doc_id"),
        F.length(F.col("payload").cast("string")).alias("n_chars_payload"),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_payload").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# robots.txt gating (RFC 9309)

# per-domain robots texts the engine PARSES at query time; the oracle's
# rule table below is HAND-DERIVED from these texts per RFC 9309, so the
# oracle doubles as non-mirror evidence for the parser (a parsing or
# group-selection bug diverges from the hand answers and fails the hash)
_ROBOTS_TXT = {
    "example.com": (
        "# corpus robots\n"
        "User-agent: ironbeam\n"
        "Allow: /crawl/\n"
        "Disallow: /crawl/1*\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    ),
    "example.co.uk": (
        "User-agent: other-bot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: IronBeam\n"
        "User-agent: second-bot\n"
        "Disallow: /crawl/4\n"
        "Allow: /crawl/44\n"
    ),
    "sample.org": (
        "User-agent: *\n"
        "Allow: /crawl/2$\n"
        "Disallow: /crawl/2\n"
    ),
    "tracker.net": "User-agent: *\nDisallow:\n",  # empty pattern: allow all
}

# hand-derived ironbeam rule set (domain, allow_i, rule_len, like_pat):
# example.com's specific group SILENCES its '*' group; tracker.net's
# empty Disallow drops; pages.github.io has no robots at all
_ROBOTS_ORACLE_RULES = """
    VALUES ('example.com',   1, 7, '/crawl/%'),
           ('example.com',   0, 9, '/crawl/1%'),
           ('example.co.uk', 0, 8, '/crawl/4%'),
           ('example.co.uk', 1, 9, '/crawl/44%'),
           ('sample.org',    1, 9, '/crawl/2'),
           ('sample.org',    0, 8, '/crawl/2%')
"""


@query(
    "q_robots_filter",
    f"""
    WITH {_CANON_CTES},
    paths AS (
      SELECT doc_id, domain AS registered_domain, path
      FROM domained WHERE domain IS NOT NULL
    ),
    rules(registered_domain, allow_i, rule_len, like_pat) AS ({_ROBOTS_ORACLE_RULES}),
    matched AS (
      SELECT p.doc_id, r.allow_i,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY r.rule_len DESC, r.allow_i DESC) AS rn
      FROM paths p
      JOIN rules r ON p.registered_domain = r.registered_domain
                  AND p.path LIKE r.like_pat ESCAPE '!'
    )
    SELECT p.doc_id, p.registered_domain, p.path,
           coalesce(m.allow_i = 1, TRUE) AS robots_allowed
    FROM paths p
    LEFT JOIN (SELECT doc_id, allow_i FROM matched WHERE rn = 1) m USING (doc_id)
    ORDER BY p.doc_id
    """,
    doc=(
        "robots.txt gating (north-star crawl politeness, RFC 9309): raw "
        "robots texts parsed via expression+window work on the metadata-"
        "scale robots table (record grouping, specific-agent-silences-star "
        "selection, trailing-$ anchor, * wildcards as LIKE translation), "
        "then ONE broadcast join + per-row HOF fold picks the longest-match/"
        "Allow-wins verdict — the corpus never shuffles.  The oracle's rule "
        "table is HAND-DERIVED from the same texts, so it is non-mirror "
        "evidence for the parser; the from-spec loop model lives in "
        "tests/test_robots.py"
    ),
)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.web import url_path
    from ironbeam_spark.operators.robots import robots_filter
    from ironbeam_spark.operators.web import with_registered_domain

    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select("doc_id", _synth_url().alias("url"))
    base = with_registered_domain(urls, "url")
    paths = base.where(F.col("registered_domain").isNotNull()).select(
        "doc_id", "registered_domain", url_path("url").alias("path")
    )
    robots = local_metadata_df(
        spark, sorted(_ROBOTS_TXT.items()),
        "registered_domain string, robots_txt string",
    )  # JVM-literal local frame: a parallelized createDataFrame would pay
    # one Python task per default-parallelism slice on every action (opt r12)
    out = robots_filter(
        paths, "path", robots, "ironbeam",
        key_col="registered_domain", verdict_col="robots_allowed",
    )
    return out.select(
        "doc_id", "registered_domain", "path", "robots_allowed"
    ).orderBy("doc_id")


@query(
    "q_web_pipeline",
    f"""
    WITH {_CANON_CTES},
    paths AS (
      SELECT doc_id, domain AS registered_domain, path
      FROM domained WHERE domain IS NOT NULL
    ),
    rules(registered_domain, allow_i, rule_len, like_pat) AS ({_ROBOTS_ORACLE_RULES}),
    matched AS (
      SELECT p.doc_id, r.allow_i,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY r.rule_len DESC, r.allow_i DESC) AS rn
      FROM paths p
      JOIN rules r ON p.registered_domain = r.registered_domain
                  AND p.path LIKE r.like_pat ESCAPE '!'
    ),
    gated AS (
      SELECT p.doc_id, p.registered_domain FROM paths p
      LEFT JOIN (SELECT doc_id, allow_i FROM matched WHERE rn = 1) m USING (doc_id)
      WHERE coalesce(m.allow_i = 1, TRUE)
        AND p.registered_domain NOT IN ({", ".join(f"'{d}'" for d in _BLOCKLIST)})
    ),
    wrapped AS (
      SELECT doc_id, g.registered_domain, {_SYNTH_HTML_SQL} AS html
      FROM gated g JOIN documents USING (doc_id)
    ),
    extracted AS (
      SELECT doc_id, registered_domain, {_EXTRACT_SQL} AS txt FROM wrapped
    )
    SELECT registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(txt)) AS BIGINT) AS sum_chars_clean,
           md5(string_agg(md5(txt), '' ORDER BY doc_id)) AS corpus_md5
    FROM extracted
    GROUP BY registered_domain
    ORDER BY registered_domain
    """,
    bench=True,
    doc=(
        "web-curation composite (north-star flagship for the r11 web "
        "family): synth URL+HTML corpus → RFC 9309 robots gate (broadcast "
        "+ HOF fold, hand-derived-rule oracle) → blocklist drop → C4-style "
        "HTML text extraction in the scan stage → per-domain rollup with an "
        "order-pinned corpus digest.  One domain-key aggregation shuffle "
        "end-to-end; every per-row stage is whole-stage-codegen expression "
        "work — the Common-Crawl front half as ONE declarative plan"
    ),
)
def q_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.web import url_path
    from ironbeam_spark.operators.robots import robots_filter
    from ironbeam_spark.operators.web import blocklist_filter, with_registered_domain
    from ironbeam_spark.scale import ensure_min_parallelism

    # single-file corpus ⇒ one scan split ⇒ the whole canonicalize/robots/
    # extract expression chain (all under broadcast joins, no exchange
    # until the rollup) would run on ONE core; round-robin up to cluster
    # parallelism first — a no-op at scale where the scan has many splits
    # (guide §2.5 input skew; optimization r12)
    docs = ensure_min_parallelism(read_table(spark, sf_dir, "documents"))
    base = with_registered_domain(
        docs.select("doc_id", "text", "lang", "source", "n_chars",
                    _synth_url().alias("url")),
        "url",
    )
    paths = base.where(F.col("registered_domain").isNotNull()).withColumn(
        "path", url_path("url")
    )
    robots = local_metadata_df(
        spark, sorted(_ROBOTS_TXT.items()),
        "registered_domain string, robots_txt string",
    )  # JVM-literal local frame: a parallelized createDataFrame would pay
    # one Python task per default-parallelism slice on every action (opt r12)
    gated = robots_filter(
        paths, "path", robots, "ironbeam", key_col="registered_domain"
    )
    kept = blocklist_filter(gated, "registered_domain", _BLOCKLIST)
    extracted = kept.select(
        "doc_id",
        "registered_domain",
        html_to_text(_synth_html()).alias("txt"),
    )
    per_doc = extracted.select(
        "doc_id", "registered_domain",
        F.length("txt").alias("n_chars_clean"),
        F.md5("txt").alias("doc_md5"),
    )
    return (
        per_doc.groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_clean").cast("long").alias("sum_chars_clean"),
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "doc_md5"))
                    ).getField("doc_md5"),
                    "",
                )
            ).alias("corpus_md5"),
        )
        .orderBy("registered_domain")
    )


@query(
    "q_stream_warc_ingest",
    # Trigger.AvailableNow over a bounded landing directory is batch-
    # equivalent, so the straight-parquet aggregate is an exact oracle
    # (stream-vs-batch equivalence also pytest-asserted in tests/test_warc.py)
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc=(
        "streaming WARC ingestion (north-star web-corpus streaming, beyond "
        "reference scope): documents written as per-record-gzipped WARC "
        "shards into a landing directory, then readStream(binaryFile) → "
        "the same Arrow-batched record decode as batch → aggregate → memory "
        "sink under Trigger.AvailableNow — the continuous crawl-ingestion "
        "shape (new shards picked up per micro-batch); per-file parallelism "
        "identical to batch"
    ),
)
def q_stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.sources.warc import read_warc_streaming

    path = _warc_corpus(spark, sf_dir)

    parsed = read_warc_streaming(spark, path).select(
        F.regexp_extract("target_uri", r"^http://corpus\.local/([a-z]+)/[0-9]+$", 1)
        .alias("lang"),
        F.length(F.col("payload").cast("string")).alias("n_chars_payload"),
    )
    agg = parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_payload").cast("long").alias("sum_chars"),
    )
    return run_to_memory(agg, "q_stream_warc_ingest_sink", "complete").orderBy("lang")


# ---------------------------------------------------------------------------
# full publicsuffix.org semantics (wildcard / exception / 3-label rules)

# Real PSL entries exercising every rule class the published algorithm
# defines: a 2-label normal rule, a 3-label normal rule, wildcard rules
# (``*`` consumes one host label) at two depths, and the exception rules
# that carve registrable domains back out of the wildcards.
_PSL_RULES = (
    "co.uk",
    "*.ck",
    "!www.ck",
    "pref.hokkaido.jp",
    "*.kawasaki.jp",
    "!city.kawasaki.jp",
)

# residue classes m = doc_id % 12 → synthesized host; the oracle's
# expected registered domain per class is HAND-DERIVED from the
# publicsuffix.org algorithm (it never runs the algorithm itself — the
# same non-mirror oracle pattern as q_robots_filter):
#   m=0  site<id>.com              → site<id>.com        (default rule '*')
#   m=1  www.site<id>.co.uk        → site<id>.co.uk      (2-label rule)
#   m=2  co.uk                     → NULL                (host IS the suffix)
#   m=3  www.ck                    → www.ck              (!www.ck beats *.ck)
#   m=4  shop<id>.ck               → NULL                (*.ck: host IS a suffix)
#   m=5  www.shop<id>.ck           → www.shop<id>.ck     (*.ck + one label)
#   m=6  img.cdn<id>.pref.hokkaido.jp → cdn<id>.pref.hokkaido.jp (3-label rule)
#   m=7  pref.hokkaido.jp          → NULL                (host IS the suffix)
#   m=8  city.kawasaki.jp          → city.kawasaki.jp    (exception rule)
#   m=9  sub<id>.city.kawasaki.jp  → city.kawasaki.jp    (exception rule)
#   m=10 a.b<id>.kawasaki.jp       → a.b<id>.kawasaki.jp (*.kawasaki.jp + one)
#   m=11 10.0.<id%200>.7           → NULL                (IPv4 literal)


@query(
    "q_psl_domains",
    """
    WITH hosts AS (
      SELECT doc_id,
             CASE doc_id % 12
               WHEN 0 THEN 'site' || CAST(doc_id AS VARCHAR) || '.com'
               WHEN 1 THEN 'www.site' || CAST(doc_id AS VARCHAR) || '.co.uk'
               WHEN 2 THEN 'co.uk'
               WHEN 3 THEN 'www.ck'
               WHEN 4 THEN 'shop' || CAST(doc_id AS VARCHAR) || '.ck'
               WHEN 5 THEN 'www.shop' || CAST(doc_id AS VARCHAR) || '.ck'
               WHEN 6 THEN 'img.cdn' || CAST(doc_id AS VARCHAR) || '.pref.hokkaido.jp'
               WHEN 7 THEN 'pref.hokkaido.jp'
               WHEN 8 THEN 'city.kawasaki.jp'
               WHEN 9 THEN 'sub' || CAST(doc_id AS VARCHAR) || '.city.kawasaki.jp'
               WHEN 10 THEN 'a.b' || CAST(doc_id AS VARCHAR) || '.kawasaki.jp'
               ELSE '10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
             END AS host
      FROM documents
    )
    SELECT doc_id, host,
           CASE doc_id % 12
             WHEN 0 THEN host
             WHEN 1 THEN 'site' || CAST(doc_id AS VARCHAR) || '.co.uk'
             WHEN 3 THEN 'www.ck'
             WHEN 5 THEN host
             WHEN 6 THEN 'cdn' || CAST(doc_id AS VARCHAR) || '.pref.hokkaido.jp'
             WHEN 8 THEN 'city.kawasaki.jp'
             WHEN 9 THEN 'city.kawasaki.jp'
             WHEN 10 THEN host
             ELSE NULL
           END AS registered_domain
    FROM hosts
    ORDER BY doc_id
    """,
    doc=(
        "FULL publicsuffix.org registered-domain extraction (north-star web "
        "curation): wildcard rules (*.ck — '*' consumes one host label), "
        "exception rules (!www.ck — prevails over every other match, public "
        "suffix = rule minus leftmost label), 3-label normal rules "
        "(pref.hokkaido.jp), longest-match, and the implicit default rule, "
        "via operators/web.registered_domain_via_join: one tiny broadcast "
        "table per rule label-count, all-broadcast-join plan, zero corpus "
        "shuffles.  The oracle's per-residue-class answers are HAND-DERIVED "
        "from the published algorithm (non-mirror: the oracle never runs "
        "PSL logic, q_robots_filter pattern)"
    ),
)
def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.web import registered_domain_via_join

    docs = read_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 12
    i = F.col("doc_id").cast("string")
    host = (
        F.when(m == 0, F.concat(F.lit("site"), i, F.lit(".com")))
        .when(m == 1, F.concat(F.lit("www.site"), i, F.lit(".co.uk")))
        .when(m == 2, F.lit("co.uk"))
        .when(m == 3, F.lit("www.ck"))
        .when(m == 4, F.concat(F.lit("shop"), i, F.lit(".ck")))
        .when(m == 5, F.concat(F.lit("www.shop"), i, F.lit(".ck")))
        .when(m == 6, F.concat(F.lit("img.cdn"), i, F.lit(".pref.hokkaido.jp")))
        .when(m == 7, F.lit("pref.hokkaido.jp"))
        .when(m == 8, F.lit("city.kawasaki.jp"))
        .when(m == 9, F.concat(F.lit("sub"), i, F.lit(".city.kawasaki.jp")))
        .when(m == 10, F.concat(F.lit("a.b"), i, F.lit(".kawasaki.jp")))
        .otherwise(
            F.concat(F.lit("10.0."), (F.col("doc_id") % 200).cast("string"), F.lit(".7"))
        )
    )
    hosts = docs.select("doc_id", host.alias("host"))
    out = registered_domain_via_join(hosts, "host", suffixes=_PSL_RULES)
    return out.select("doc_id", "host", "registered_domain").orderBy("doc_id")


# ---------------------------------------------------------------------------
# WARC → training shards: the full crawl-to-corpus pipeline as ONE plan

# crawl-corpus variant of the WARC cache: uri = _synth_url(full_id=True)
# (unique per document — record identity survives the container), payload
# = the synthetic HTML page.  Same cache discipline as _warc_corpus.
_CRAWL_CORPUS_CACHE: dict[tuple[str, str], str] = {}


def _crawl_warc_corpus(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from ironbeam_spark.sources.warc import write_warc

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _CRAWL_CORPUS_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    # repartition(32): one WARC shard per slot — binaryFile reads are
    # per-file-parallel, so a single-file corpus would serialize the whole
    # downstream decode+canonicalize+robots chain onto one task.  This is
    # also the honest container layout: Common Crawl ships ~100 MB
    # segment files by the thousand, never one monolith.
    docs = (
        read_table(spark, sf_dir, "documents")
        .select(
            _synth_url(full_id=True).alias("uri"),
            _synth_html().alias("page"),
        )
        .repartition(32)
    )
    path = tempfile.mkdtemp(prefix="ironbeam_crawl_warc_")
    write_warc(docs, path, uri_col="uri", payload_col="page", compress=True)
    _CRAWL_CORPUS_CACHE[key] = path
    return path


def _crawl_to_shards_sql() -> str:
    from ironbeam_spark.suite.text_ml import _MINHASH_CTES, _TOKS_SQL

    minhash = _MINHASH_CTES.replace("FROM documents", "FROM exact")
    blocklist = ", ".join(f"'{d}'" for d in _BLOCKLIST)
    return f"""
    WITH RECURSIVE {_CRAWL_CANON_CTES},
    cpaths AS (
      SELECT doc_id, domain AS registered_domain, path
      FROM domained WHERE domain IS NOT NULL
    ),
    crules(registered_domain, allow_i, rule_len, like_pat) AS ({_ROBOTS_ORACLE_RULES}),
    cmatched AS (
      SELECT p.doc_id, r.allow_i,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY r.rule_len DESC, r.allow_i DESC) AS rn
      FROM cpaths p
      JOIN crules r ON p.registered_domain = r.registered_domain
                   AND p.path LIKE r.like_pat ESCAPE '!'
    ),
    cgated AS (
      SELECT p.doc_id FROM cpaths p
      LEFT JOIN (SELECT doc_id, allow_i FROM cmatched WHERE rn = 1) m USING (doc_id)
      WHERE coalesce(m.allow_i = 1, TRUE)
        AND p.registered_domain NOT IN ({blocklist})
    ),
    cwrapped AS (
      SELECT doc_id, {_SYNTH_HTML_SQL} AS html
      FROM cgated JOIN documents USING (doc_id)
    ),
    cextracted AS (
      SELECT doc_id, {_EXTRACT_SQL} AS text FROM cwrapped
    ),
    cscored AS (
      SELECT doc_id, text,
             CASE WHEN len({_TOKS_SQL}) BETWEEN 10 AND 100000
                  THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - len({_TOKS_SQL}) + 1)::DOUBLE
                         / len({_TOKS_SQL})::DOUBLE BETWEEN 2.0 AND 12.0
                    THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                         / length(text)::DOUBLE <= 0.2
                    THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS quality
      FROM cextracted WHERE length(text) > 0 AND len({_TOKS_SQL}) > 0
    ),
    ckept AS (SELECT doc_id, text FROM cscored WHERE quality >= 0.6),
    exact AS (
      SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
      FROM ckept
      GROUP BY md5(regexp_replace(lower(text), '[0-9]+', '', 'g'))
    ),
    {minhash},
    e2 AS (SELECT id_a AS s, id_b AS d FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
    r(n, m) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM e2)
      UNION
      SELECT r.n, e2.d FROM r JOIN e2 ON r.m = e2.s
    ),
    comp AS (SELECT n AS node, min(m) AS component FROM r GROUP BY n),
    survivors AS (
      SELECT ex.* FROM exact ex
      LEFT JOIN (SELECT node FROM comp WHERE node <> component) l
        ON ex.doc_id = l.node
      WHERE l.node IS NULL
    ),
    toks AS (
      SELECT doc_id, md5(text) AS doc_md5,
             len({_TOKS_SQL})::BIGINT AS n_tokens
      FROM survivors
    ),
    cum AS (
      SELECT doc_id, doc_md5, n_tokens,
             (sum(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               )::BIGINT AS cum_end
      FROM toks
    ),
    sharded AS (
      SELECT doc_id, doc_md5, n_tokens,
             (cum_end - n_tokens) // 4096 AS shard_id
      FROM cum
    )
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           md5(string_agg(doc_md5, '' ORDER BY doc_id)) AS shard_md5
    FROM sharded
    GROUP BY shard_id
    ORDER BY shard_id
    """


@query(
    "q_crawl_to_shards",
    None,  # assembled below — needs the shared minhash/tokenizer SQL
    bench=True,
    doc=(
        "WARC bytes → training shards, end-to-end (north-star FLAGSHIP: "
        "both halves of the pretraining pipeline as ONE plan): per-record-"
        "gzipped WARC corpus → Arrow-batched record decode → URL "
        "canonicalization + PSL registered domain → RFC 9309 robots gate "
        "(broadcast + HOF fold) → blocklist drop → C4-style HTML text "
        "extraction → quality gate → digit-normalized exact dedup → "
        "MinHash-LSH near-dup components → distributed prefix-sum token "
        "packing into 4096-token shards → per-shard stats with an "
        "order-pinned content digest.  Corpus-side shuffles: exact-dedup "
        "groupBy, the minhash band equi-joins, the two-level scan, the "
        "final shard rollup — every join either broadcast or bucket-keyed; "
        "the oracle replays the whole chain (recursive-CTE components) "
        "bit-exactly"
    ),
)
def q_crawl_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import quality_score, token_count
    from ironbeam_spark.functions.web import url_path
    from ironbeam_spark.operators.dedup import (
        RECOMMENDED_MAX_BAND_BUCKET,
        dedup_components,
        dedup_exact,
        minhash_pairs_from_shingles,
    )
    from ironbeam_spark.operators.text_arrow import doc_dedup_features_arrow
    from ironbeam_spark.operators.robots import robots_filter
    from ironbeam_spark.operators.scan import global_running_sum, pack_layout
    from ironbeam_spark.operators.web import blocklist_filter, with_registered_domain
    from ironbeam_spark.sources.warc import read_warc

    # 1. crawl ingest: WARC container → (doc_id, url, html)
    corpus = read_warc(spark, _crawl_warc_corpus(spark, sf_dir))
    docs = corpus.select(
        F.regexp_extract("target_uri", r"//crawl//([0-9]+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("payload").cast("string").alias("html"),
    )
    # 2. URL canonicalization + registered domain + robots + blocklist
    base = with_registered_domain(docs, "url")
    paths = base.where(F.col("registered_domain").isNotNull()).withColumn(
        "path", url_path("url")
    )
    robots = local_metadata_df(
        spark, sorted(_ROBOTS_TXT.items()),
        "registered_domain string, robots_txt string",
    )  # JVM-literal local frame: a parallelized createDataFrame would pay
    # one Python task per default-parallelism slice on every action (opt r12)
    gated = robots_filter(
        paths, "path", robots, "ironbeam", key_col="registered_domain"
    )
    kept = blocklist_filter(gated, "registered_domain", _BLOCKLIST)
    # 3. HTML → text, quality gate
    extracted = kept.select(
        "doc_id", html_to_text("html").alias("text")
    ).where((F.length("text") > 0) & (token_count("text") > 0))
    quality = extracted.where(quality_score("text") >= 0.6)
    # 4. digit-normalized exact dedup (page chrome embeds doc_id/n_chars,
    #    so the byte-exact key would never collide; stripping digits
    #    restores content identity), min-id winner
    # ONE eager localCheckpoint carrying every derived column any later
    # pass needs — md5, token count, minhash shingles — and NOT the text:
    # the cleaned post-gate corpus feeds minhash banding+verify (both
    # self-join sides), the survivor anti-join, and the token scan, and
    # none of them needs the raw text once these three are materialized.
    # The r11 shape paid three derived materializations (text checkpoint +
    # minhash's shingle persist + a second (md5, count) checkpoint = two
    # extra passes over the texts); this is one tokenize/hash pass total
    # (optimization r12, guide §2.3 "don't compute things you throw
    # away" / §2.4).  An eager checkpoint rather than a lazy persist: the
    # first action's concurrent stages would race to populate a lazy
    # cache and re-execute the WARC decode + extraction chain.  This is
    # local-mode's analogue of the production break point — a real
    # pipeline writes the cleaned corpus to parquet here (same pattern as
    # q_heavy_hitters).
    # The derive pass itself is the Arrow-vectorized operator, not the
    # interpreted-HOF expression chain: this checkpoint is rebuilt on
    # EVERY invocation (unlike minhash_dedup_pairs' session-persisted
    # shingle table), and the fused md5+tokenize+shingle pass measured
    # ~0.84 s expression vs ~0.28 s Arrow at sf0.1 — bit-exact contract
    # and break-even analysis in operators/text_arrow.py (guide §4.2).
    cleaned = (
        doc_dedup_features_arrow(
            dedup_exact(
                quality.withColumn(
                    "fp", F.md5(F.regexp_replace(F.lower("text"), "[0-9]+", ""))
                ),
                ["fp"],
                "doc_id",
            ),
            "doc_id",
            "text",
            shingle_words=3,
        )
        .localCheckpoint()
    )
    # 5. MinHash-LSH near-dup components over the checkpointed shingles,
    # drop group losers
    pairs = minhash_pairs_from_shingles(
        cleaned, "doc_id", "shingles", k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    losers = (
        dedup_components(pairs)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    # 6. token packing into 4096-token shards via the distributed scan.
    # The scan's stats/window subtrees re-read this anti-join (the scan
    # plan embeds its input twice) — both reads are a checkpoint-block
    # scan plus a broadcast anti-join of the tiny loser set, cheaper than
    # the extra eager checkpoint job the r11 shape paid here.
    toks = cleaned.join(losers, on="doc_id", how="left_anti").select(
        "doc_id", "doc_md5", "n_tokens"
    )
    scanned = global_running_sum(toks, ["doc_id"], "n_tokens", "cum_end")
    sharded = pack_layout(scanned, "n_tokens", "cum_end", cap=4096).select(
        "doc_id", "doc_md5", "n_tokens", F.col("pack_id").alias("shard_id")
    )
    # 7. per-shard manifest with an order-pinned content digest
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "doc_md5"))
                    ).getField("doc_md5"),
                    "",
                )
            ).alias("shard_md5"),
        )
        .orderBy("shard_id")
    )


QUERIES["q_crawl_to_shards"].oracle = _crawl_to_shards_sql()


@query(
    "q_stream_crawl_gate",
    f"""
    WITH {_CRAWL_CANON_CTES},
    spaths AS (
      SELECT doc_id, domain AS registered_domain, path
      FROM domained WHERE domain IS NOT NULL
    ),
    srules(registered_domain, allow_i, rule_len, like_pat) AS ({_ROBOTS_ORACLE_RULES}),
    smatched AS (
      SELECT p.doc_id, r.allow_i,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY r.rule_len DESC, r.allow_i DESC) AS rn
      FROM spaths p
      JOIN srules r ON p.registered_domain = r.registered_domain
                   AND p.path LIKE r.like_pat ESCAPE '!'
    ),
    sgated AS (
      SELECT p.doc_id, p.registered_domain FROM spaths p
      LEFT JOIN (SELECT doc_id, allow_i FROM smatched WHERE rn = 1) m USING (doc_id)
      WHERE coalesce(m.allow_i = 1, TRUE)
        AND p.registered_domain NOT IN ({", ".join(f"'{d}'" for d in _BLOCKLIST)})
    ),
    swrapped AS (
      SELECT doc_id, g.registered_domain, {_SYNTH_HTML_SQL} AS html
      FROM sgated g JOIN documents USING (doc_id)
    ),
    sextracted AS (
      SELECT doc_id, registered_domain, {_EXTRACT_SQL} AS txt FROM swrapped
    )
    SELECT registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(txt)) AS BIGINT) AS sum_chars_clean
    FROM sextracted
    GROUP BY registered_domain
    ORDER BY registered_domain
    """,
    doc=(
        "STREAMING crawl-gate pipeline (north-star continuous ingestion "
        "with politeness): readStream(binaryFile) over the WARC landing "
        "directory → the same Arrow-batched record decode as batch → URL "
        "canonicalization + PSL registered domain → RFC 9309 robots gate "
        "as a STREAM-STATIC broadcast join (the rules table is static "
        "metadata; the stream never shuffles before the rollup) → "
        "blocklist → C4-style HTML extraction → per-domain rollup under "
        "Trigger.AvailableNow.  The oracle is the batch replay of the "
        "identical chain — stream/batch equivalence is the correctness "
        "claim (new WARC shards landing in the directory are picked up "
        "per micro-batch with per-file parallelism)"
    ),
)
def q_stream_crawl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.web import url_path
    from ironbeam_spark.operators.robots import robots_filter
    from ironbeam_spark.operators.web import blocklist_filter, with_registered_domain
    from ironbeam_spark.sources.warc import read_warc_streaming

    path = _crawl_warc_corpus(spark, sf_dir)
    corpus = read_warc_streaming(spark, path)
    docs = corpus.select(
        F.col("target_uri").alias("url"),
        F.col("payload").cast("string").alias("html"),
    )
    base = with_registered_domain(docs, "url")
    paths = base.where(F.col("registered_domain").isNotNull()).withColumn(
        "path", url_path("url")
    )
    robots = local_metadata_df(
        spark, sorted(_ROBOTS_TXT.items()),
        "registered_domain string, robots_txt string",
    )  # JVM-literal local frame: a parallelized createDataFrame would pay
    # one Python task per default-parallelism slice on every action (opt r12)
    gated = robots_filter(
        paths, "path", robots, "ironbeam", key_col="registered_domain"
    )
    kept = blocklist_filter(gated, "registered_domain", _BLOCKLIST)
    agg = (
        kept.select(
            "registered_domain",
            F.length(html_to_text("html")).alias("n_chars_clean"),
        )
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_clean").cast("long").alias("sum_chars_clean"),
        )
    )
    return run_to_memory(agg, "q_stream_crawl_gate_sink", "complete").orderBy(
        "registered_domain"
    )


@query(
    "q_crawl_schedule",
    f"""
    WITH {_CANON_CTES},
    reqs AS (
      SELECT doc_id, domain AS registered_domain,
             ((doc_id * 7919) % 1000000)::BIGINT AS arrival_us
      FROM domained WHERE domain IS NOT NULL
    ),
    ranked AS (
      SELECT doc_id, registered_domain, arrival_us,
             (row_number() OVER (PARTITION BY registered_domain
                                 ORDER BY arrival_us, doc_id) - 1)::BIGINT AS r
      FROM reqs
    ),
    sched AS (
      SELECT doc_id, registered_domain, arrival_us,
             (max(arrival_us - r * 250000) OVER (
                PARTITION BY registered_domain
                ORDER BY arrival_us, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + r * 250000)::BIGINT AS scheduled_us
      FROM ranked
    )
    SELECT doc_id, registered_domain, arrival_us, scheduled_us,
           (scheduled_us - arrival_us)::BIGINT AS wait_us
    FROM sched
    ORDER BY doc_id
    """,
    doc=(
        "crawl-frontier politeness scheduler (north-star crawl planning, "
        "RFC 9309 §2.5 crawl-delay shape): each request's earliest fetch "
        "slot under a 250 ms per-domain minimum delay.  The sequential "
        "recurrence s_i = max(ts_i, s_(i-1)+d) is UNROLLED into "
        "associative window algebra (running max of ts_j - r_j*d, plus "
        "r_i*d) — one hash exchange on the domain key, one shared "
        "in-partition sort, exact int64; parallelism is across domains, "
        "the honest limit for an order-dependent per-key schedule "
        "(operators/web.crawl_schedule).  The from-spec loop-model "
        "differential lives in tests/test_web_models.py"
    ),
)
def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.web import crawl_schedule, with_registered_domain

    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select("doc_id", _synth_url().alias("url"))
    reqs = (
        with_registered_domain(urls, "url")
        .where(F.col("registered_domain").isNotNull())
        .select(
            "doc_id",
            "registered_domain",
            ((F.col("doc_id") * 7919) % 1000000).cast("long").alias("arrival_us"),
        )
    )
    out = crawl_schedule(
        reqs, "registered_domain", "arrival_us", 250000,
        out_col="scheduled_us", tiebreak_col="doc_id",
    )
    return out.select(
        "doc_id", "registered_domain", "arrival_us", "scheduled_us",
        (F.col("scheduled_us") - F.col("arrival_us")).cast("long").alias("wait_us"),
    ).orderBy("doc_id")
