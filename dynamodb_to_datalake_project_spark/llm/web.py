"""URL / domain curation — the standard CCNet/RefinedWeb web-corpus
stage: URL canonicalization (scheme/host lowering, www-strip,
registered-domain extraction, path normalization, tracking-param
removal), per-domain document/token statistics, and the domain-level
quality join back onto documents.

All pure column expressions over Spark's JVM-side `parse_url` plus
regexp/array functions — map-only per-document work, one bounded-key
hash aggregation for the domain rollup (registered domains ≪
documents), and a broadcast join back (the domain table is tiny by
construction). On 100 TB of web documents these run at parquet-scan
speed; nothing here shuffles the raw corpus except the single domain
aggregation, which map-side-combines to one row per domain per task.

The `documents` fixture has no URL column, so URLs are synthesized by
a deterministic integer formula over (doc_id, source) — the same
fixture-formula pattern as `llm.multimodal` — exercising every
canonicalization branch: uppercase scheme/host, www/eu subdomains,
multi-label public suffixes (co.uk), explicit ports, duplicate-slash
and /./ path segments, trailing slashes, utm tracking params, unsorted
query strings, and fragments. The DuckDB oracles replay the SAME
formula and the SAME normalization in SQL string functions, so every
query here is a full hash-match oracle.

Reference parity: none — north-star LLM-corpus curation tooling
(SURVEY.md §2.8); stage modeled on the public CCNet / RefinedWeb
pipeline descriptions (Wenzek 2019, Penedo 2023).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: query params stripped during canonicalization (tracking/attribution)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)="

#: multi-label public suffixes recognized by the registered-domain
#: extraction (public-suffix-list-lite; the full PSL is a data file,
#: the mechanism is identical)
MULTI_LABEL_SUFFIXES = (
    "co.uk",
    "ac.uk",
    "gov.uk",
    "com.au",
    "co.jp",
    "co.in",
    "com.br",
)

_SITES = ("news", "blog", "docs", "wiki", "shop", "forum", "cdn")
_TLDS = ("com", "org", "co.uk", "io", "de")
_SUBS = ("www.", "eu.", "")


def synth_url(doc_id: Column, source: Column) -> Column:
    """Deterministic fixture URL for a document — integer formula over
    (doc_id, source), replayed verbatim by `SYNTH_URL_SQL` on the
    DuckDB side. Covers every branch `canonicalize_urls` normalizes."""
    d = doc_id
    site = F.element_at(F.array(*[F.lit(s) for s in _SITES]), (d % 7 + 1).cast("int"))
    tld = F.element_at(F.array(*[F.lit(t) for t in _TLDS]), (d % 5 + 1).cast("int"))
    sub = F.element_at(F.array(*[F.lit(s) for s in _SUBS]), (d % 3 + 1).cast("int"))
    host = F.concat(sub, site, F.lit("-"), source, F.lit("."), tld)
    host = F.when(d % 11 == 0, F.upper(host)).otherwise(host)
    scheme = (
        F.when(d % 11 == 0, F.lit("HTTPS"))
        .when(d % 2 == 0, F.lit("https"))
        .otherwise(F.lit("http"))
    )
    port = F.when(d % 13 == 0, F.lit(":8080")).otherwise(F.lit(""))
    seg = (
        F.when(d % 9 == 0, F.lit("/articles//item-"))
        .when(d % 9 == 1, F.lit("/articles/./item-"))
        .otherwise(F.lit("/articles/item-"))
    )
    path = F.concat(
        seg, d.cast("string"), F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit(""))
    )
    qry = F.concat(
        F.lit("?"),
        F.when(d % 2 == 1, F.lit("utm_source=feed&")).otherwise(F.lit("")),
        F.lit("id="),
        d.cast("string"),
        F.when(d % 5 == 0, F.lit("&ref=tw")).otherwise(F.lit("")),
    )
    frag = F.when(
        d % 6 == 0, F.concat(F.lit("#sec"), (d % 3).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, qry, frag)


#: the same formula in DuckDB SQL (1-indexed list literals); yields a
#: column named `url` given `doc_id` and `source` in scope
SYNTH_URL_SQL = """
    (CASE WHEN doc_id % 11 = 0 THEN 'HTTPS'
          WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
    || '://'
    || (CASE WHEN doc_id % 11 = 0 THEN upper(u_host) ELSE u_host END)
    || (CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END)
    || (CASE WHEN doc_id % 9 = 0 THEN '/articles//item-'
             WHEN doc_id % 9 = 1 THEN '/articles/./item-'
             ELSE '/articles/item-' END)
    || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 2 = 1 THEN 'utm_source=feed&' ELSE '' END)
    || 'id=' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
        ELSE '' END)
"""

#: host-before-casing helper for SYNTH_URL_SQL (sub + site + '-' +
#: source + '.' + tld)
SYNTH_HOST_SQL = """
    (['www.', 'eu.', ''])[(doc_id % 3) + 1]
    || (['news','blog','docs','wiki','shop','forum','cdn'])[(doc_id % 7) + 1]
    || '-' || source || '.'
    || (['com','org','co.uk','io','de'])[(doc_id % 5) + 1]
"""

#: shared canonicalization in DuckDB SQL: CTE fragment from a relation
#: `u(doc_id, url, ...)` to canonical fields. Mirrors
#: `canonicalize_urls` branch for branch.
_CANON_SQL = """
    p AS (
      SELECT *,
        lower(regexp_extract(url, '^([^:]+)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[^:]+://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[^:]+://[^/?#]*([^?#]*)', 1) AS path_raw,
        regexp_extract(url, '\\?([^#]*)', 1) AS query_raw
      FROM u
    ),
    h AS (
      SELECT *,
        regexp_replace(
          regexp_replace(hostport, ':[0-9]+$', ''), '^www\\.', '') AS host,
        TRY_CAST(nullif(regexp_extract(hostport, ':([0-9]+)$', 1), '')
                 AS BIGINT) AS port
      FROM p
    ),
    c AS (
      SELECT *,
        CASE WHEN len(string_split(host, '.')) >= 3
                  AND array_to_string(string_split(host, '.')[-2:], '.')
                      IN ('co.uk','ac.uk','gov.uk','com.au','co.jp',
                          'co.in','com.br')
             THEN array_to_string(string_split(host, '.')[-3:], '.')
             ELSE array_to_string(string_split(host, '.')[-2:], '.')
        END AS registered_domain,
        regexp_replace(
          regexp_replace(
            regexp_replace(path_raw, '/{2,}', '/', 'g'),
            '(?:/\\.)+/', '/', 'g'),
          '(.)/$', '\\1') AS path_norm,
        array_to_string(list_sort(list_filter(string_split(query_raw, '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)='))), '&') AS query_norm
      FROM h
    ),
    canon AS (
      SELECT *,
        scheme || '://' || host
        || (CASE WHEN port IS NOT NULL THEN ':' || CAST(port AS VARCHAR)
            ELSE '' END)
        || path_norm
        || (CASE WHEN query_norm <> '' THEN '?' || query_norm ELSE '' END)
        AS url_canonical
      FROM c
    )
"""


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach canonical URL columns: `scheme` (lowered), `host`
    (lowered, port- and leading-www-stripped), `port` (nullable long),
    `registered_domain` (last two host labels, or three over a
    multi-label public suffix), `path_norm` (duplicate slashes
    collapsed, `/./` segments removed, trailing slash stripped except
    root), `query_norm` (tracking params dropped, remainder sorted),
    and the reassembled `url_canonical` (fragment dropped).

    JVM-side throughout — `parse_url` + regexp/array expressions inside
    whole-stage codegen; map-only, no shuffle, linear in corpus bytes."""
    u = F.col(url_col)
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    hostport = F.lower(F.parse_url(u, F.lit("AUTHORITY")))
    port = F.nullif(F.regexp_extract(hostport, r":(\d+)$", 1), F.lit("")).cast(
        "long"
    )
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":\d+$", ""), r"^www\.", ""
    )
    labels = F.split(host, r"\.")
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    last3 = F.array_join(F.slice(labels, -3, 3), ".")
    registered = F.when(
        (F.size(labels) >= 3) & last2.isin(*MULTI_LABEL_SUFFIXES), last3
    ).otherwise(last2)
    path_norm = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.parse_url(u, F.lit("PATH")), "/{2,}", "/"
            ),
            r"(?:/\.)+/",
            "/",
        ),
        "(.)/$",
        "$1",
    )
    params = F.filter(
        F.split(F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit("")), "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
    )
    query_norm = F.array_join(F.array_sort(params), "&")
    out = (
        df.withColumn("scheme", scheme)
        .withColumn("host", host)
        .withColumn("port", port)
        .withColumn("registered_domain", registered)
        .withColumn("path_norm", path_norm)
        .withColumn("query_norm", query_norm)
    )
    return out.withColumn(
        "url_canonical",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            F.when(
                F.col("port").isNotNull(),
                F.concat(F.lit(":"), F.col("port").cast("string")),
            ).otherwise(F.lit("")),
            F.col("path_norm"),
            F.when(
                F.col("query_norm") != "", F.concat(F.lit("?"), F.col("query_norm"))
            ).otherwise(F.lit("")),
        ),
    )


def _docs_with_urls(spark, sf_dir) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn("url", synth_url(F.col("doc_id"), F.col("source")))


def domain_stats(canon: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-registered-domain corpus statistics: document/host counts,
    token totals, average document length, and a length-based quality
    tier. ONE bounded-key hash aggregation (map-side partials; the
    domain key space is tiny relative to the corpus); the average is a
    single double division of exact integer sums per the catalog float
    policy."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    agg = (
        canon.withColumn("n_tokens", F.size(toks).cast("long"))
        .groupBy("registered_domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("host").alias("n_hosts"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("_sum_chars"),
        )
    )
    avg_chars = F.col("_sum_chars").cast("double") / F.col("n_docs").cast("double")
    return agg.select(
        "registered_domain",
        "n_docs",
        "n_hosts",
        "n_tokens",
        avg_chars.alias("avg_chars"),
        F.when(avg_chars >= 300, "high")
        .when(avg_chars >= 200, "mid")
        .otherwise("low")
        .alias("quality_tier"),
    )


@query(
    "web_url_canonicalize",
    oracle=f"""
    WITH u0 AS (
      SELECT doc_id, {SYNTH_HOST_SQL} AS u_host FROM documents
    ),
    u AS (
      SELECT u0.doc_id, {SYNTH_URL_SQL} AS url
      FROM u0 JOIN documents USING (doc_id)
    ),
    {_CANON_SQL}
    SELECT doc_id, url, scheme, host, port, registered_domain,
           path_norm, query_norm, url_canonical
    FROM canon
    ORDER BY doc_id
    """,
)
def q_web_url_canonicalize(spark, sf_dir):
    """Canonicalize every document URL — the dedup key and crawl-seed
    normalization step of a web-corpus pipeline. Map-only `parse_url` +
    regexp work; the oracle replays the synthesis formula AND the
    normalization in DuckDB string functions (full hash-match)."""
    # no orderBy: the driver compare is order-insensitive, and a global
    # sort over the full corpus is the one exchange this map-only plan
    # would otherwise pay (the oracle keeps ORDER BY for readability)
    canon = canonicalize_urls(_docs_with_urls(spark, sf_dir))
    return canon.select(
        "doc_id",
        "url",
        "scheme",
        "host",
        "port",
        "registered_domain",
        "path_norm",
        "query_norm",
        "url_canonical",
    )


@query(
    "web_domain_stats",
    oracle=f"""
    WITH u0 AS (
      SELECT doc_id, {SYNTH_HOST_SQL} AS u_host FROM documents
    ),
    u AS (
      SELECT d.doc_id, d.text, d.n_chars, {SYNTH_URL_SQL} AS url
      FROM u0 JOIN documents d USING (doc_id)
    ),
    {_CANON_SQL}
    SELECT registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
                AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
           CASE WHEN CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     >= 300 THEN 'high'
                WHEN CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     >= 200 THEN 'mid'
                ELSE 'low' END AS quality_tier
    FROM canon
    GROUP BY registered_domain
    ORDER BY registered_domain
    """,
)
def q_web_domain_stats(spark, sf_dir):
    """Per-domain doc/token statistics with a quality tier — the
    CCNet-style domain scoreboard that drives keep/downsample/drop
    decisions. One bounded-key aggregation over the canonicalized
    corpus (full hash-match oracle)."""
    canon = canonicalize_urls(_docs_with_urls(spark, sf_dir))
    return domain_stats(canon).orderBy("registered_domain")


@query(
    "web_domain_quality_join",
    oracle=f"""
    WITH u0 AS (
      SELECT doc_id, {SYNTH_HOST_SQL} AS u_host FROM documents
    ),
    u AS (
      SELECT d.doc_id, d.source, d.n_chars, {SYNTH_URL_SQL} AS url
      FROM u0 JOIN documents d USING (doc_id)
    ),
    {_CANON_SQL},
    dq AS (
      SELECT registered_domain,
             CASE WHEN CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       >= 300 THEN 'high'
                  WHEN CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       >= 200 THEN 'mid'
                  ELSE 'low' END AS quality_tier
      FROM canon GROUP BY registered_domain
    )
    SELECT c.source, dq.quality_tier,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM canon c JOIN dq USING (registered_domain)
    GROUP BY c.source, dq.quality_tier
    ORDER BY c.source, dq.quality_tier
    """,
)
def q_web_domain_quality_join(spark, sf_dir):
    """Join the domain-level quality tier BACK onto documents and
    cross-tabulate by source — the filter/downsample driver of the
    curation stage. The domain table is broadcast by construction
    (domains ≪ documents), so the join adds no corpus shuffle; the
    final (source, tier) aggregation is bounded-key."""
    canon = canonicalize_urls(_docs_with_urls(spark, sf_dir))
    tiers = domain_stats(canon).select("registered_domain", "quality_tier")
    return (
        canon.join(F.broadcast(tiers), "registered_domain")
        .groupBy("source", "quality_tier")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "quality_tier")
    )


def dedup_by_canonical_url(
    canon: DataFrame, id_col: str = "doc_id", quality_col: str = "n_chars"
) -> DataFrame:
    """URL-level dedup — the crawl stage BEFORE content dedup: the
    same page fetched many times (mirrors, recrawls, tracking-param
    variants) collapses to one representative per `url_canonical`,
    keeping the highest-quality fetch (quality desc, id asc — fully
    deterministic). Returns one row per canonical URL with the kept
    doc and the duplicate count.

    Scale shape: ONE hash-partitioned window on url_canonical (the
    `dedup.latest_wins` shape) — no join, no second scan; at 100 TB
    the canonical URL is also the natural bucketing key for the
    downstream store."""
    from pyspark.sql import Window

    w = Window.partitionBy("url_canonical").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        canon.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_fetches", F.count("*").over(Window.partitionBy("url_canonical"))
        )
        .filter(F.col("_rn") == 1)
        .select(
            "url_canonical",
            F.col(id_col).alias("kept_doc_id"),
            F.col(quality_col).alias("kept_quality"),
            F.col("n_fetches").cast("long").alias("n_fetches"),
        )
    )


#: recrawl-shaped fixture: the canonical key space is (site: d%7,
#: page: d%5) — period 35, so even the 50-doc sf0.001 fixture carries
#: real collisions, and larger SFs pile ~N/35 fetches onto each
#: canonical URL. The VARIANTS the canonicalization must collapse stay
#: rich: www-prefix (d%3), uppercase host+scheme (d%11), utm param
#: (odd d), fragment (d%6), trailing slash (d%4).
def _synth_recrawl_url(doc_id: Column, source: Column) -> Column:
    d = doc_id
    page = d % 5
    site = F.element_at(F.array(*[F.lit(s) for s in _SITES]), (d % 7 + 1).cast("int"))
    host = F.concat(
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        site,
        F.lit(".com"),
    )
    host = F.when(d % 11 == 0, F.upper(host)).otherwise(host)
    scheme = F.when(d % 11 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    path = F.concat(
        F.lit("/articles/item-"),
        page.cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    qry = F.concat(
        F.lit("?"),
        F.when(d % 2 == 1, F.lit("utm_source=feed&")).otherwise(F.lit("")),
        F.lit("page="),
        page.cast("string"),
    )
    frag = F.when(d % 6 == 0, F.lit("#top")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qry, frag)


_RECRAWL_URL_SQL = """
    (CASE WHEN doc_id % 11 = 0 THEN 'HTTPS' ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 11 = 0 THEN upper(u_host) ELSE u_host END)
    || '/articles/item-' || CAST(doc_id % 5 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 2 = 1 THEN 'utm_source=feed&' ELSE '' END)
    || 'page=' || CAST(doc_id % 5 AS VARCHAR)
    || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END)
"""


@query(
    "web_url_dedup",
    oracle=f"""
    WITH u0 AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
             || (['news','blog','docs','wiki','shop','forum','cdn'])
                [(doc_id % 7) + 1]
             || '.com' AS u_host
      FROM documents
    ),
    u AS (
      SELECT d.doc_id, d.n_chars, {_RECRAWL_URL_SQL} AS url
      FROM u0 JOIN documents d USING (doc_id)
    ),
    {_CANON_SQL},
    ranked AS (
      SELECT url_canonical, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY url_canonical
               ORDER BY n_chars DESC, doc_id ASC
             ) AS rn,
             count(*) OVER (PARTITION BY url_canonical) AS n_fetches
      FROM canon
    )
    SELECT url_canonical,
           CAST(doc_id AS BIGINT) AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_quality,
           CAST(n_fetches AS BIGINT) AS n_fetches
    FROM ranked WHERE rn = 1
    ORDER BY url_canonical
    """,
)
def q_web_url_dedup(spark, sf_dir):
    """Canonical-URL dedup over a recrawl-shaped fixture (the same
    page id fetched under tracking-param/fragment/case variants):
    canonicalization collapses the variants, one window keeps the
    highest-quality fetch per canonical URL. The crawl-side stage that
    runs BEFORE content dedup. Full hash-match oracle."""
    docs = load_table(spark, sf_dir, "documents")
    canon = canonicalize_urls(
        docs.withColumn(
            "url", _synth_recrawl_url(F.col("doc_id"), F.col("source"))
        )
    )
    return dedup_by_canonical_url(canon)


# ---------------------------------------------------------------------------
# HTML main-content extraction (boilerplate removal) — the canonical
# FIRST stage of a CCNet/RefinedWeb pipeline: raw fetched HTML → the
# main text every later stage (dedup, quality, tokenization) consumes.
# Generic text-density block scoring (Kohlschütter-style boilerpipe
# heuristic): split the markup into block-level segments, score each
# by chars-per-tag and anchor-text share, keep the dense low-link
# blocks. Map-only Arrow work — on 100 TB of crawl HTML this runs at
# parquet-scan speed with zero shuffles.
# ---------------------------------------------------------------------------

#: tags that delimit text blocks in the density walk (everything else —
#: a, b, i, em, span, … — is inline and counts toward the block's tag
#: weight without splitting it)
HTML_BLOCK_TAGS = frozenset(
    "html body main article section aside nav header footer div p li ul ol "
    "h1 h2 h3 h4 h5 h6 table thead tbody tr td th blockquote pre figure "
    "figcaption br hr title form".split()
)

_ENTITY_MAP = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": "\xa0",
    "copy": "©",
}

_ENTITY_RE = None  # compiled lazily on executors (module import stays light)


def decode_html_entities(s: str) -> str:
    """Decode named (&amp; &lt; &gt; &quot; &apos; &nbsp; &copy;),
    decimal (&#32;) and hex (&#x20;) character references; unknown
    named entities pass through verbatim (lenient, like browsers)."""
    import re

    global _ENTITY_RE
    if _ENTITY_RE is None:
        _ENTITY_RE = re.compile(r"&(#?[0-9a-zA-Z]+);")

    def sub(mo):
        e = mo.group(1)
        if e[:2] in ("#x", "#X"):
            try:
                return chr(int(e[2:], 16))
            except ValueError:
                return mo.group(0)
        if e[:1] == "#":
            try:
                return chr(int(e[1:]))
            except ValueError:
                return mo.group(0)
        return _ENTITY_MAP.get(e, mo.group(0))

    return _ENTITY_RE.sub(sub, s)


def synth_html(doc_id: int, text: str, source: str) -> str:
    """Deterministic fixture page for a document — the same
    fixture-formula pattern as `synth_url`/`llm.multimodal`: head with
    title/style/script, an HTML comment containing fake tags, a nav
    of 4 + doc_id%7 two-char links, a CDATA block on every 4th doc,
    the REAL document text equal-split into ceil(len/80)-chunk <p>
    paragraphs inside <div id="main"> (first space of every chunk
    entity-encoded as &#32;; first word of chunk 0 wrapped in nested
    <b><i> on every 3rd doc), then a link-dense footer + short
    copyright line and a trailing script. Extraction must recover the
    document text EXACTLY (chunks concatenate back to it) and drop
    every boilerplate block — which the DuckDB oracle checks via
    md5(text) with no HTML parser at all."""
    n_links = 4 + doc_id % 7
    n = (len(text) + 79) // 80
    base, rem = divmod(len(text), n)
    chunks, at = [], 0
    for i in range(n):
        size = base + (1 if i < rem else 0)
        chunks.append(text[at : at + size])
        at += size
    paras = []
    for i, c in enumerate(chunks):
        c = c.replace(" ", "&#32;", 1)
        if doc_id % 3 == 0 and i == 0:
            head, sep, rest = c.partition("&#32;")
            c = f"<b><i>{head}</i></b>{sep}{rest}"
        paras.append(f"<p>{c}</p>")
    nav = "".join(f'<li><a href="/s{i}">l{i}</a></li>' for i in range(n_links))
    cdata = (
        '<div class="x"><![CDATA[x<y&z]]></div>' if doc_id % 4 == 0 else ""
    )
    return (
        "<!DOCTYPE html>\n<html>\n<head>\n"
        f"<title>doc {doc_id}</title>\n"
        "<style>body { margin: 0; }</style>\n"
        f"<script>var n = {doc_id}; if (n < 2 && n > -1) {{ n = n & 1; }}"
        "</script>\n"
        "</head>\n<body>\n"
        "<!-- synthetic page: <fake> tags & entities inside a comment -->\n"
        f"<nav><ul>{nav}</ul></nav>\n"
        f"{cdata}\n"
        '<div id="main">' + "".join(paras) + "</div>\n"
        '<footer><p><a href="/about">about us</a> | '
        '<a href="/tos">terms of use</a> | '
        '<a href="/privacy">privacy</a> | '
        '<a href="/contact">contact</a></p>'
        f"<p>&copy; site {source}</p></footer>\n"
        "<script>track() && send();</script>\n"
        "</body>\n</html>\n"
    )


def extract_main_content(
    html: str,
    density_threshold: float = 5.0,
    max_link_density: float = 0.5,
) -> dict:
    """Generic HTML main-content extraction: strip comments, inline
    CDATA content as text, drop <script>/<style> bodies wholesale,
    pull <title> then drop <head>, walk the remaining markup into
    text blocks delimited by HTML_BLOCK_TAGS, decode entities, and
    keep blocks whose text density (chars per tag, counting the
    block's own delimiters) clears `density_threshold` and whose
    anchor-text share stays under `max_link_density` — the boilerpipe
    heuristic: body paragraphs are dense and low-link, nav/footer
    chrome is sparse and link-heavy.

    Returns title, the kept text (blocks concatenated in document
    order), block counts, and kept/dropped char totals. Works on any
    HTML (unclosed tags are fine — every tag is processed
    independently); no third-party parser."""
    import re

    html = re.sub(r"<!--.*?-->", "", html, flags=re.S)
    html = re.sub(
        r"<!\[CDATA\[(.*?)\]\]>",
        lambda mo: mo.group(1)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;"),
        html,
        flags=re.S,
    )
    # declarations (<!DOCTYPE …>) — after CDATA so <![CDATA[ can't match
    html = re.sub(r"<![^>]*>", "", html)
    html = re.sub(
        r"<(script|style)\b[^>]*>.*?</\1\s*>", "", html, flags=re.S | re.I
    )
    title = None
    mo = re.search(r"<title[^>]*>(.*?)</title\s*>", html, flags=re.S | re.I)
    if mo:
        title = decode_html_entities(mo.group(1))
    html = re.sub(r"<head\b[^>]*>.*?</head\s*>", "", html, flags=re.S | re.I)

    blocks: "list[tuple[str, int, int]]" = []  # (text, n_tags, link_chars)
    parts: "list[str]" = []
    n_tags = link_chars = 0
    in_a = 0

    def finalize() -> None:
        nonlocal parts, n_tags, link_chars
        txt = decode_html_entities("".join(parts))
        if txt.strip():
            blocks.append((txt, n_tags, link_chars))
        parts, n_tags, link_chars = [], 0, 0

    pos = 0
    for tag in re.finditer(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*>", html):
        seg = html[pos : tag.start()]
        if seg:
            parts.append(seg)
            if in_a:
                link_chars += len(decode_html_entities(seg))
        pos = tag.end()
        closing, name = tag.group(1) == "/", tag.group(2).lower()
        if name in HTML_BLOCK_TAGS:
            if closing:
                n_tags += 1
                finalize()
            else:
                finalize()
                n_tags += 1
        else:
            n_tags += 1
            if name == "a":
                in_a = max(0, in_a - 1) if closing else in_a + 1
    seg = html[pos:]
    if seg:
        parts.append(seg)
        if in_a:
            link_chars += len(decode_html_entities(seg))
    finalize()

    kept: "list[str]" = []
    boilerplate_chars = 0
    for txt, tags, lchars in blocks:
        density = len(txt) / (1 + tags)
        link_density = lchars / len(txt) if txt else 0.0
        if density >= density_threshold and link_density <= max_link_density:
            kept.append(txt)
        else:
            boilerplate_chars += len(txt)
    extracted = "".join(kept)
    return {
        "title": title,
        "extracted": extracted,
        "n_blocks": len(blocks),
        "n_kept": len(kept),
        "extracted_chars": len(extracted),
        "boilerplate_chars": boilerplate_chars,
    }


def html_extract_stats(docs: DataFrame) -> DataFrame:
    """Synthesize the fixture page per document, run the generic
    extractor, and emit one row per document with an md5 of the
    recovered main text. Arrow `map_rows`, map-only — the
    100 TB shape is a straight scan."""
    import hashlib

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("title", T.StringType()),
            T.StructField("n_blocks", T.LongType()),
            T.StructField("n_kept", T.LongType()),
            T.StructField("extracted_chars", T.LongType()),
            T.StructField("extracted_md5", T.StringType()),
            T.StructField("boilerplate_chars", T.LongType()),
        ]
    )

    def row(did, text, source):
        d = extract_main_content(synth_html(did, text, source))
        yield (
            did,
            d["title"],
            d["n_blocks"],
            d["n_kept"],
            d["extracted_chars"],
            hashlib.md5(d["extracted"].encode("utf-8")).hexdigest(),
            d["boilerplate_chars"],
        )

    return map_rows(docs.select("doc_id", "text", "source"), row, schema, spread=True)


@query(
    "web_html_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, source,
             length(text) AS L,
             4 + doc_id % 7 AS n_links,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS has_cdata,
             (length(text) + 79) // 80 AS n_chunks
      FROM documents
    )
    SELECT doc_id,
           'doc ' || doc_id AS title,
           CAST(n_links + has_cdata + n_chunks + 2 AS BIGINT) AS n_blocks,
           CAST(n_chunks AS BIGINT) AS n_kept,
           CAST(L AS BIGINT) AS extracted_chars,
           md5(text) AS extracted_md5,
           CAST(2 * n_links + 5 * has_cdata + 43 + 7 + length(source)
                AS BIGINT) AS boilerplate_chars
    FROM d
    """,
)
def q_web_html_extract(spark, sf_dir):
    """HTML main-content extraction over the documents table: build a
    full fixture page per document (nav/footer/script/style/comment/
    CDATA boilerplate around the REAL text split into <p> chunks),
    run the generic density extractor, and prove via md5 that the
    recovered main text equals the original document text byte-for-
    byte while every boilerplate block is dropped. The DuckDB oracle
    re-derives every column from the fixture formulas and md5(text) —
    no HTML parser on the oracle side, so a hash match pins the
    synthesizer AND the extractor end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return html_extract_stats(docs)


# ---------------------------------------------------------------------------
# robots.txt parsing + crawl-permission filter (RFC 9309) — the
# politeness gate that sits NEXT TO URL canonicalization at the top of
# the crawl pipeline: a fetch frontier joins every candidate URL
# against its domain's parsed rule group. Rules per registered domain
# are tiny (a broadcast-sized table at any corpus scale); the URL side
# is map-only.
# ---------------------------------------------------------------------------


def robots_match_len(pattern: str, path: str) -> "int | None":
    """RFC 9309 §2.2.2 path matching: literal prefix match with `*`
    matching any run (including empty) and a trailing `$` anchoring
    the end. Returns the PATTERN length (the specificity key — longest
    match wins) when it matches, else None. Empty patterns match
    everything at specificity 0."""
    import re

    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in core.split("*"))
    if not anchored:
        rx += ".*"
    return len(pattern) if re.fullmatch(rx, path) else None


def parse_robots(text: str, agent: str) -> dict:
    """Parse a robots.txt (RFC 9309): comment stripping, group
    assembly (consecutive User-agent lines share one rule group), and
    group selection — ALL groups naming `agent` (case-insensitive
    product token) merge; the `*` groups apply only when no specific
    group exists. Returns the effective (allow, pattern) rules,
    Crawl-delay (common extension), and the file-wide Sitemap URLs.
    Unknown fields are ignored per the spec; a file with no groups
    (or none applicable) yields an empty rule set = allow all."""
    groups: "list[tuple[list[str], list[tuple[bool, str]], float | None]]" = []
    sitemaps: "list[str]" = []
    agents_cur: "list[str]" = []
    rules_cur: "list[tuple[bool, str]]" = []
    delay_cur: "float | None" = None
    in_group_body = False

    def close() -> None:
        nonlocal agents_cur, rules_cur, delay_cur, in_group_body
        if agents_cur:
            groups.append((agents_cur, rules_cur, delay_cur))
        agents_cur, rules_cur, delay_cur = [], [], None
        in_group_body = False

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            raise ValueError(f"robots: malformed line {raw!r}")
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if in_group_body:
                close()
            agents_cur.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_body = True
            if value:  # empty Disallow: = allow everything (no rule)
                rules_cur.append((field == "allow", value))
        elif field == "crawl-delay":
            in_group_body = True
            try:
                delay_cur = float(value)
            except ValueError:
                raise ValueError(f"robots: bad crawl-delay {value!r}")
        elif field == "sitemap":
            sitemaps.append(value)  # file-wide, group-independent
        # unknown fields: ignored (spec-mandated forward compatibility)
    close()

    want = agent.lower()
    exact = [g for g in groups if want in g[0]]
    chosen = exact if exact else [g for g in groups if "*" in g[0]]
    rules: "list[tuple[bool, str]]" = []
    delay: "float | None" = None
    for _, rs, dl in chosen:
        rules.extend(rs)
        if dl is not None:
            delay = dl
    return {"rules": rules, "crawl_delay": delay, "sitemaps": sitemaps}


def robots_allowed(rules: "list[tuple[bool, str]]", path: str) -> "tuple[bool, int]":
    """Evaluate a path against parsed rules: the longest matching
    pattern wins; on a specificity tie Allow beats Disallow (RFC 9309
    §2.2.2). No matching rule = allowed at specificity 0."""
    best_len, best_allow = -1, True
    for allow, pattern in rules:
        m = robots_match_len(pattern, path)
        if m is None:
            continue
        if m > best_len or (m == best_len and allow and not best_allow):
            best_len, best_allow = m, allow
    return best_allow, max(best_len, 0)


def synth_robots_txt(domain_id: int) -> str:
    """Deterministic fixture robots.txt for a domain: a decoy group
    (denies a different bot everything), the trainbot group with a
    section Disallow + a LONGER page-prefix Allow carve-out + a
    wildcard-and-anchored .html Disallow + Crawl-delay, a `*` group
    that must NOT apply (a specific group exists), comments, and a
    file-wide Sitemap line — every RFC 9309 branch the parser handles."""
    a = domain_id % 8
    b = (domain_id + 3) % 8
    return (
        "# synthetic robots fixture\n"
        "User-agent: otherbot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: trainbot\n"
        f"Disallow: /sec{a}/   # section ban\n"
        f"Allow: /sec{a}/page-1\n"
        f"Disallow: /sec{b}/*.html$\n"
        f"Crawl-delay: {1 + domain_id % 5}\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        f"Sitemap: https://site{domain_id}.example/sitemap.xml\n"
    )


def robots_filter_stats(docs: DataFrame, agent: str = "trainbot") -> DataFrame:
    """Synthesize each document's fetch URL path and its domain's
    robots.txt (10 fixture domains; parsed once per task and cached —
    the broadcast-rules shape), evaluate RFC 9309 longest-match
    permission, and emit one row per document. Arrow `map_rows`,
    map-only."""

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("domain", T.StringType()),
            T.StructField("allowed", T.LongType()),
            T.StructField("matched_len", T.LongType()),
            T.StructField("crawl_delay", T.LongType()),
            T.StructField("n_sitemaps", T.LongType()),
        ]
    )

    parsed: dict[int, dict] = {}

    def row(did):
        k = did % 10
        if k not in parsed:
            parsed[k] = parse_robots(synth_robots_txt(k), agent)
        r = parsed[k]
        path = f"/sec{did % 8}/page-{did}" + (
            ".html" if did % 3 == 0 else ""
        )
        ok, mlen = robots_allowed(r["rules"], path)
        yield (
            did,
            f"site{k}.example",
            int(ok),
            mlen,
            int(r["crawl_delay"]),
            len(r["sitemaps"]),
        )

    return map_rows(docs.select("doc_id"), row, schema, spread=True)


@query(
    "web_robots_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             doc_id % 10 AS k,
             doc_id % 8 AS s,
             (doc_id % 10) % 8 AS a,
             ((doc_id % 10) + 3) % 8 AS b,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS html,
             CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%' THEN 1 ELSE 0 END
               AS page1
      FROM documents
    )
    SELECT doc_id,
           'site' || k || '.example' AS domain,
           CAST(CASE
                  WHEN s = a AND page1 = 1 THEN 1        -- Allow carve-out
                  WHEN s = a THEN 0                      -- section ban
                  WHEN s = b AND html = 1 THEN 0         -- *.html$ ban
                  ELSE 1
                END AS BIGINT) AS allowed,
           CAST(CASE
                  WHEN s = a AND page1 = 1 THEN 12       -- /secA/page-1
                  WHEN s = a THEN 6                      -- /secA/
                  WHEN s = b AND html = 1 THEN 13        -- /secB/*.html$
                  ELSE 0
                END AS BIGINT) AS matched_len,
           CAST(1 + k % 5 AS BIGINT) AS crawl_delay,
           CAST(1 AS BIGINT) AS n_sitemaps
    FROM t
    """,
)
def q_web_robots_filter(spark, sf_dir):
    """RFC 9309 crawl-permission filter over the documents table: each
    document's fetch path is evaluated against its domain's fixture
    robots.txt — specific-group selection over a decoy group and a
    `*` group, a section Disallow beaten by a longer page Allow
    carve-out, a wildcard+anchored `*.html$` ban, Crawl-delay and
    Sitemap extraction. The DuckDB oracle re-derives the longest-match
    outcome (allowed + matched pattern length) from the fixture
    formulas with no parser, pinning group selection, wildcard/anchor
    matching, and the tie rules."""
    docs = load_table(spark, sf_dir, "documents")
    return robots_filter_stats(docs)


# ---------------------------------------------------------------------------
# Sitemap XML parsing — the discovery companion to robots.txt (the
# Sitemap: lines it emits point here): <urlset> entries with
# loc/lastmod/changefreq/priority, and <sitemapindex> indirection.
# Zero-dep tag-level walk (the subset of XML sitemaps actually use);
# map-only per sitemap blob.
# ---------------------------------------------------------------------------


def parse_sitemap(xml: str) -> dict:
    """Parse a sitemap (sitemaps.org protocol): detect <urlset> vs
    <sitemapindex>, extract per-entry <loc> (required), <lastmod>
    (W3C date validated), <changefreq> (enumerated), <priority>
    (0.0-1.0 validated). XML entities in loc decode (&amp; is the one
    sitemaps legally need). Raises on a missing root, an entry
    without <loc>, an out-of-range priority, a bad changefreq, or a
    malformed lastmod — feed-corruption quarantine."""
    import re

    def field(block: str, tag: str) -> "str | None":
        mo = re.search(rf"<{tag}>\s*(.*?)\s*</{tag}>", block, flags=re.S)
        return mo.group(1) if mo else None

    if "<urlset" in xml:
        kind, entry_tag = "urlset", "url"
    elif "<sitemapindex" in xml:
        kind, entry_tag = "sitemapindex", "sitemap"
    else:
        raise ValueError("sitemap: no <urlset> or <sitemapindex> root")
    entries = []
    for mo in re.finditer(
        rf"<{entry_tag}>(.*?)</{entry_tag}>", xml, flags=re.S
    ):
        block = mo.group(1)
        loc = field(block, "loc")
        if loc is None:
            raise ValueError("sitemap: entry without <loc>")
        loc = (
            loc.replace("&amp;", "&")
            .replace("&lt;", "<")
            .replace("&gt;", ">")
            .replace("&apos;", "'")
            .replace("&quot;", '"')
        )
        lastmod = field(block, "lastmod")
        if lastmod is not None and not re.fullmatch(
            r"\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?"
            r"(Z|[+-]\d{2}:\d{2}))?",
            lastmod,
        ):
            raise ValueError(f"sitemap: malformed lastmod {lastmod!r}")
        changefreq = field(block, "changefreq")
        if changefreq is not None and changefreq not in (
            "always", "hourly", "daily", "weekly", "monthly", "never", "yearly",
        ):
            raise ValueError(f"sitemap: bad changefreq {changefreq!r}")
        priority = field(block, "priority")
        pr = None
        if priority is not None:
            try:
                pr = float(priority)
            except ValueError:
                raise ValueError(f"sitemap: bad priority {priority!r}")
            if not 0.0 <= pr <= 1.0:
                raise ValueError(f"sitemap: priority {pr} out of range")
        entries.append(
            {"loc": loc, "lastmod": lastmod, "changefreq": changefreq,
             "priority": pr}
        )
    return {"kind": kind, "entries": entries}


def synth_sitemap(domain_id: int, n_urls: int) -> str:
    """Deterministic fixture: a <sitemapindex> on every 4th domain
    (pointing at n_urls child sitemaps), else a <urlset> of n_urls
    pages with lastmod/changefreq/priority cycling by formula, one
    &amp;-escaped query URL per set."""
    freqs = ("daily", "weekly", "monthly")
    if domain_id % 4 == 0:
        body = "".join(
            f"<sitemap><loc>https://site{domain_id}.example/maps/s{i}.xml"
            f"</loc><lastmod>2024-0{1 + i % 9}-01</lastmod></sitemap>"
            for i in range(n_urls)
        )
        return (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            f"{body}</sitemapindex>"
        )
    body = "".join(
        f"<url><loc>https://site{domain_id}.example/p{i}"
        + ("?a=1&amp;b=2" if i == 0 else "")
        + "</loc>"
        + f"<lastmod>2024-0{1 + i % 9}-01</lastmod>"
        + f"<changefreq>{freqs[i % 3]}</changefreq>"
        + f"<priority>0.{1 + (domain_id + i) % 9}</priority></url>"
        for i in range(n_urls)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</urlset>"
    )


def sitemap_stats(docs: DataFrame) -> DataFrame:
    """One fixture sitemap per document (domain = doc_id%10, size by
    formula), parsed back; priorities summed in integer tenths so the
    oracle is exact. Arrow `map_rows`, map-only."""

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("n_entries", T.LongType()),
            T.StructField("n_daily", T.LongType()),
            T.StructField("priority_tenths", T.LongType()),
            T.StructField("n_escaped", T.LongType()),
        ]
    )

    def row(did):
        k = did % 10
        n = 3 + did % 7
        d = parse_sitemap(synth_sitemap(k, n))
        yield (
            did,
            d["kind"],
            len(d["entries"]),
            sum(1 for e in d["entries"] if e["changefreq"] == "daily"),
            sum(
                round(e["priority"] * 10)
                for e in d["entries"]
                if e["priority"] is not None
            ),
            sum(1 for e in d["entries"] if "&" in e["loc"]),
        )

    return map_rows(docs.select("doc_id"), row, schema, spread=True)


@query(
    "web_sitemap_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 10 AS k, 3 + doc_id % 7 AS n
      FROM documents
    ), e AS (
      SELECT doc_id, k, n, u.i,
             CASE WHEN u.i % 3 = 0 THEN 1 ELSE 0 END AS daily,
             1 + (k + u.i) % 9 AS tenths
      FROM t, LATERAL (SELECT unnest(range(0, n)) AS i) u
    )
    SELECT doc_id,
           CASE WHEN MAX(k) % 4 = 0 THEN 'sitemapindex' ELSE 'urlset' END
             AS kind,
           CAST(MAX(n) AS BIGINT) AS n_entries,
           CAST(CASE WHEN MAX(k) % 4 = 0 THEN 0 ELSE SUM(daily) END
                AS BIGINT) AS n_daily,
           CAST(CASE WHEN MAX(k) % 4 = 0 THEN 0 ELSE SUM(tenths) END
                AS BIGINT) AS priority_tenths,
           CAST(CASE WHEN MAX(k) % 4 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS n_escaped
    FROM e GROUP BY doc_id
    """,
)
def q_web_sitemap_stats(spark, sf_dir):
    """Sitemap-protocol parsing over the documents table: <urlset>
    pages with lastmod/changefreq/priority and an &amp;-escaped URL,
    <sitemapindex> indirection on every 4th domain. The DuckDB oracle
    re-derives entry counts, the changefreq census, the exact
    integer-tenths priority sum, and the entity-decode count from the
    fixture formulas with no parser."""
    docs = load_table(spark, sf_dir, "documents")
    return sitemap_stats(docs)


# ---------------------------------------------------------------------------
# Crawl-to-clean-text capstone — the whole web front end composed:
# WARC record walk → HTTP parse (dechunk) → keep 200/text-html →
# HTML main-content extraction → unicode repair. One Arrow stage per
# archive blob; at 100 TB this is the map-only pass that feeds every
# dedup/quality stage downstream.
# ---------------------------------------------------------------------------


def crawl_to_text_stats(docs: DataFrame) -> DataFrame:
    """Per document: a WARC archive whose 200/text-html response
    carries the full fixture page from `synth_html` (chunked transfer
    on every 3rd doc, member-gzip on even ids) next to a 404 decoy
    and a text/plain decoy; the pipeline walks the archive, picks the
    HTML 200s, strips boilerplate, repairs encoding, and must recover
    the document text byte-for-byte. Arrow `map_rows`, map-only."""
    import hashlib

    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark.llm.text import repair_unicode
    from dynamodb_to_datalake_project_spark.llm.warc import (
        encode_http_response,
        encode_warc,
        gzip_members,
        iter_warc_records,
        parse_http_response,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_html_ok", T.LongType()),
            T.StructField("n_kept_blocks", T.LongType()),
            T.StructField("extracted_chars", T.LongType()),
            T.StructField("clean_md5", T.StringType()),
        ]
    )

    def row(did, text, source):
        page = synth_html(did, text, source).encode("utf-8")
        records = [
            {"type": "warcinfo", "block": b"software: fx/1\r\n"},
            {
                "type": "response",
                "uri": f"https://site{did % 10}.example/p",
                "block": encode_http_response(
                    200, "text/html; charset=utf-8", page,
                    chunked=did % 3 == 0,
                ),
            },
            {
                "type": "response",
                "uri": "https://x.example/gone",
                "block": encode_http_response(404, "text/html", b"gone"),
            },
            {
                "type": "response",
                "uri": "https://x.example/robots.txt",
                "block": encode_http_response(
                    200, "text/plain", b"User-agent: *\r\n"
                ),
            },
        ]
        raw = encode_warc(records)
        if did % 2 == 0:
            bounds, at = [], 0
            for rec in records:
                at += len(encode_warc([rec]))
                bounds.append(at)
            raw, gz = gzip_members(raw, bounds), True
        else:
            gz = False
        texts: "list[str]" = []
        n_records = n_html_ok = n_kept = 0
        for headers, block in iter_warc_records(raw, gzipped=gz):
            n_records += 1
            if headers.get("warc-type") != "response":
                continue
            resp = parse_http_response(block)
            ctype = resp["headers"].get("content-type", "")
            if resp["status"] != 200 or not ctype.startswith("text/html"):
                continue
            n_html_ok += 1
            d = extract_main_content(
                resp["body"].decode("utf-8")
            )
            n_kept += d["n_kept"]
            texts.append(repair_unicode(d["extracted"])["text"])
        clean = "".join(texts)
        assert clean == text  # end-to-end fixture invariant
        yield (
            did,
            n_records,
            n_html_ok,
            n_kept,
            len(clean),
            hashlib.md5(clean.encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text", "source"), row, schema, spread=True)


@query(
    "web_crawl_to_text",
    oracle="""
    SELECT doc_id,
           CAST(4 AS BIGINT) AS n_records,
           CAST(1 AS BIGINT) AS n_html_ok,
           CAST((length(text) + 79) // 80 AS BIGINT) AS n_kept_blocks,
           CAST(length(text) AS BIGINT) AS extracted_chars,
           md5(text) AS clean_md5
    FROM documents
    """,
)
def q_web_crawl_to_text(spark, sf_dir):
    """The web front end composed end to end: WARC walk (member-gzip
    on even ids) → HTTP parse with dechunking → 200/text-html routing
    past two decoy responses → density-scored boilerplate removal →
    unicode repair — and the recovered text must equal the original
    document byte-for-byte (md5 oracle). One Arrow stage; the map-only
    crawl-to-clean-text pass every downstream dedup/quality stage
    consumes at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return crawl_to_text_stats(docs)


# ---------------------------------------------------------------------------
# WET conversion — the Common Crawl *.warc.wet.gz product: for every
# 200/text-html response in a WARC, one `conversion` record holding
# the extracted plain text (text/plain, WARC-Refers-To the source
# response). Completes the crawl chain: WARC → WET is exactly what a
# pretraining pipeline consumes when it skips raw archives.
# ---------------------------------------------------------------------------


def warc_to_wet(raw: bytes, gzipped: bool = False) -> bytes:
    """Convert a WARC byte stream to WET: walk the records, parse each
    response's HTTP block (dechunking as needed), keep 200/text-html,
    extract main content, and emit a warcinfo header record plus one
    text/plain `conversion` record per kept page — each carrying the
    source's WARC-Target-URI and a WARC-Refers-To link. Malformed
    records raise through the underlying walks (quarantine)."""
    from dynamodb_to_datalake_project_spark.llm.warc import (
        encode_warc,
        iter_warc_records,
        parse_http_response,
    )

    wet: "list[dict]" = [
        {"type": "warcinfo", "block": b"software: wet-converter/1\r\n"}
    ]
    for headers, block in iter_warc_records(raw, gzipped=gzipped):
        if headers.get("warc-type") != "response":
            continue
        resp = parse_http_response(block)
        ctype = resp["headers"].get("content-type", "")
        if resp["status"] != 200 or not ctype.startswith("text/html"):
            continue
        text = extract_main_content(resp["body"].decode("utf-8"))["extracted"]
        wet.append(
            {
                "type": "conversion",
                "uri": headers.get("warc-target-uri"),
                "refers_to": headers.get("warc-record-id"),
                "content_type": "text/plain",
                "block": text.encode("utf-8"),
            }
        )
    return encode_warc(wet)


def wet_conversion_stats(docs: DataFrame) -> DataFrame:
    """Per doc: the crawl fixture WARC (HTML 200 + two decoys,
    chunked/member-gzip variants) → `warc_to_wet` → re-parse the WET
    and prove the conversion record carries the document text."""
    import hashlib

    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark.llm.warc import (
        encode_http_response,
        encode_warc,
        gzip_members,
        iter_warc_records,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_wet_records", T.LongType()),
            T.StructField("n_conversions", T.LongType()),
            T.StructField("refers_linked", T.LongType()),
            T.StructField("conversion_chars", T.LongType()),
            T.StructField("wet_text_md5", T.StringType()),
        ]
    )

    def row(did, text, source):
        page = synth_html(did, text, source).encode("utf-8")
        records = [
            {"type": "warcinfo", "block": b"software: fx/1\r\n"},
            {
                "type": "response",
                "uri": f"https://site{did % 10}.example/p",
                "block": encode_http_response(
                    200, "text/html; charset=utf-8", page,
                    chunked=did % 3 == 0,
                ),
            },
            {
                "type": "response",
                "uri": "https://x.example/gone",
                "block": encode_http_response(404, "text/html", b"gone"),
            },
            {
                "type": "response",
                "uri": "https://x.example/robots.txt",
                "block": encode_http_response(
                    200, "text/plain", b"User-agent: *\r\n"
                ),
            },
        ]
        raw = encode_warc(records)
        if did % 2 == 0:
            bounds, at = [], 0
            for rec in records:
                at += len(encode_warc([rec]))
                bounds.append(at)
            raw, gz = gzip_members(raw, bounds), True
        else:
            gz = False
        wet = warc_to_wet(raw, gzipped=gz)
        n_rec = n_conv = linked = 0
        texts: "list[str]" = []
        for headers, block in iter_warc_records(wet):
            n_rec += 1
            if headers.get("warc-type") != "conversion":
                continue
            n_conv += 1
            if headers.get("warc-refers-to"):
                linked += 1
            if headers.get("content-type") != "text/plain":
                raise ValueError("wet: conversion not text/plain")
            texts.append(block.decode("utf-8"))
        clean = "".join(texts)
        assert clean == text  # WARC→WET fixture invariant
        yield (
            did,
            n_rec,
            n_conv,
            linked,
            len(clean),
            hashlib.md5(clean.encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text", "source"), row, schema, spread=True)


@query(
    "web_wet_conversion",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_wet_records,
           CAST(1 AS BIGINT) AS n_conversions,
           CAST(1 AS BIGINT) AS refers_linked,
           CAST(length(text) AS BIGINT) AS conversion_chars,
           md5(text) AS wet_text_md5
    FROM documents
    """,
)
def q_web_wet_conversion(spark, sf_dir):
    """WARC → WET conversion over the crawl fixture: the 200/text-html
    response (past a 404 and a text/plain decoy, through chunked
    transfer and member-gzip variants) becomes exactly one text/plain
    conversion record with a WARC-Refers-To link, and its block must
    equal the document text byte-for-byte (md5 oracle) — the
    *.warc.wet.gz product a pretraining pipeline actually reads."""
    docs = load_table(spark, sf_dir, "documents")
    return wet_conversion_stats(docs)


# ---------------------------------------------------------------------------
# HTML table extraction — the structured-data twin of
# `extract_main_content`: web tables are the raw material for
# table-QA / table-to-text training sets, and a curation pipeline
# lifts them into rows, not prose.
# ---------------------------------------------------------------------------


def extract_html_tables(html: str) -> "list[dict]":
    """Parse every non-nested <table> into {header: [cells] | None,
    rows: [[cells]], n_rows, n_cols}. Cell text is entity-decoded;
    attributes on table/tr/th/td are tolerated and ignored EXCEPT
    colspan/rowspan, which raise NotImplementedError (a spanned grid
    has no faithful row-major cell list — honest-subset boundary).
    Nested tables raise NotImplementedError; ragged rows (unequal
    cell counts) raise ValueError — the quarantine contract."""
    import re as _re

    from dynamodb_to_datalake_project_spark.llm.wikidump import xml_unescape

    tables: "list[dict]" = []
    for tmo in _re.finditer(
        r"<table(?:\s[^>]*)?>(.*?)</table>", html, _re.S | _re.I
    ):
        body = tmo.group(1)
        if _re.search(r"<table(?:\s[^>]*)?>", body, _re.I):
            raise NotImplementedError("html: nested tables not implemented")
        header: "list[str] | None" = None
        rows: "list[list[str]]" = []
        for rmo in _re.finditer(
            r"<tr(?:\s[^>]*)?>(.*?)</tr>", body, _re.S | _re.I
        ):
            cells: "list[str]" = []
            kinds: "list[str]" = []
            for cmo in _re.finditer(
                r"<(th|td)((?:\s[^>]*)?)>(.*?)</\1>",
                rmo.group(1), _re.S | _re.I,
            ):
                attrs = cmo.group(2)
                if _re.search(r"(colspan|rowspan)\s*=", attrs, _re.I):
                    raise NotImplementedError(
                        "html: colspan/rowspan tables not implemented"
                    )
                kinds.append(cmo.group(1).lower())
                cells.append(xml_unescape(cmo.group(3)))
            if not cells:
                raise ValueError("html: <tr> with no th/td cells")
            if header is None and not rows and all(k == "th" for k in kinds):
                header = cells
            else:
                rows.append(cells)
        widths = {len(c) for c in ([header] if header else []) + rows}
        if len(widths) > 1:
            raise ValueError(f"html: ragged table (widths {sorted(widths)})")
        if not widths:
            raise ValueError("html: table with no rows")
        tables.append(
            {
                "header": header,
                "rows": rows,
                "n_rows": len(rows),
                "n_cols": widths.pop(),
            }
        )
    return tables


def table_extract_stats(docs: DataFrame) -> DataFrame:
    """Per doc: a (3 + id%4)-row × (2 + id%3)-col table whose cells
    are the document's words by row-major index formula (header row
    of <th> on every 2nd doc), embedded in boilerplate; extract and
    pin the full cell grid via md5."""
    import hashlib

    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark.llm.wikidump import xml_escape

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_tables", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_cols", T.LongType()),
            T.StructField("has_header", T.LongType()),
            T.StructField("cells_md5", T.StringType()),
        ]
    )

    def row(did, text):
        words = text.split(" ")
        n_rows, n_cols = 3 + did % 4, 2 + did % 3
        hdr = did % 2 == 0

        def cell(r: int, c: int) -> str:
            return words[(r * n_cols + c) % len(words)]

        parts = ['<table class="data">']
        if hdr:
            parts.append(
                "<tr>" + "".join(
                    f"<th>{xml_escape(cell(0, c))}</th>"
                    for c in range(n_cols)
                ) + "</tr>"
            )
        for r in range(n_rows):
            parts.append(
                "<tr>" + "".join(
                    f'<td align="left">'
                    f"{xml_escape(cell(r + 1, c))}</td>"
                    for c in range(n_cols)
                ) + "</tr>"
            )
        parts.append("</table>")
        page = (
            "<html><body><p>intro prose</p>"
            + "".join(parts)
            + "<p>footer</p></body></html>"
        )
        tables = extract_html_tables(page)
        assert len(tables) == 1
        t = tables[0]
        grid = ([t["header"]] if t["header"] else []) + t["rows"]
        flat = "\n".join("\t".join(row) for row in grid)
        yield (
            did,
            len(tables),
            t["n_rows"],
            t["n_cols"],
            int(t["header"] is not None),
            hashlib.md5(flat.encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)


@query(
    "web_table_extract",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             3 + doc_id % 4 AS nr, 2 + doc_id % 3 AS nc,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS hdr
      FROM documents
    )
    SELECT doc_id,
           CAST(1 AS BIGINT) AS n_tables,
           CAST(nr AS BIGINT) AS n_rows,
           CAST(nc AS BIGINT) AS n_cols,
           CAST(hdr AS BIGINT) AS has_header,
           md5(array_to_string(
             list_transform(range(0, nr + hdr), r ->
               array_to_string(
                 list_transform(range(0, nc), c ->
                   w[((r + 1 - hdr) * nc + c) % len(w) + 1]),
                 chr(9))),
             chr(10))) AS cells_md5
    FROM t
    """,
)
def q_web_table_extract(spark, sf_dir):
    """HTML table extraction over the documents table: each doc's
    words fill a formula-indexed row-major grid (header row of <th>
    on even ids, attribute noise on cells, boilerplate prose around
    the table); `extract_html_tables` must lift the exact cell grid
    back out — the oracle rebuilds the full tab/newline-joined grid
    from the same index formula and compares md5."""
    docs = load_table(spark, sf_dir, "documents")
    return table_extract_stats(docs)
