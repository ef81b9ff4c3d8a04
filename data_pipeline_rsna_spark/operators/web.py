"""Web/crawl hygiene operators (SURVEY.md §2.3 X4+ — corpus curation).

A crawl-derived corpus is keyed by URL, and raw URLs are a dirty key:
scheme/host case, default ports, fragments, trailing slashes, and
query-parameter order all vary without changing the resource. Frontier
dedup, document dedup, and per-site accounting all need ONE canonical
form first — otherwise every downstream dedup undercounts.

The canonicalizer is a pure narrow expression (regex + array built-ins,
no UDF, no shuffle): it composes into any scan. The rules implemented
are the safe, semantics-preserving subset of RFC 3986 normalization:

1. strip the fragment (never sent to the server),
2. lowercase scheme and host (case-insensitive by spec),
3. drop default ports (``:80`` http, ``:443`` https),
4. sort query parameters (order is almost-always insignificant; the
   rare order-sensitive endpoint is the documented tradeoff every
   crawler makes),
5. strip one trailing slash from non-root paths, normalize an empty
   path to ``/``.

Deliberately NOT done (lossy without fetching): %-encoding
normalization beyond case, `..` path collapsing, parameter blacklists
(utm_*) — those belong in a site-specific config layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

URL_COL = "url"
ID_COL = "doc_id"
HTML_COL = "html"

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_REST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$"


def canonical_url_expr(url_col: str) -> str:
    """SQL expression string producing the canonical form of
    ``url_col`` (Spark dialect; the DuckDB oracle mirrors it with
    list_sort/string_split). Kept as ONE expression so it inlines into
    scans — canonicalization must never cost a pass of its own."""
    nofrag = f"regexp_replace(`{url_col}`, '#.*$', '')"
    scheme = f"lower(regexp_extract({nofrag}, '{_SCHEME_RE}', 1))"
    hostport = f"lower(regexp_extract({nofrag}, '{_HOST_RE}', 1))"
    rest = f"regexp_extract({nofrag}, '{_REST_RE}', 1)"
    host = (
        f"CASE WHEN {scheme} = 'http' "
        f"THEN regexp_replace({hostport}, ':80$', '') "
        f"WHEN {scheme} = 'https' "
        f"THEN regexp_replace({hostport}, ':443$', '') "
        f"ELSE {hostport} END"
    )
    path0 = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = f"regexp_extract({rest}, '\\\\?(.*)$', 1)"
    path = (
        f"CASE WHEN {path0} IN ('', '/') THEN '/' "
        f"WHEN {path0} LIKE '%/' "
        f"THEN substr({path0}, 1, length({path0}) - 1) "
        f"ELSE {path0} END"
    )
    return (
        f"concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {query} = '' THEN '' "
        f"ELSE concat('?', array_join(array_sort(split({query}, '&')), "
        "'&')) END)"
    )


def url_canonical_dedup(df: DataFrame) -> DataFrame:
    """Group raw URLs by canonical form: (canonical_url, n_raw rows,
    n_variants distinct spellings). The frontier-dedup primitive — at
    crawl scale this one map-side-combined shuffle (key = canonical
    string) replaces a fetch per spelling variant."""
    return (
        df.selectExpr(
            f"{canonical_url_expr(URL_COL)} AS canonical_url",
            f"`{URL_COL}` AS _raw",
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_raw"),
            F.countDistinct("_raw").alias("n_variants"),
        )
    )


def strip_html_expr(col: str) -> str:
    """SQL expression: visible text of an HTML column — the crawl
    text-extraction step. Removal order matters and is part of the
    contract: script/style/comment BLOCKS first (their contents are
    not text; a tag-only pass would leak javascript into the corpus),
    then remaining tags, then the five entities that appear in
    plain-text-bearing attributes, then whitespace collapse. All RE2/
    Java-regex-portable patterns ((?is) flags, non-greedy blocks), one
    narrow expression — no UDF, no parser dependency. A DOM-accurate
    extractor (trafilatura-class) is a different fidelity tier; this
    is the deterministic bulk path that handles the 99% and is
    cross-engine value-checkable."""
    x = f"`{col}`"
    x = f"regexp_replace({x}, '(?is)<script.*?</script>', ' ')"
    x = f"regexp_replace({x}, '(?is)<style.*?</style>', ' ')"
    x = f"regexp_replace({x}, '(?s)<!--.*?-->', ' ')"
    x = f"regexp_replace({x}, '<[^>]*>', ' ')"
    # &amp; decodes LAST: any other order double-decodes '&amp;lt;'
    # (escaped markup in the text) into a live '<'
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '\"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        rep = ch.replace("'", "\\'")
        x = f"replace({x}, '{ent}', '{rep}')"
    return f"trim(regexp_replace({x}, '\\\\s+', ' '))"


def html_extract_stats(df: DataFrame) -> DataFrame:
    """Per-document extraction accounting: raw vs visible-text sizes
    and the retained ratio in ppm — the boilerplate-share metric a
    curation pipeline tracks per site (a site whose retained ppm
    collapses is shipping chrome, not content). Narrow projection;
    integer ppm via floor division. Empty documents yield NULL ppm
    (guarded: Spark 4's ANSI mode raises DIVIDE_BY_ZERO otherwise)."""
    return df.selectExpr(
        f"`{ID_COL}`",
        f"length(`{HTML_COL}`) AS n_chars_raw",
        f"length({strip_html_expr(HTML_COL)}) AS n_chars_text",
        f"CASE WHEN length(`{HTML_COL}`) > 0 THEN "
        f"CAST(length({strip_html_expr(HTML_COL)}) * 1000000 "
        f"DIV length(`{HTML_COL}`) AS BIGINT) END AS retained_ppm",
    )
