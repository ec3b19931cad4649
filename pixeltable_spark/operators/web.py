"""URL normalization and domain filtering for web-scale corpus curation.

The standard first stages of a CommonCrawl-style pipeline (public designs:
CCNet, RefinedWeb §3.1, Dolma): canonicalize URLs so that syntactic
variants of the same page dedup together, extract the registrable domain
for per-domain statistics and blocklist filtering.

Everything is pure-JVM column math (`parse_url` is avoided on purpose:
it throws on malformed input and its query-string handling is
Hive-specific — regexp in the Java∩RE2 subset reproduces exactly in a
DuckDB oracle). At 100 TB these are map-only projections/filters — no
shuffle; `domain_counts` is one groupBy with map-side partial aggregation
over low-cardinality keys (domains), and blocklist filtering is a
broadcast semi-join or an `isin` literal filter depending on list size.

Reference has no web/URL surface — beyond-reference training-pipeline
family (driver brief).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that never change page identity (tracking/session ids);
# public lists: RefinedWeb, uBlock "tracking params"
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "mc_eid", "igshid", "ref", "ref_src",
)

# multi-label public suffixes we special-case without shipping the full
# publicsuffix.org list (the common ones in web corpora); a production
# deployment swaps in the full PSL as a broadcast lookup
_TWO_LABEL_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za",
)


def url_host(url: Column) -> Column:
    """Lowercased hostname: strip scheme, userinfo, port, path/query/
    fragment. Empty string for inputs with no authority."""
    # scheme:// [user@] host [:port] [/ or ? or # ...]
    host = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)
    return F.lower(host)


def url_port(url: Column) -> Column:
    """Explicit port as a string ('' when absent)."""
    return F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:(\d+)", 1)


def url_path(url: Column) -> Column:
    """Path component ('' when absent), query/fragment stripped."""
    return F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)


def url_query(url: Column) -> Column:
    """Raw query string without the leading '?' ('' when absent)."""
    return F.regexp_extract(url, r"\?([^#]*)", 1)


def strip_tracking_params(query: Column,
                          params: Sequence[str] = TRACKING_PARAMS) -> Column:
    """Drop tracking parameters from a query string and sort the survivors
    so parameter order does not defeat dedup. Array ops stay JVM-side:
    split -> filter by key prefix -> sort_array -> rejoin."""
    kvs = F.filter(
        F.split(query, "&"),
        lambda kv: (kv != "") & ~F.split(kv, "=")[0].isin(*params),
    )
    return F.array_join(F.sort_array(kvs), "&")


def canonicalize_url(url: Column,
                     params: Sequence[str] = TRACKING_PARAMS) -> Column:
    """Canonical form used as the dedup key:

    * scheme + host lowercased, `www.` prefix dropped
    * default ports (http:80 / https:443) dropped, others kept
    * fragment dropped
    * tracking params dropped, remaining params sorted
    * trailing '/' on the path dropped

    Variants like `HTTP://WWW.Ex.com:80/a?utm_source=x&b=1#frag` and
    `http://ex.com/a?b=1` map to the same string.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.regexp_replace(url_host(url), r"^www\.", "")
    port = url_port(url)
    is_default = ((scheme == "http") & (port == "80")) | \
                 ((scheme == "https") & (port == "443"))
    port_part = (F.when((port != "") & ~is_default,
                        F.concat(F.lit(":"), port)).otherwise(F.lit("")))
    path = F.regexp_replace(url_path(url), r"/$", "")
    q = strip_tracking_params(url_query(url), params)
    return F.concat(
        scheme, F.lit("://"), host, port_part, path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def registered_domain(host: Column) -> Column:
    """Registrable domain (eTLD+1) of a lowercased hostname: last two
    labels, or last three when the two-label tail is a known multi-part
    public suffix. IP literals pass through unchanged."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, F.greatest(n - 1, F.lit(1)), 2), ".")
    last3 = F.array_join(F.slice(labels, F.greatest(n - 2, F.lit(1)), 3), ".")
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return (F.when(is_ip | (n <= 2), host)
            .when(last2.isin(*_TWO_LABEL_SUFFIXES), last3)
            .otherwise(last2))


def domain_counts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Documents per registrable domain — the input to per-domain caps
    (RefinedWeb caps docs/domain to bound SEO-farm influence). One
    groupBy over low-cardinality keys; partial aggregation makes the
    shuffle rows-per-domain-per-partition, not rows."""
    return (df.select(registered_domain(url_host(F.col(url_col))).alias("domain"))
              .groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs")))


def filter_blocked_domains(df: DataFrame, blocklist: DataFrame | Sequence[str],
                           url_col: str = "url") -> DataFrame:
    """Drop rows whose registrable domain is blocklisted. A literal list
    compiles to an `isin` filter (pushes into the scan); a DataFrame
    blocklist becomes a broadcast anti-join — either way the corpus never
    shuffles."""
    dom = registered_domain(url_host(F.col(url_col)))
    if isinstance(blocklist, DataFrame):
        bl = blocklist.select(F.col(blocklist.columns[0]).alias("_blocked_domain"))
        return (df.withColumn("_dom", dom)
                  .join(F.broadcast(bl), F.col("_dom") == F.col("_blocked_domain"),
                        "left_anti")
                  .drop("_dom"))
    return df.where(~dom.isin(*list(blocklist)))


def cap_per_domain(df: DataFrame, max_docs: int, url_col: str = "url",
                   order_col: str = "doc_id") -> DataFrame:
    """Keep at most `max_docs` documents per registrable domain,
    deterministically (lowest `order_col` first) — the RefinedWeb
    domain-cap. One window shuffle on domain; AQE splits skewed giants."""
    from pyspark.sql import Window
    dom = registered_domain(url_host(F.col(url_col)))
    w = Window.partitionBy("_dom").orderBy(F.col(order_col))
    return (df.withColumn("_dom", dom)
              .withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= max_docs)
              .drop("_dom", "_rn"))
