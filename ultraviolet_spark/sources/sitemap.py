"""Sitemap source (sitemaps.org XML protocol) — the crawl-discovery
feed: sites publish ``<urlset>`` documents listing URLs with optional
lastmod/changefreq/priority.  Index files (``<sitemapindex>``), which
point at child sitemaps, are read by ``operators.sitemap``.

Parsing is Spark 4's native ``from_xml`` (Catalyst, JVM-side — no
Python in the scan); one sitemap document is one row in, up to 50k URL
rows out (the protocol's own cap), so the explode is bounded per input
row.  At crawl scale sitemaps arrive as one blob column per host from
the fetch stage; parsing is embarrassingly parallel, and the output
feeds straight into the frontier join (``robots.is_allowed`` →
``urls.blocklist_filter`` → dedup against the CDX index by urlkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_URL_ENTRY = T.StructType([
    T.StructField("loc", T.StringType()),
    T.StructField("lastmod", T.StringType()),
    T.StructField("changefreq", T.StringType()),
    T.StructField("priority", T.DoubleType()),
])

URLSET_SCHEMA = T.StructType([
    T.StructField("url", T.ArrayType(_URL_ENTRY)),
])


def parse_sitemap(df: DataFrame, *, xml_col: str = "sitemap_xml",
                  host_col: str = "host") -> DataFrame:
    """``(host, loc, lastmod, changefreq, priority)`` — one row per
    ``<url>`` entry.  ``lastmod`` is parsed W3C-datetime when it is a
    bare date or full timestamp (``try_to_timestamp`` — junk stays
    NULL); malformed XML yields zero rows for that input row rather
    than failing the scan."""
    parsed = F.from_xml(F.col(xml_col), URLSET_SCHEMA)
    e = F.col("__e")
    return (df
            .select(F.col(host_col).alias("host"),
                    F.explode(parsed["url"]).alias("__e"))
            .select(
                "host",
                e["loc"].alias("loc"),
                F.coalesce(
                    F.try_to_timestamp(e["lastmod"],
                                       F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
                    F.try_to_timestamp(e["lastmod"],
                                       F.lit("yyyy-MM-dd")))
                .alias("lastmod"),
                e["changefreq"].alias("changefreq"),
                e["priority"].alias("priority")))


def build_sitemap(urls: DataFrame, *, host_col: str = "host",
                  loc_col: str = "loc",
                  lastmod_col: str | None = None) -> DataFrame:
    """``(host, sitemap_xml)`` — deterministic urlset writer (tests /
    synthetic crawls), entries in ``loc`` order."""
    lastmod = (F.date_format(F.col(lastmod_col), "yyyy-MM-dd")
               if lastmod_col else None)
    entry = F.concat(
        F.lit("<url><loc>"), F.col(loc_col), F.lit("</loc>"),
        *((F.lit("<lastmod>"), lastmod, F.lit("</lastmod>"))
          if lastmod is not None else ()),
        F.lit("</url>"))
    return (urls
            .groupBy(F.col(host_col).alias("host"))
            .agg(F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/'
                      'schemas/sitemap/0.9">'),
                F.array_join(F.sort_array(F.collect_list(entry)), ""),
                F.lit("</urlset>")).alias("sitemap_xml")))
