"""URL-canonicalization dedup — the cheapest Common-Crawl dedup channel.

Recrawls and tracking-decorated links are the highest-volume duplicate
source in web corpora, and they are detectable from the URL alone —
before any content hashing. This operator canonicalizes URLs into a
``url_key`` and keeps one representative page per key (earliest
``warc_ts``, then lowest id — the "first crawl wins" rule used by
Common-Crawl-style curation).

Canonicalization (documented; pure JVM ``parse_url`` + regex/array
expressions, no Python):
- scheme and fragment dropped; host lowercased; leading ``www.`` and an
  explicit default port of the scheme (``:80`` for http, ``:443`` for
  https) stripped;
- trailing ``/`` of the path stripped (``/a/b/`` == ``/a/b``; the root
  path becomes the empty string);
- query tracking parameters removed (``utm_*``, ``gclid``, ``fbclid``,
  ``ref``, ``fb_action_ids``), the remaining parameters SORTED so
  ``?b=2&a=1`` == ``?a=1&b=2``; an emptied query disappears entirely;
- NON-default ports are KEPT (``host:8080`` and ``host:9090`` are
  different services, not recrawls); userinfo is dropped;
- a URL with no ``scheme://authority`` canonicalizes to NULL = "no
  canonical identity": such rows pass through dedup untouched and are
  excluded from dup stats — malformed crawl URLs must never be silently
  merged into one group or dropped.

Scale shape: one narrow projection, then a single partial-aggregating
``groupBy(url_key)`` with ``min(struct(ts, id))`` + join-back — the same
skew-safe pattern as operators/linededup.py (a hot key costs one struct
per map partition; no per-key arrays). At 10^12 pages this is the stage
you run FIRST: it shrinks the corpus before shingling ever happens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: query parameters that never change page content
TRACKING_PARAM_PAT = r"^(utm_[^=]*|gclid|fbclid|ref|fb_action_ids)="


def canonical_url_key(url: Column) -> Column:
    """The canonical dedup key of a URL (see module docstring), or NULL
    when the URL has no ``scheme://authority`` — a NULL key means "no
    canonical identity": :func:`dedup_by_url` passes such rows through
    untouched and :func:`url_dup_stats` ignores them, so malformed crawl
    URLs are never silently merged or dropped.

    The authority is taken by regex, NOT ``parse_url(HOST)``: Spark's
    HOST part strips EVERY port, which would merge distinct services on
    the same host (``host:8080`` vs ``host:9090``) — only the scheme's
    own default port (:80 for http, :443 for https) is content-neutral,
    so only it is stripped (``https://host:80`` keeps its port).
    Userinfo (``user@host``, up to the LAST ``@`` per RFC 3986) is
    dropped like parse_url does.

    PATH/QUERY come from ``try_parse_url`` — the plain ``parse_url``
    RAISES under Spark 4's default ANSI mode on malformed scheme-bearing
    URLs (unencoded spaces etc., endemic in crawl data), which would
    abort the whole job; and with ANSI off it returns NULL parts, which a
    bare ``coalesce('')`` would collapse into host-only keys that merge
    every malformed URL on a host. Instead, URL validity gates the whole
    key: unparseable → NULL → passthrough."""
    auth = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1)
    scheme = F.lower(
        F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1)
    )
    host = F.lower(auth)
    host = F.regexp_replace(host, r"^.*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/$", "")
    query = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_PAT),
    )
    qnorm = F.array_join(F.array_sort(params), "&")
    return F.when(
        (auth != "") & F.try_parse_url(url, F.lit("HOST")).isNotNull(),
        F.concat(
            host,
            path,
            F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(
                F.lit("")
            ),
        ),
    )


def url_dup_stats(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """(url_key, n_pages) for every canonical key with >= 2 pages.
    NULL keys (unparseable URLs, no canonical identity) are excluded —
    they must not pool into one bogus mega-group."""
    return (
        docs.select(canonical_url_key(F.col(url_col)).alias("url_key"))
        .where(F.col("url_key").isNotNull())
        .groupBy("url_key")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .where(F.col("n_pages") >= 2)
    )


def dedup_by_url(
    docs: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    ts_col: str | None = "warc_ts",
) -> DataFrame:
    """Keep one page per canonical URL: earliest *ts_col* (when given,
    with NULL timestamps losing to any dated crawl — struct min would
    otherwise sort nulls FIRST and an undated recrawl would beat the true
    first crawl), then lowest *id_col*. Rows whose URL has no canonical
    key (NULL — unparseable/scheme-less) pass through untouched: no
    identity means no dedup, never a silent drop. Input schema preserved,
    plus ``url_key``."""
    keyed = docs.withColumn("url_key", canonical_url_key(F.col(url_col)))
    occ = F.struct(
        *(
            [F.col(ts_col).isNull().alias("_ts_missing"), F.col(ts_col)]
            if ts_col
            else []
        ),
        F.col(id_col),
    ).alias("_occ")
    winners = (
        keyed.where(F.col("url_key").isNotNull())
        .select(F.col("url_key").alias("_wk"), occ)
        .groupBy("_wk")
        .agg(F.min("_occ").alias("_first"))
    )
    # ONE pass over docs: NULL-key rows simply never match the (left)
    # winner join and are kept by the isNull leg — a separate
    # filter+union branch would scan the corpus (and evaluate the key
    # expression chain) twice, which dominates at the "run this FIRST
    # at 10^12 pages" position this operator holds
    kept = keyed.join(
        winners, keyed["url_key"] == winners["_wk"], "left"
    ).where(
        F.col("url_key").isNull()
        | (F.col(f"_first.{id_col}") == F.col(id_col))
    )
    return kept.select("url_key", *docs.columns)
