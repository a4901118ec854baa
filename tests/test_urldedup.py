"""URL-canonicalization dedup (operators/urldedup.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.operators import urldedup
from entity_deduplication_hack_main_spark.sources import corpus


def test_canonical_url_key_rules(spark):
    cases = [
        # scheme / case / www / default port / trailing slash / fragment
        ("HTTPS://WWW.Example.com:443/a/b/#frag", "example.com/a/b"),
        ("http://example.com:80/a/b", "example.com/a/b"),
        # tracking params dropped, rest sorted; emptied query disappears
        ("https://example.com/p?utm_source=x&b=2&a=1", "example.com/p?a=1&b=2"),
        ("https://example.com/p?utm_campaign=y&gclid=1&fbclid=2&ref=t", "example.com/p"),
        # root path collapses; real params survive
        ("https://example.com/?q=spark", "example.com?q=spark"),
        # NON-default port kept (different service, not a recrawl)
        ("http://example.com:8080/a", "example.com:8080/a"),
        # a default port is stripped only for its own scheme
        ("http://example.com:443/a", "example.com:443/a"),
        ("https://example.com:80/a", "example.com:80/a"),
        # userinfo dropped like parse_url does
        ("https://user:pw@www.example.com:443/a", "example.com/a"),
        # no scheme://authority -> NULL key (no canonical identity)
        ("example.com/p", None),
        ("not a url at all", None),
        # scheme-bearing but MALFORMED (unencoded space): plain parse_url
        # RAISES under Spark 4 ANSI — must be NULL, not a crash, and not
        # a host-only key that merges every malformed URL on the host
        ("https://example.com/a b", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["k"]
        for r in df.select(
            urldedup.canonical_url_key(F.col("url")).alias("k")
        ).collect()
    ]
    assert got == [want for _, want in cases]


def test_dedup_by_url_keeps_earliest_crawl(spark):
    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "https://example.com/p?utm_source=a", t + dt.timedelta(days=2), "x"),
        (2, "https://www.example.com/p/", t, "y"),  # earliest crawl wins
        (3, "https://example.com/p", t + dt.timedelta(days=1), "z"),
        (4, "https://example.com/other", t, "w"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string, warc_ts timestamp, text string")
    out = urldedup.dedup_by_url(df).collect()
    kept = {r["doc_id"]: r for r in out}
    assert set(kept) == {2, 4}
    assert kept[2]["text"] == "y"  # original columns preserved
    assert kept[2]["url_key"] == "example.com/p"
    stats = urldedup.url_dup_stats(df, "url").collect()
    assert {(r["url_key"], r["n_pages"]) for r in stats} == {("example.com/p", 3)}


def test_dedup_by_url_plan_partial_agg_no_python(spark):
    df = spark.createDataFrame(
        [(1, "https://a.com/x", None, "t")],
        "doc_id bigint, url string, warc_ts timestamp, text string",
    )
    plan = (
        urldedup.dedup_by_url(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "partial_" in plan


def test_synthetic_corpus_urls_are_unique_after_canonicalization(spark):
    """The synthetic corpus assigns one URL per doc — canonicalization
    must not accidentally merge distinct pages (injectivity check on
    realistic URL shapes)."""
    docs = corpus.synthesize_corpus(spark, n_docs=120, dup_fraction=0.4, seed=3)
    n = docs.count()
    kept = urldedup.dedup_by_url(docs).count()
    assert kept == n


def test_pipeline_url_dedup_stage_drops_recrawls(spark):
    """run_pipeline(url_dedup_col=...): tracking-decorated recrawls of
    committed URLs vanish at the url_dedup pre-stage (earliest warc_ts
    wins), before any shingling."""
    from entity_deduplication_hack_main_spark.config import DedupConfig
    from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline

    n = 80
    docs = corpus.synthesize_corpus(spark, n_docs=n, dup_fraction=0.4, seed=5)
    recrawls = docs.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("url"), F.lit("?utm_source=feed")).alias("url"),
        F.expr("warc_ts + INTERVAL 1 DAY").alias("warc_ts"),
        "html", "text", "lang", "cluster_id", "variation_type",
    )
    res = run_pipeline(
        spark,
        docs.unionByName(recrawls),
        DedupConfig(),
        url_dedup_col="url",
    )
    ids = {r["id"] for r in res.assignments.collect()}
    assert len(ids) == n  # the 3 recrawls never reached representation
    assert all(i < 100000 for i in ids)  # originals won (earlier warc_ts)


def test_dedup_by_url_null_ts_loses_and_null_key_passes_through(spark):
    """An undated (NULL warc_ts) recrawl must NOT beat a dated first
    crawl (struct min would sort nulls first), and rows whose URL has no
    canonical key pass through untouched — never merged, never dropped."""
    import datetime as dt

    t = dt.datetime(2024, 1, 5)
    rows = [
        (1, "https://a.example/x", t, "dated original"),
        (2, "https://www.a.example/x/", None, "undated recrawl"),
        (3, "garbage-no-scheme", None, "unparseable A"),
        (4, "still no scheme", None, "unparseable B"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, url string, warc_ts timestamp, text string"
    )
    out = {r["doc_id"]: r for r in urldedup.dedup_by_url(df).collect()}
    assert set(out) == {1, 3, 4}  # dated crawl wins; unparseables kept
    assert out[1]["url_key"] == "a.example/x"
    assert out[3]["url_key"] is None and out[4]["url_key"] is None
    # NULL keys never pool into a dup group
    assert urldedup.url_dup_stats(df, "url").where(
        "url_key IS NULL"
    ).count() == 0
