"""Physical-plan quality gates — the scale checklist as assertions.

The 100 TB design contract (task brief): filters/column pruning reach the
parquet scan, small dims broadcast, the hot path never drops to row-at-a-
time Python (`BatchEvalPython`), and the Arrow kernel appears as a single
mapInArrow/ArrowEval node.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark import entry_queries
from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import represent


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_row_python_on_hot_path(spark, sf001):
    """north_rule: zero per-row Python — the payload plan must contain the
    Arrow kernel nodes only, never BatchEvalPython."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    p = represent.with_representation(docs, DedupConfig())
    plan = _plan(p)
    assert "BatchEvalPython" not in plan
    assert ("MapInArrow" in plan) or ("ArrowEvalPython" in plan)


def test_column_pruning_reaches_scan(spark, sf001):
    """A 2-column projection must not read all lineitem columns."""
    q = entry_queries.queries()["q1_pricing_summary"](spark, sf001)
    plan = _plan(q)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln or "ReadSchema" in ln]
    txt = "\n".join(scan) or plan
    assert "l_comment" not in txt  # never selected anywhere
    assert "l_shipdate" not in txt  # exists in schema, not in this query


def test_filter_pushdown_reaches_scan(spark, sf001):
    li = spark.read.parquet(f"{sf001}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 49).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_broadcast_join_for_small_dims(spark, sf001):
    q = entry_queries.queries()["revenue_by_nation"](spark, sf001)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_anti_join_stays_anti(spark, sf001):
    q = entry_queries.queries()["customers_without_orders"](spark, sf001)
    assert "LeftAnti" in _plan(q)


def test_partial_aggregation_present(spark, sf001):
    """groupBy aggregations must split partial/final (map-side combine)."""
    q = entry_queries.queries()["lang_distribution"](spark, sf001)
    plan = _plan(q)
    assert plan.count("HashAggregate") >= 2


def test_window_group_limit_pushdown(spark, sf001):
    """rank<=k filters should trigger WindowGroupLimit (Spark 3.5+) so the
    full per-group sort never materializes."""
    q = entry_queries.queries()["top_orders_per_customer"](spark, sf001)
    plan = _plan(q)
    assert "WindowGroupLimit" in plan


def test_embedding_near_dup_lsh_plan_is_bucketed(spark, sf001):
    """The production near-dup channel must never cartesian: no
    CartesianProduct/BroadcastNestedLoopJoin in the plan; Python appears
    only as the Arrow bucket kernel; candidates join on the band key."""
    q = entry_queries.queries()["embedding_near_dup_lsh"](spark, sf001)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_spread_skips_scans_that_arrive_spread(spark, sf001, tmp_path):
    """A parquet of 2·defaultParallelism files plans no round-robin
    exchange, the single-file testdata scan still plans one, and neither
    decision runs a Spark job."""
    sc = spark.sparkContext
    one_file = f"{sf001}/documents.parquet"
    many_files = str(tmp_path / "documents")
    spark.read.parquet(one_file).repartition(
        2 * sc.defaultParallelism
    ).write.parquet(many_files)
    scans = [spark.read.parquet(p) for p in (many_files, one_file)]
    try:
        sc.setJobGroup("spread-decision", "spread decision")
        multi, single = (entry_queries._spread(spark, df) for df in scans)
        assert sc.statusTracker().getJobIdsForGroup("spread-decision") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "RoundRobinPartitioning" not in _plan(multi)
    assert "RoundRobinPartitioning" in _plan(single)


def test_unpinned_query_and_pair_metrics_leave_no_storage(spark, sf001):
    """``unigram_lm_scores`` (its token-table pin is gone) and
    ``evaluate.pair_metrics`` persist nothing that outlives the call.
    Ids, not counts: GC may free older blocks mid-run."""
    from entity_deduplication_hack_main_spark.operators import evaluate

    jsc = spark.sparkContext._jsc.sc()

    def new_storage(run) -> set[int]:
        before = {i.id() for i in jsc.getRDDStorageInfo()}
        run()
        return {i.id() for i in jsc.getRDDStorageInfo()} - before

    q = entry_queries.queries()["unigram_lm_scores"]
    assert new_storage(
        lambda: q(spark, sf001).write.format("noop").mode("overwrite").save()
    ) == set()
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id1 long, id2 long")
    golden = spark.createDataFrame(
        [(2, 1)], "original_id long, duplicate_id long"
    )
    assert new_storage(lambda: evaluate.pair_metrics(pairs, golden)) == set()


def test_pins_release_newest_first(spark):
    """``Pins.release`` releases newest first, keeps the order of the pins
    that stay, and frees every persisted RDD it pinned (ids, not counts,
    as above)."""
    from entity_deduplication_hack_main_spark.plans.pins import Pins

    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet()}

    before = persisted()
    pins = Pins()
    base = pins.persist(spark.range(10))
    derived = pins.persist(base.where("id % 2 = 0"))
    cp = pins.checkpoint(derived.select((F.col("id") * 3).alias("id")))
    assert len(persisted() - before) == 3
    order = []
    pins._pinned = [  # record each release, in the order it runs
        (out, lambda i=i, release=release: (order.append(i), release()))
        for i, (out, release) in enumerate(pins._pinned)
    ]
    pins.release(derived)
    assert order == [1]
    assert [id(out) for out, _ in pins._pinned] == [id(base), id(cp)]
    pins.release()
    assert order == [1, 2, 0]
    assert persisted() - before == set()


def test_cut_spans_raw_plan_broadcasts_ranges_no_python(spark, sf001):
    """r03 verdict #9: the span-cut ranges join must broadcast the tiny
    grouped-ranges side (the docs side carries the corpus text/token
    arrays — a plan-chosen SMJ would shuffle THAT instead), and the whole
    cut is JVM expressions — no Python anywhere."""
    from entity_deduplication_hack_main_spark.operators import suffix

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    cfg = entry_queries.CFG
    spans = suffix.substring_spans_exact(docs, cfg, span_k=20, hash_strategy="md5")
    for cut in (
        suffix.cut_spans_raw(docs, spans),
        suffix.cut_spans(docs, spans),
    ):
        plan = _plan(cut)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan.split("Exchange")[0]
        assert "BatchEvalPython" not in plan


def test_cut_spans_raw_decomposition_reconstructs_any_text(spark):
    """Invariant behind raw cutting: for ARBITRARY text (unicode,
    punctuation runs, empty, whitespace-only), sep[0] + Σ(tok[i]+sep[i+1])
    rebuilds the input byte-exactly, and a doc with no spans passes
    through cut_spans_raw verbatim."""
    import random

    from entity_deduplication_hack_main_spark.operators import suffix

    rng = random.Random(99)
    alphabet = (
        "abcXYZ0123456789 \t\n.,;:!?()[]#@/\\-_'\"«»…—éüßÆ中文字тексту😀"
    )
    texts = [""] + [" "] + ["!!!"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(200)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    # Zero-impact spans (start far beyond any doc's tokens) attach a
    # non-null range list to EVERY doc, so the sep/token SPLICED branch
    # executes for every aligned doc and must rebuild the input
    # byte-exactly — an empty spans table would take the `otherwise(text)`
    # passthrough and verify nothing (r04 advice #4).
    touch_spans = spark.createDataFrame(
        [(-1, i, 0, 10**6, 5) for i in range(len(texts))],
        "id1 bigint, id2 bigint, start1 int, start2 int, span_len int",
    )
    out = {r["id"]: r for r in suffix.cut_spans_raw(docs, touch_spans).collect()}
    spliced = sum(1 for r in out.values() if r["aligned"])
    assert spliced >= len(texts) * 0.9  # the branch genuinely ran
    for i, t in enumerate(texts):
        assert out[i]["text_cut"] == t, f"doc {i}: {t!r} != {out[i]['text_cut']!r}"
        assert out[i]["n_cut"] == 0
    # and a doc with NO spans row still passes through verbatim
    empty_spans = spark.createDataFrame(
        [], "id1 bigint, id2 bigint, start1 int, start2 int, span_len int"
    )
    out0 = suffix.cut_spans_raw(docs, empty_spans).where("id = 3").first()
    assert out0["text_cut"] == texts[3] and out0["n_cut"] == 0


def test_single_tokenize_per_row_in_text_stat_queries(spark, sf001):
    """r04 verdict #7: the quality/language/token-stat queries materialize
    the normalized token array ONCE per row and derive every statistic
    from it — Catalyst CSE does not merge the normalize+tokenize subtree
    across sibling expressions, so the old per-stat wrappers ran it up to
    ~7x per row. The optimized plan must contain exactly one
    normalize-regexp."""
    for name in ("quality_scores", "lang_stopword_scores", "token_stats"):
        q = entry_queries.queries()[name](spark, sf001)
        plan = _optimized(q)
        n = plan.count("[^\\p{L}\\p{N}]+")
        assert n == 1, (name, n, plan)


def test_partition_pruning_on_warc_day(spark, tmp_path):
    """north_star: partition pruning on the crawl timestamp. Writing the
    corpus partitioned by days(warc_ts) must let a day filter prune."""
    from entity_deduplication_hack_main_spark.sources import corpus, sinks

    docs = corpus.synthesize_corpus(spark, 300)
    path = str(tmp_path / "corpus_part")
    sinks.write_corpus_partitioned(docs, path)
    back = sinks.read_corpus_partitioned(spark, path)
    q = back.where(F.col("warc_day") == "2024-01-05").select("url")
    plan = _plan(q)
    assert "PartitionFilters" in plan and "warc_day" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert q.count() > 0


def test_table_format_abstraction_parquet_roundtrip(spark, tmp_path):
    """tables.write_corpus/read_table parquet path: day-partitioned layout,
    roundtrip intact, pruning-capable partition column present."""
    from pyspark.sql import functions as F

    from entity_deduplication_hack_main_spark.sources import tables

    docs = spark.createDataFrame(
        [(1, "a", "2024-01-01 03:00:00"), (2, "b", "2024-01-02 03:00:00")],
        "doc_id bigint, text string, ts string",
    ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")
    out = str(tmp_path / "corpus")
    tables.write_corpus(docs, out, fmt="parquet")
    back = tables.read_table(spark, out, fmt="parquet")
    assert back.count() == 2
    assert "warc_day" in back.columns
    import os

    assert any(d.startswith("warc_day=") for d in os.listdir(out))
    # r03 advice: read_corpus round-trips the ORIGINAL schema (no derived
    # warc_day) so parquet and iceberg readers see one logical table...
    rt = tables.read_corpus(spark, out, fmt="parquet")
    assert sorted(rt.columns) == sorted(docs.columns)
    assert rt.count() == 2
    # ...and a day_range window still prunes on the partition column
    # BEFORE the drop
    pruned = tables.read_corpus(
        spark, out, fmt="parquet", day_range=("2024-01-02", "2024-01-02")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "warc_day" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert [r["doc_id"] for r in pruned.collect()] == [2]


def test_table_format_env_resolution(monkeypatch):
    from entity_deduplication_hack_main_spark.sources import tables

    monkeypatch.delenv(tables.ENV_FORMAT, raising=False)
    assert tables.table_format() == "parquet"
    monkeypatch.setenv(tables.ENV_FORMAT, "iceberg")
    assert tables.table_format() == "iceberg"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tables.table_format("delta")


def test_iceberg_path_fails_with_typed_error_without_runtime(spark):
    """No Iceberg jar in this sandbox: the iceberg code path must fail
    with the typed, actionable error — not a raw Py4J stack."""
    import pytest as _pytest

    from entity_deduplication_hack_main_spark.sources import tables

    df = spark.createDataFrame([(1,)], "doc_id bigint")
    with _pytest.raises(tables.IcebergUnavailableError, match="iceberg-spark-runtime"):
        tables.write_table(df, "dedup.db.t", fmt="iceberg")


def test_chunk_docs_reconstruction_and_overlap(spark):
    """chunk_docs invariants on ARBITRARY text: with overlap=0 the chunks
    concatenate back to the input byte-exactly (one chunk minimum, even
    for empty/whitespace docs); with overlap>0 the window arithmetic
    holds (starts step by max_tokens-overlap, every token covered, last
    chunk ends at n) and the plan stays JVM-only."""
    import random

    from entity_deduplication_hack_main_spark.operators import chunking

    rng = random.Random(77)
    alphabet = (
        "abcXYZ0123456789 \t\n.,;:!?()[]#@/\\-_'\"«»…—éüßÆ中文字тексту😀"
    )
    texts = ["", " ", "!!!", "one"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 200)))
        for _ in range(150)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    flat = chunking.chunk_docs(docs, max_tokens=7, overlap=0).collect()
    by_doc: dict[int, list] = {}
    for r in flat:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(texts)))  # every doc chunks
    for i, t in enumerate(texts):
        rows = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        assert "".join(r["chunk_text"] for r in rows) == t
        assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    ov = chunking.chunk_docs(docs, max_tokens=10, overlap=3)
    for r in ov.collect():
        assert r["start_tok"] == r["chunk_id"] * 7
        assert 0 <= r["n_chunk_tokens"] <= 10
    plan = ov._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan
