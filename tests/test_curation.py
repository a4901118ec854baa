"""PII redaction (functions/pii.py) + SemDeDup (operators/semdedup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.functions import pii
from entity_deduplication_hack_main_spark.operators import semdedup
from entity_deduplication_hack_main_spark.operators.knn import (
    ivf_anchors,
    train_ivf_anchors,
)


def _redact_one(spark, text: str) -> str:
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(pii.redact(F.col("t")).alias("r")).first()["r"]


def test_pii_redaction_literals(spark):
    cases = [
        (
            "mail a.smith+spam@sub.example.co.uk now",
            "mail <EMAIL> now",
        ),
        ("server at 10.0.255.3 down", "server at <IP> down"),
        ("call (415) 555-0123 today", "call<PHONE> today"),
        ("or 415-555-0123.", "or<PHONE>."),
        # match starts at '+' (the optional separator class precedes \+?
        # in the pattern, so the leading space survives here)
        ("intl +1 415 555 0123 ok", "intl <PHONE> ok"),
        ("version 1.2.3 unchanged", "version 1.2.3 unchanged"),
        ("year 2024-2025 unchanged", "year 2024-2025 unchanged"),
        ("no pii here", "no pii here"),
    ]
    for raw, want in cases:
        got = _redact_one(spark, raw)
        assert got == want, f"{raw!r}: {got!r} != {want!r}"


def test_pii_redaction_idempotent_and_composed(spark):
    raw = "bob@x.io from 192.168.0.1 dial (212) 555-9876"
    once = _redact_one(spark, raw)
    assert once == "<EMAIL> from <IP> dial<PHONE>"
    assert _redact_one(spark, once) == once  # placeholders never re-match


def test_pii_counts_match_redaction(spark):
    df = spark.createDataFrame(
        [
            ("a@b.co c@d.org 1.2.3.4 (415) 555-0123",),
            ("clean text",),
        ],
        "t string",
    )
    cols = pii.pii_count_cols(F.col("t"))
    rows = df.select(
        *[c.alias(n) for n, c in cols.items()]
    ).collect()
    assert (rows[0]["n_email"], rows[0]["n_ipv4"], rows[0]["n_phone"]) == (
        2, 1, 1,
    )
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (
        0, 0, 0,
    )


def test_pii_plan_stays_jvm(spark):
    df = spark.range(10).select(F.concat(F.lit("x"), F.col("id")).alias("t"))
    plan = (
        df.select(pii.redact(F.col("t")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _emb(spark, sf001):
    return spark.read.parquet(f"{sf001}/embeddings.parquet")


def test_semdedup_threshold_edges(spark, sf001):
    emb = _emb(spark, sf001)
    # threshold above any cosine: everything kept
    all_kept = semdedup.semantic_dedup(emb, 64, threshold=1.1)
    assert all_kept.where(~F.col("kept")).count() == 0
    assert all_kept.count() == emb.count()
    # threshold below any cosine: exactly one survivor per cell (the min id)
    one_per = semdedup.semantic_dedup(emb, 64, threshold=-1.1)
    kept = one_per.where(F.col("kept"))
    n_cells = one_per.select("cell").distinct().count()
    assert kept.count() == n_cells
    mins = {
        (r["cell"], r["m"])
        for r in one_per.groupBy("cell")
        .agg(F.min("vec_id").alias("m"))
        .collect()
    }
    assert {(r["cell"], r["vec_id"]) for r in kept.collect()} == mins


def test_semdedup_deterministic_across_partitionings(spark, sf001):
    emb = _emb(spark, sf001)
    a = semdedup.semantic_dedup(emb.repartition(13), 64, threshold=0.3)
    b = semdedup.semantic_dedup(emb.coalesce(1), 64, threshold=0.3)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_semdedup_trained_anchors_tighten_cells(spark, sf001):
    """Trained quantizer drops at least as many near-dups as the seeded
    one at equal threshold on the labeled synthetic vectors (cells align
    with the planted label structure, so more true pairs co-locate)."""
    emb = _emb(spark, sf001)
    seeded = semdedup.semantic_dedup(emb, 64, threshold=0.3)
    trained = semdedup.semantic_dedup(
        emb, 64, threshold=0.3,
        anchors=train_ivf_anchors(emb, 64, n_cells=16),
    )
    n_seeded = seeded.where(~F.col("kept")).count()
    n_trained = trained.where(~F.col("kept")).count()
    assert n_trained >= n_seeded > 0


def test_semdedup_plan_no_cartesian(spark, sf001):
    emb = _emb(spark, sf001)
    plan = (
        semdedup.semantic_dedup(emb, 64, threshold=0.35)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_anchor_reuse_is_same_quantizer():
    a = ivf_anchors(64, 16, 69)
    b = ivf_anchors(64, 16, 69)
    assert (a == b).all()


# --- dup-ngram novelty + BM25 search ---------------------------------------


def test_dup_shingle_stats_planted(spark):
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.operators import setjoin

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, uniq)], "doc_id long, text string"
    )
    sets = setjoin.shingle_sets(docs, TESTDATA_CONFIG, "doc_id", "text")
    got = {
        r["id"]: (r["n_dup_shingles"], r["n_shingles"], r["dup_frac"])
        for r in setjoin.dup_shingle_stats(sets).collect()
    }
    assert got[0][2] == 1.0 and got[1][2] == 1.0  # exact dup: all shared
    assert got[2][0] == 0 and got[2][2] == 0.0    # unique doc: none


def test_bm25_planted_doc_ranks_first(spark):
    from entity_deduplication_hack_main_spark.operators import search

    hit = "spark spark spark query engine"
    docs = spark.createDataFrame(
        [(0, hit)] + [(i, "table scan row value data") for i in range(1, 9)]
        + [(9, "one spark mention only plus filler words here")],
        "doc_id long, text string",
    )
    out = search.bm25_topk(docs, ["spark"], k=3).collect()
    assert out[0]["doc_id"] == 0 and out[0]["rank"] == 1
    assert out[1]["doc_id"] == 9
    assert len(out) == 2  # zero-score docs are not returned


def test_bm25_deterministic_across_partitionings(spark, sf001):
    from entity_deduplication_hack_main_spark.operators import search

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    a = search.bm25_topk(docs.repartition(7), ["spark", "customer"], k=10)
    b = search.bm25_topk(docs.coalesce(1), ["spark", "customer"], k=10)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_bm25_plan_stays_jvm(spark, sf001):
    from entity_deduplication_hack_main_spark.operators import search

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    plan = (
        search.bm25_topk(docs, ["spark"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan  # stats join is a broadcast
