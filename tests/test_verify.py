"""Exact-set verifiers: measure values against a driver-side ``set``
reference, and the plan shape that keeps them at one shingle-set
intersection per pair (operators/verify.py ``overlap_sizes``).

Hand-built payloads, no corpus."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import verify

CFG = DedupConfig()

# id -> (distinct shingle set, fp, simhash)
PAYLOAD = {
    1: (list(range(1, 21)), "a", 0b1011),
    2: (list(range(1, 21)), "a", 0b1000),  # identical set, equal fp
    3: (list(range(1, 20)) + [99], "c", -1),  # J = 19/21: near-exact
    4: (list(range(1, 11)), "d", 0),  # strict subset of 1: containment 1
    5: (list(range(1, 16)), "e", 7),  # unequal size, J(1,5) = 0.75
    6: ([100, 101, 102], "f", 1 << 62),  # disjoint from everything
    7: ([], "g", 5),
    8: ([], "h", 6),
}
PAIRS = [(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (4, 5), (3, 6), (6, 7), (7, 8)]


def _payload_df(spark):
    return spark.createDataFrame(
        [(i, s, fp, sh) for i, (s, fp, sh) in PAYLOAD.items()],
        "id bigint, shingle_set array<bigint>, fp string, simhash bigint",
    )


def _pairs_df(spark):
    return spark.createDataFrame(PAIRS, "id1 bigint, id2 bigint")


def _reference_row(id1: int, id2: int) -> tuple:
    (s1, fp1, sh1), (s2, fp2, sh2) = PAYLOAD[id1], PAYLOAD[id2]
    a, b = set(s1), set(s2)
    inter, union, smaller = len(a & b), len(a | b), min(len(a), len(b))
    jac = inter / union if union else 0.0
    if fp1 == fp2:
        dup_type = "exact"
    elif jac >= CFG.jaccard_near_exact:
        dup_type = "near_exact"
    elif jac >= CFG.jaccard_similar:
        dup_type = "similar"
    else:
        dup_type = "conflict"
    status = "pass" if jac >= CFG.jaccard_candidate else "fail"
    hamming = bin((sh1 ^ sh2) & (2**64 - 1)).count("1")
    containment = round(inter / smaller, 9) if smaller else 0.0
    return (id1, id2, round(jac, 9), dup_type, status, hamming, containment)


def _intersections_and_unions(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("array_intersect"), plan.count("array_union")


def test_verify_pairs_full_matches_set_reference(spark):
    got = verify.verify_pairs_full(_pairs_df(spark), _payload_df(spark), CFG)
    assert got.columns == [
        "id1", "id2", "jaccard", "dup_type", "status", "hamming",
        "containment",
    ]
    want = Counter(_reference_row(*p) for p in PAIRS)
    assert Counter(map(tuple, got.collect())) == want
    # the cases the fixture is built to cover
    assert {r[3] for r in want} == {"exact", "near_exact", "similar", "conflict"}
    assert {r[4] for r in want} == {"pass", "fail"}


def test_verify_pairs_matches_set_reference(spark):
    got = verify.verify_pairs(_pairs_df(spark), _payload_df(spark), CFG)
    assert got.columns == ["id1", "id2", "jaccard", "dup_type", "status"]
    want = Counter(_reference_row(*p)[:5] for p in PAIRS)
    assert Counter(map(tuple, got.collect())) == want


@pytest.mark.parametrize("fn", ["verify_pairs_full", "verify_pairs"])
def test_verify_plans_one_intersection_no_union(spark, fn):
    """Re-inlining the measures (a Jaccard referenced from several CASE
    WHEN branches) re-runs array_intersect/array_union per reference."""
    df = getattr(verify, fn)(_pairs_df(spark), _payload_df(spark), CFG)
    assert _intersections_and_unions(df) == (1, 0)


def test_ngram_jaccard_pairs_plan_one_intersection(spark):
    from entity_deduplication_hack_main_spark.operators import setjoin

    sets = _payload_df(spark).select("id", "shingle_set")
    df = setjoin.ngram_jaccard_pairs(sets, CFG, max_df=10**9)
    assert _intersections_and_unions(df) == (1, 0)
    want = Counter()
    for i in PAYLOAD:
        for j in PAYLOAD:
            a, b = set(PAYLOAD[i][0]), set(PAYLOAD[j][0])
            inter, union = len(a & b), len(a | b)
            if i < j and union and inter >= CFG.jaccard_similar * union:
                want[(i, j, round(inter / union, 6))] += 1
    assert Counter(map(tuple, df.collect())) == want and len(want) > 0


def test_decontaminate_near_channel_plan_one_intersection(spark):
    from entity_deduplication_hack_main_spark.functions import represent
    from entity_deduplication_hack_main_spark.operators import decontaminate

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta {i}") for i in range(4)],
        "doc_id bigint, text string",
    )
    p = represent.with_representation(docs, CFG, "doc_id", "text")
    df = decontaminate.decontaminate(p, p, CFG)
    assert _intersections_and_unions(df) == (1, 0)


def test_streaming_exact_measures_one_intersection(spark, tmp_path):
    """The streaming exact re-verify keeps its own empty-set convention
    (1.0 where batch verify says 0.0) on one intersection per pair."""
    from entity_deduplication_hack_main_spark.functions import represent
    from entity_deduplication_hack_main_spark.streaming.ingest import (
        StreamingDedup,
    )

    sd = StreamingDedup(spark, str(tmp_path), CFG, id_col="url")
    words = "one two three four five six seven eight nine ten".split()
    old = spark.createDataFrame(
        [("o1", " ".join(words)), ("o2", "zz yy xx ww vv")],
        "url string, text string",
    ).coalesce(1)
    old.withColumn("batch_id", F.lit(0).cast("bigint")).write.parquet(
        sd.out_path
    )
    olds = {
        r["id"]: r["shingle_set"]
        for r in represent.with_representation(old, CFG, "url", "text")
        .select("id", "shingle_set")
        .collect()
    }
    news = {
        "n1": olds["o1"][:-2] + [12345],  # unequal size, partial overlap
        "n2": [],  # the empty-set convention: containment 1.0
        "n3": olds["o2"],  # identical
        "n4": [12345],  # disjoint
    }
    rows = [("n1", "o1"), ("n2", "o1"), ("n3", "o2"), ("n4", "o2")]
    pairs = spark.createDataFrame(
        [(n, o, news[n], n.upper()) for n, o in rows],
        "id string, old_id string, shingle_set array<bigint>, tag string",
    )
    df = sd._exact_pair_measures(pairs, batch_id=1, id_type="string")
    assert df.columns == ["id", "old_id", "tag", "ex_jaccard", "ex_containment"]
    assert _intersections_and_unions(df) == (1, 0)
    want = Counter()
    for n, o in rows:
        a, b = set(news[n]), set(olds[o])
        u, s = len(a | b), min(len(a), len(b))
        want[(n, o, n.upper(), len(a & b) / u if u else 1.0,
              len(a & b) / s if s else 1.0)] += 1
    assert Counter(map(tuple, df.collect())) == want
    assert ("n2", "o1", "N2", 0.0, 1.0) in want
