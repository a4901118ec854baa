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
    """The streaming corpus decision measures its pairs exactly as batch
    ``verify_pairs_full`` does, on one intersection per pair — also the
    pair whose batch and committed ids are equal (a recrawl of one url
    with changed text), which one shared payload could not tell apart."""
    from entity_deduplication_hack_main_spark.functions import represent
    from entity_deduplication_hack_main_spark.operators.candidates import (
        CHANNELS,
    )
    from entity_deduplication_hack_main_spark.streaming.ingest import (
        StreamingDedup,
    )

    sd = StreamingDedup(spark, str(tmp_path), CFG, id_col="url")
    words = "one two three four five six seven eight nine ten".split()
    old = spark.createDataFrame(
        [("o1", " ".join(words)), ("o2", "zz yy xx ww vv"),
         ("r", " ".join(words[:8]))],
        "url string, text string",
    ).coalesce(1)
    old.withColumn("batch_id", F.lit(0).cast("bigint")).write.parquet(
        sd.out_path
    )
    new = spark.createDataFrame(
        [("n1", " ".join(words[:-1] + ["eleven"])),  # partial overlap
         ("n3", "zz yy xx ww vv"),  # identical
         ("n4", "alpha beta gamma delta"),  # disjoint, under k tokens
         ("r", " ".join(words[2:]))],  # the committed id "r", new text
        "url string, text string",
    )
    kept = represent.with_representation(new, CFG, "url", "text")
    rows = [("n1", "o1", True, False, False), ("n3", "o2", False, True, False),
            ("n4", "o2", False, False, True), ("r", "r", True, False, True),
            ("n1", "r", False, True, False)]
    pairs = spark.createDataFrame(
        rows,
        "id string, old_id string, "
        + ", ".join(f"{c} boolean" for c in CHANNELS),
    )
    got = sd._corpus_measures(kept, pairs, batch_id=1, id_type="string")
    assert got.columns == [
        "id1", "id2", *CHANNELS, "jaccard", "dup_type", "status", "hamming",
        "containment",
    ]
    assert _intersections_and_unions(got) == (1, 0)
    # batch verify over one payload: committed ids prefixed to stay apart
    tag = F.concat(F.lit("old:"), F.col("id"))
    olds = represent.with_representation(old, CFG, "url", "text")
    ref = verify.verify_pairs_full(
        pairs.select(
            F.col("id").alias("id1"),
            F.concat(F.lit("old:"), "old_id").alias("id2"),
        ),
        kept.unionByName(olds.withColumn("id", tag)),
        CFG,
    )
    flags = {(r[0], r[1]): r[2:] for r in rows}
    want = Counter(
        (r[0], r[1][4:], *flags[(r[0], r[1][4:])], *r[2:])
        for r in ref.collect()
    )
    assert len(want) == len(rows)
    assert Counter(map(tuple, got.collect())) == want
