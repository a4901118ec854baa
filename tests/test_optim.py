"""r06 optimization-round guards.

Each test pins an optimization that changed an operator's internals
(round brief: add a focused test when an optimization changes an
operator's internals):

- candidate_pairs bucket sizing is a partial-aggregating groupBy + join,
  never a count-window over the bucket key (r05 verdict #1) — asserted on
  a PLANTED mega-bucket so the hot-key path itself is planned;
- the SemDeDup matmul scorer emits exactly the expression path's pair set
  for every chunking (including chunk sizes that force multi-chunk
  cross blocks and empty hash chunks);
- the IVF matmul scorer is bit-identical to the expression ivf_knn;
- the matmul kNN paths fail fast (typed error, no driver collect) on
  over-cap probe sets (r05 verdict #7);
- the matmul embedding paths keep string ids, and a NULL block key pairs
  nothing.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import (
    knn,
    lsh,
    semdedup,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_candidate_pairs_mega_bucket_partial_agg_no_window(spark):
    """A planted 3000-member bucket (over max_bucket_size=2000) must plan
    as groupBy partial aggregation + join-back: no Window over the bucket
    key anywhere, and the salted pair set is unchanged."""
    cfg = DedupConfig(max_bucket_size=200, salt_chunk=64)
    # disjoint id ranges: cold pairs must not collapse into hot pairs
    # under the distinct
    rows = [(i, 0, "hot") for i in range(3000)] + [
        (10_000 + i, 1, f"cold{i % 997}") for i in range(3000)
    ]
    bands = spark.createDataFrame(
        rows, "id bigint, band_id int, band_hash string"
    )
    pairs = lsh.candidate_pairs(bands, cfg)
    plan = _plan(pairs)
    assert "Window" not in plan
    assert "HashAggregate" in plan  # partial-aggregating bucket count
    # pair set = all hot-bucket pairs plus the >=2-member cold buckets
    n_hot = 3000 * 2999 // 2
    cold_sizes = [3000 // 997 + (1 if i < 3000 % 997 else 0) for i in range(997)]
    n_cold = sum(s * (s - 1) // 2 for s in cold_sizes)
    assert pairs.count() == n_hot + n_cold


def test_winnow_and_hamming_sizing_no_window(spark):
    from entity_deduplication_hack_main_spark.operators import hamming, suffix

    payload = spark.createDataFrame(
        [(i, [1, 2, 3 + i]) for i in range(50)],
        "id bigint, winnow_fps array<bigint>",
    )
    wp = suffix.winnow_pairs_from_payload(payload)
    assert "Window" not in _plan(wp)
    sim = spark.createDataFrame(
        [(i, i % 7) for i in range(50)], "id bigint, simhash bigint"
    )
    hp = hamming.hamming_candidate_pairs(sim, DedupConfig())
    assert "Window" not in _plan(hp)


@pytest.mark.parametrize("chunk", [1, 3, 1024])
def test_semdedup_matmul_pairs_equal_expression(spark, sf001, chunk):
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    cells = semdedup.assign_cells(emb, knn.ivf_anchors(64, 16, 69))
    cfg = DedupConfig()
    # Counters, not sets: a block emitting a pair twice must fail
    exact = Counter(
        map(tuple, semdedup.semantic_dup_pairs(cells, cfg, 0.35).collect())
    )
    fast = Counter(
        map(
            tuple,
            semdedup.semantic_dup_pairs_matmul(
                cells, cfg, 0.35, chunk=chunk
            ).collect(),
        )
    )
    assert exact == fast and len(exact) > 0


def test_ivf_knn_matmul_equals_expression(spark, sf001):
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") % 10 == 0)
    exact = Counter(
        map(tuple, knn.ivf_knn(probes, emb, dim=64, k=5).collect())
    )
    fast = Counter(
        map(tuple, knn.ivf_knn_matmul(probes, emb, dim=64, k=5).collect())
    )
    assert exact == fast and len(exact) > 0


# --- r05 ADVICE correctness fixes (the round brief's carve-out) ----------


def test_cluster_representatives_string_ids(spark):
    """r05 advice (medium): the representative tie-break negated the id
    column — CAST_INVALID_INPUT under ANSI for string ids (streaming uses
    URLs as ids). Now min(struct(-ord, id)): same pick, any orderable id."""
    from entity_deduplication_hack_main_spark.operators import cluster as cc

    asn = spark.createDataFrame(
        [("u1", "c"), ("u2", "c"), ("u3", "c")], "node string, cluster_id string"
    )
    docs = spark.createDataFrame(
        [("u1", 5), ("u2", 9), ("u3", 9)], "doc_id string, n_chars int"
    )
    rows = cc.cluster_representatives(asn, docs).collect()
    assert len(rows) == 1
    r = rows[0]
    # longest wins (9), lowest id on ties (u2), full membership counted
    assert r["doc_id"] == "u2" and r["n_members"] == 3


def test_pipeline_pii_redact_string_ids(spark, tmp_path):
    """End-to-end guard for the advice scenario: pii_redact stage over a
    string-id corpus must not raise."""
    from entity_deduplication_hack_main_spark.config import DedupConfig
    from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(f"u{i}", "alpha beta gamma delta epsilon zeta " * 8 + str(i % 3))
         for i in range(12)],
        "doc_id string, text string",
    )
    res = run_pipeline(spark, docs, DedupConfig(), pii_redact=True)
    out = res.redacted.collect()  # raised CAST_INVALID_INPUT before
    assert 0 < len(out) <= 12


def test_perplexity_buckets_empty_input(spark):
    """r05 advice (low): approxQuantile on an empty frame returns [] —
    bucket assignment must yield an empty result, not IndexError."""
    from entity_deduplication_hack_main_spark.functions import lm as lm_fn

    empty = spark.createDataFrame(
        [], "doc_id bigint, n_tokens bigint, mean_logprob double"
    )
    assert lm_fn.perplexity_buckets(empty).count() == 0


def test_matmul_probe_guard_raises(spark, sf001, monkeypatch):
    monkeypatch.setattr(knn, "MAX_COLLECTED_PROBES", 10)
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    with pytest.raises(ValueError, match="probe side exceeds"):
        knn.brute_force_knn_matmul(emb.limit(11), emb, k=5)
    with pytest.raises(ValueError, match="probe side exceeds"):
        knn.ivf_knn_matmul(emb.limit(11), emb, dim=64, k=5)


def _string_id_embeddings(spark):
    """40 vectors in 8 dims with string ids: 20 bases, each with a near
    copy, in 4 label blocks."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 8))
    rows = []
    for i in range(20):
        for j, v in enumerate((base[i], base[i] + rng.standard_normal(8) * 0.05)):
            rows.append((f"v:{2 * i + j:02d}", v.tolist(), i % 4))
    return spark.createDataFrame(
        rows, "vec_id string, embedding array<double>, label int"
    )


def test_matmul_knn_string_ids(spark):
    """The matmul kNN paths keep the id type of their input: string ids
    give the expression paths' rows, not an int() conversion error."""
    emb = _string_id_embeddings(spark)
    probes = emb.where(F.col("label") == 0)

    def rows(df):
        return Counter(map(tuple, df.collect()))

    assert rows(knn.brute_force_knn_matmul(probes, emb, k=3)) == rows(
        knn.brute_force_knn(probes, emb, k=3)
    )
    ivf = dict(dim=8, k=3, n_cells=4, nprobe=2)
    fast = rows(knn.ivf_knn_matmul(probes, emb, **ivf))
    assert fast == rows(knn.ivf_knn(probes, emb, **ivf)) and len(fast) > 0


def test_embedding_near_dup_matmul_string_ids(spark):
    emb = _string_id_embeddings(spark)
    fast = knn.embedding_near_dup_pairs_matmul(emb, threshold=0.9)
    exact = knn.embedding_near_dup_pairs(emb, threshold=0.9, block_col="label")
    assert fast.schema["id1"].dataType.simpleString() == "string"
    got = Counter(map(tuple, fast.collect()))
    assert got == Counter(map(tuple, exact.collect())) and len(got) >= 20


def test_embedding_near_dup_matmul_null_block_pairs_nothing(spark):
    """Rows with a NULL block key share no block, as in the expression
    path's join on ``a.label = b.label``."""
    one = [1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(i, one, None) for i in range(6)] + [(10, one, 1), (11, one, 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    fast = Counter(map(tuple, knn.embedding_near_dup_pairs_matmul(df).collect()))
    exact = knn.embedding_near_dup_pairs(df, block_col="label")
    assert fast == Counter(map(tuple, exact.collect())) == Counter(
        {(10, 11, 1.0): 1}
    )
