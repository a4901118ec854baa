"""r06 optimization-round guards.

Each test pins an optimization that changed an operator's internals
(round brief: add a focused test when an optimization changes an
operator's internals):

- candidate_pairs bucket sizing is a partial-aggregating groupBy + join,
  never a count-window over the bucket key (r05 verdict #1) — asserted on
  a PLANTED mega-bucket so the hot-key path itself is planned;
- the embedding block scorer emits the DuckDB within-cell pair multiset
  for every chunking (including chunk sizes that force multi-chunk
  cross blocks and empty hash chunks), and a hot block reaches it in
  CHUNK-bounded groups;
- the IVF matmul scorer is bit-identical to its DuckDB oracle
  (knn.sql_ivf_knn);
- the kNN paths fail fast (typed error, no driver collect) on over-cap
  probe sets (r05 verdict #7);
- the matmul embedding paths keep string ids (DuckDB references), and a
  NULL block key pairs nothing.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pyarrow as pa
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


def _sql_within_cell_pairs(threshold: float) -> str:
    """Every within-cell pair with rounded cosine >= threshold, once:
    the cell CTEs of sql_semantic_dedup plus its pair rule, before the
    DISTINCT that turns pairs into dropped ids."""
    sql = semdedup.sql_semantic_dedup(64, threshold=threshold)
    ctes = sql[: sql.index("_dropped AS (")].rstrip().rstrip(",")
    return f"""{ctes}
SELECT a.vid AS id1, b.vid AS id2,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM _cells a JOIN _cells b ON a.cell = b.cell AND a.vid < b.vid
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
"""


@pytest.mark.parametrize("chunk", [3, 1024])
def test_semdedup_matmul_pairs_equal_expression(
    spark, sf001, duck, monkeypatch, chunk
):
    """SemDeDup's within-cell pairs: chunk size 3 (hash chunks of 2)
    forces single-member diagonal groups, cross groups whose partner
    chunk is empty and populated cross groups; 1024 puts every cell in
    one group."""
    monkeypatch.setattr(knn, "CHUNK", chunk)
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    cells = semdedup.assign_cells(emb, knn.ivf_anchors(64, 16, 69))
    pairs = knn.embedding_near_dup_pairs(cells, 0.35, "cell", "id", "v")
    # Counters, not sets: a group emitting a pair twice must fail
    got = Counter(map(tuple, pairs.collect()))
    want = Counter(duck.sql(_sql_within_cell_pairs(0.35)).fetchall())
    assert got == want and len(want) > 0
    if chunk == 3:
        groups = (
            knn._chunk_groups(cells, "cell", "id", "v")
            .groupBy("block", "ci", "cj")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("side").cast("int")).alias("n_side"),
            )
            .collect()
        )
        assert any(g.ci == g.cj and g.n == 1 for g in groups)
        cross = [g for g in groups if g.ci < g.cj]
        assert any(g.n_side == 0 for g in cross)
        assert any(0 < g.n_side < g.n for g in cross)


def _sql_label_pairs(threshold: float) -> str:
    """The blocked self-join of table ``embeddings`` on ``label``."""
    return f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= {threshold}
"""


def test_embedding_near_dup_hot_block_is_chunk_bounded(spark, monkeypatch):
    """A planted 3000-member single-label block with CHUNK = 256: the pair
    multiset equals the DuckDB blocked self-join, and no group the scorer
    receives holds more than 2·CHUNK vectors (one unchunked group would
    hold all 3000)."""
    import numpy as np

    monkeypatch.setattr(knn, "CHUNK", 256)
    rng = np.random.default_rng(11)
    base = rng.standard_normal((1500, 8))
    # near copies at cosine ~0.99 (a shuffled id order scatters each pair
    # over the hash chunks), plus the random pairs that pass by chance
    vecs = np.concatenate([base, base + rng.standard_normal((1500, 8)) * 0.05])
    ids = rng.permutation(3000)
    rows = [(int(i), v.tolist(), 0) for i, v in zip(ids, vecs)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
                "label": pa.array([0] * 3000, pa.int32()),
            }
        ),
    )
    got = Counter(map(tuple, knn.embedding_near_dup_pairs(df).collect()))
    want = Counter(con.sql(_sql_label_pairs(0.95)).fetchall())
    assert got == want and len(want) >= 1500
    groups = knn._chunk_groups(df, "label", "vec_id", "embedding").groupBy(
        "block", "ci", "cj"
    ).count()
    n, biggest = groups.agg(F.count("*"), F.max("count")).first()
    assert n > 1 and biggest <= 2 * knn.CHUNK


def test_ivf_knn_matmul_equals_expression(spark, sf001, duck):
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") % 10 == 0)
    got = Counter(
        map(tuple, knn.ivf_knn(probes, emb, dim=64, k=5).collect())
    )
    want = Counter(duck.sql(knn.sql_ivf_knn(dim=64, k=5)).fetchall())
    assert got == want and len(want) > 0


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
        knn.brute_force_knn(emb.limit(11), emb, k=5)
    with pytest.raises(ValueError, match="probe side exceeds"):
        knn.ivf_knn(emb.limit(11), emb, dim=64, k=5)


def _string_id_embeddings(spark):
    """40 vectors in 8 dims with string ids: 20 bases, each with a near
    copy, in 4 label blocks — as a Spark frame and as a DuckDB
    connection holding the same rows in table ``embeddings``."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 8))
    rows = []
    for i in range(20):
        for j, v in enumerate((base[i], base[i] + rng.standard_normal(8) * 0.05)):
            rows.append((f"v:{2 * i + j:02d}", v.tolist(), i % 4))
    ids, vecs, labels = zip(*rows)
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": list(ids),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    )
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>, label int"
    )
    return df, con


def _sql_bruteforce_knn(k: int, probe_filter: str) -> str:
    """The knn_bruteforce oracle with a free probe filter and k."""
    return f"""
WITH _s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.embedding, c.embedding), 6) AS cosine
  FROM (SELECT * FROM embeddings WHERE {probe_filter}) p
  CROSS JOIN embeddings c
  WHERE p.vec_id != c.vec_id
),
_rk AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM _s
)
SELECT probe_id, neighbor_id, cosine, rank FROM _rk WHERE rank <= {k}
"""


def test_matmul_knn_string_ids(spark):
    """The matmul kNN paths keep the id type of their input: string ids
    give the DuckDB reference rows, not an int() conversion error."""
    emb, con = _string_id_embeddings(spark)
    probes = emb.where(F.col("vec_id") < "v:10")
    probe_filter = "vec_id < 'v:10'"

    def rows(df):
        return Counter(map(tuple, df.collect()))

    assert rows(knn.brute_force_knn(probes, emb, k=3)) == Counter(
        con.sql(_sql_bruteforce_knn(3, probe_filter)).fetchall()
    )
    ivf = dict(dim=8, k=3, n_cells=4, nprobe=2)
    got = rows(knn.ivf_knn(probes, emb, **ivf))
    want = Counter(
        con.sql(knn.sql_ivf_knn(**ivf, probe_filter=probe_filter)).fetchall()
    )
    assert got == want and len(got) > 0


def test_embedding_near_dup_matmul_string_ids(spark):
    emb, con = _string_id_embeddings(spark)
    fast = knn.embedding_near_dup_pairs(emb, threshold=0.9)
    assert fast.schema["id1"].dataType.simpleString() == "string"
    got = Counter(map(tuple, fast.collect()))
    want = Counter(con.sql(_sql_label_pairs(0.9)).fetchall())
    assert got == want and len(got) >= 20


def test_embedding_near_dup_matmul_null_block_pairs_nothing(spark):
    """Rows with a NULL block key share no block, as in the oracle's
    join on ``a.label = b.label``."""
    one = [1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(i, one, None) for i in range(6)] + [(10, one, 1), (11, one, 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    got = Counter(map(tuple, knn.embedding_near_dup_pairs(df).collect()))
    assert got == Counter({(10, 11, 1.0): 1})
