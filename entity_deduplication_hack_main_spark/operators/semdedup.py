"""SemDeDup-style semantic deduplication over an embedding column.

Semantic dedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" — public paper) removes
*meaning-level* duplicates that the lexical channels (MinHash / SimHash /
winnow) cannot see: paraphrases, translations-of-boilerplate, templated
rewrites. The algorithm: cluster the corpus embeddings with a coarse
quantizer (k-means cells), compute pairwise cosine *within each cell
only*, and drop all but one member of every near-duplicate neighborhood.

This implementation has two parts:

- **cell assignment** is the IVF coarse quantizer from
  ``operators/knn.py`` — a pure JVM argmax over per-anchor dot structs
  (no shuffle, no Python). The default anchors are the seeded
  DATA-INDEPENDENT unit vectors of :func:`knn.ivf_anchors` so the DuckDB
  oracle can embed the same literals; pass
  :func:`knn.train_ivf_anchors` output for the production trained
  quantizer (tighter cells → higher within-cell dup recall).
- **within-cell pair generation** never materializes the pair space:
  each cell is split into hash chunks of at most :data:`CHUNK` members
  (the ``pmod(xxhash64(id), n)`` salting key of
  ``candidates.bucket_pairs``), and every chunk-pair block is scored by
  one numpy matmul. Hot cells (a popular semantic neighborhood is exactly
  as skewed as a boilerplate LSH bucket) therefore bound any task at
  ~CHUNK² comparisons.

Keep rule (deterministic, parallel- and resume-safe): a vector is
DROPPED iff some *lower-id* vector in the same cell has cosine ≥
``threshold`` with it — the greedy lowest-id-survives sweep of the
paper, expressed as one anti-join (no iteration: the rule depends only
on the pair set, not on prior drop decisions, matching the paper's
"keep one point per ε-neighborhood, drop the rest" semantics where
overlapping neighborhoods may drop their whole overlap except the
lowest anchor).

Scale shape: assignment is embarrassingly parallel; pair scoring is
chunk-bounded (never all-pairs); the exact cosine runs on the guard-band
candidates only. At 10^12 docs the quantizer would use
n_cells ≈ √n trained centroids — the join shape is unchanged, only the
anchor table grows (broadcast; 10⁶ cells × 768 dims ≈ 3 GB is the
practical ceiling, beyond which the assignment itself becomes a
broadcast-join matmul — documented swap-in point, not needed here).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.functions import similarity as simfn
from entity_deduplication_hack_main_spark.operators.knn import (
    _ivf_cell_scores,
    ivf_anchors,
)

#: members per hash chunk of a cell: a block scores at most CHUNK² pairs
CHUNK = 1024


def assign_cells(
    emb: DataFrame,
    anchors: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, cell): max-rounded-dot anchor per vector — the IVF
    assignment expression (knn.py), vectors riding along for the verify
    cosine."""
    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn(
        "cell", F.array_max(F.array(*_ivf_cell_scores("v", anchors)))["i"]
    )


def semantic_dup_pairs(cells: DataFrame, threshold: float) -> DataFrame:
    """(id1, id2, cosine): within-cell pairs with id1 < id2 and rounded
    fold-cosine ≥ threshold, each pair exactly once.

    Cells are chunked deterministically (pmod(xxhash64(id), nch) with
    nch = ceil(cell size / :data:`CHUNK`) — the candidates.bucket_pairs
    salting key); every chunk-pair block (ci <= cj) is scored as ONE numpy
    matmul inside applyInPandas, and only candidates within a 1e-6 guard
    band of the threshold are emitted (vectors riding along) for the exact
    fold-cosine re-score — the rule of :func:`sql_semantic_dedup`.

    Scale shape: a member of a cell with nch chunks is replicated into
    nch+1 blocks (~2-3 for sane chunk sizes), each block's worker memory
    is bounded by 2·CHUNK vectors and a CHUNK² sims matrix (1024² ≈ 8 MB)
    regardless of how hot the cell is. Each unordered pair lands in
    exactly one block, so no distinct is needed before the re-score.
    """
    import pandas as pd

    sizes = cells.groupBy("cell").agg(F.count("*").alias("cell_n"))
    # one row per cell (n_cells ~ √n at scale) — broadcast by design
    c = cells.join(F.broadcast(sizes), "cell")
    nch = F.greatest(
        F.lit(1), F.ceil(F.col("cell_n") / F.lit(CHUNK))
    ).cast("int")
    c = c.withColumn("nch", nch).withColumn(
        "chunk", F.pmod(F.xxhash64("id"), F.col("nch")).cast("int")
    )
    # block (ci, cj), ci <= cj: side 0 = chunk ci members, side 1 = chunk
    # cj members; the diagonal block carries side 0 only (intra-chunk
    # pairs come from its upper triangle by id)
    left = c.select(
        "cell", "id", "v",
        F.col("chunk").alias("ci"),
        F.explode(F.sequence(F.col("chunk"), F.col("nch") - 1)).alias("cj"),
        F.lit(0).alias("side"),
    )
    # chunk > 0 filter BEFORE the explode: sequence(0, chunk-1) at
    # chunk = 0 would generate the DESCENDING [0, -1] (Spark's sequence
    # defaults to step -1 when start > stop) and fabricate ci = -1 blocks
    right = c.where(F.col("chunk") > 0).select(
        "cell", "id", "v",
        F.explode(
            F.sequence(F.lit(0), F.col("chunk") - 1)
        ).alias("ci"),
        F.col("chunk").alias("cj"),
        F.lit(1).alias("side"),
    )
    blocks = left.unionByName(right)
    vec_t = cells.schema["v"].dataType.simpleString()
    id_t = cells.schema["id"].dataType.simpleString()
    guard = float(threshold) - 1e-6

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id1": pd.Series([], dtype=object),  # any orderable id type
                "id2": pd.Series([], dtype=object),
                "v1": pd.Series([], dtype=object),
                "v2": pd.Series([], dtype=object),
            }
        )

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        diagonal = pdf["ci"].iat[0] == pdf["cj"].iat[0]
        # a hash chunk index can be unpopulated — its blocks have no pairs
        # (a cross block's side 1 can be empty too: not a diagonal block)
        if len(a) == 0 or (len(a) < 2 if diagonal else len(b) == 0):
            return _empty()
        ids_a = a["id"].to_numpy()
        vecs_a = list(a["v"])
        xa = np.array(vecs_a, dtype=np.float64)
        xa /= np.maximum(np.linalg.norm(xa, axis=1, keepdims=True), 1e-300)
        if diagonal:  # intra-chunk upper triangle
            sims = xa @ xa.T
            iu, ju = np.triu_indices(len(ids_a), k=1)
            keep = sims[iu, ju] >= guard
            i, j = iu[keep], ju[keep]
            ids_b, vecs_b = ids_a, vecs_a
        else:
            ids_b = b["id"].to_numpy()
            vecs_b = list(b["v"])
            xb = np.array(vecs_b, dtype=np.float64)
            xb /= np.maximum(
                np.linalg.norm(xb, axis=1, keepdims=True), 1e-300
            )
            sims = xa @ xb.T
            i, j = np.nonzero(sims >= guard)
        if len(i) == 0:
            return _empty()
        lo_a = ids_a[i] < ids_b[j]
        return pd.DataFrame(
            {
                "id1": np.where(lo_a, ids_a[i], ids_b[j]),
                "id2": np.where(lo_a, ids_b[j], ids_a[i]),
                "v1": pd.Series(
                    [vecs_a[t] if lo else vecs_b[u]
                     for t, u, lo in zip(i, j, lo_a)],
                    dtype=object,
                ),
                "v2": pd.Series(
                    [vecs_b[u] if lo else vecs_a[t]
                     for t, u, lo in zip(i, j, lo_a)],
                    dtype=object,
                ),
            }
        )

    cand = blocks.groupBy("cell", "ci", "cj").applyInPandas(
        block, f"id1 {id_t}, id2 {id_t}, v1 {vec_t}, v2 {vec_t}"
    )
    return cand.select(
        "id1",
        "id2",
        F.round(simfn.cosine(F.col("v1"), F.col("v2")), 6).alias("cosine"),
    ).where(F.col("cosine") >= F.lit(threshold))


def semantic_dedup(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.85,
    n_cells: int = 16,
    seed: int = 69,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchors: np.ndarray | None = None,
    materialize: bool = False,
) -> DataFrame:
    """(vec_id, cell, kept): SemDeDup decision per vector.

    kept = false iff a lower-id vector in the same cell is within the
    cosine threshold (greedy lowest-id-survives). One row per input
    vector — the stable-cardinality curation report; filter
    ``kept`` for the surviving corpus. Within-cell pairs are scored by
    :func:`semantic_dup_pairs`. materialize: pin the
    cell assignment (localCheckpoint) — pair generation and the final
    left join re-reference it, and the 16-anchor argmax expression is
    the most expensive per-row work in this operator.
    """
    if anchors is None:
        anchors = ivf_anchors(dim, n_cells, seed)
    cells = assign_cells(emb, anchors, id_col, vec_col)
    if materialize:
        cells = cells.localCheckpoint()
    dropped = (
        semantic_dup_pairs(cells, threshold)
        .select(F.col("id2").alias("id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def sql_semantic_dedup(
    dim: int,
    threshold: float = 0.85,
    n_cells: int = 16,
    seed: int = 69,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SELECT matching :func:`semantic_dedup` — identical
    algorithm: same literal anchors, same rounded-dot argmax cell
    assignment (larger-index tie-break both engines), same within-cell
    rounded-cosine pair rule, same lowest-id keep sweep. Chunking is a
    physical rewrite; the logical pair set is identical."""
    anchors = ivf_anchors(dim, n_cells, seed)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(x)) for x in anchor)
        )
        for i, anchor in enumerate(anchors)
    )
    return f"""
WITH _anchors(ai, av) AS (VALUES {rows}),
_v AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table}),
_scored AS (
  SELECT vid, v, ai, round(list_inner_product(av, v), 6) AS d
  FROM _v CROSS JOIN _anchors
),
_rk AS (
  SELECT vid, v, ai,
         row_number() OVER (PARTITION BY vid ORDER BY d DESC, ai DESC) AS rn
  FROM _scored
),
_cells AS (SELECT vid, v, ai AS cell FROM _rk WHERE rn = 1),
_dropped AS (
  SELECT DISTINCT b.vid AS vid
  FROM _cells a JOIN _cells b
    ON a.cell = b.cell AND a.vid < b.vid
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
)
SELECT c.vid AS {id_col}, c.cell,
       (d.vid IS NULL) AS kept
FROM _cells c LEFT JOIN _dropped d ON c.vid = d.vid
"""
