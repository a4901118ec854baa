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
- **within-cell pair generation** is the embedding block scorer
  :func:`knn.embedding_near_dup_pairs` with the cell as the block: cells
  are chunked by ``candidates.chunk_members`` (the sizing and
  ``pmod(xxhash64(id), nch)`` salting of every blocked comparison) and
  every chunk pair is scored by one numpy matmul. Hot cells (a popular
  semantic neighborhood is exactly as skewed as a boilerplate LSH bucket)
  therefore bound any task at about ``knn.CHUNK`` vectors.

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

from entity_deduplication_hack_main_spark.operators.knn import (
    _ivf_cell_scores,
    embedding_near_dup_pairs,
    ivf_anchors,
)


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
    :func:`embedding_near_dup_pairs` with the cell as the block.
    materialize: pin the
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
        embedding_near_dup_pairs(cells, threshold, "cell", "id", "v")
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
