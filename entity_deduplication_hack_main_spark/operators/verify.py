"""Candidate verification + duplicate taxonomy classification.

Reference parity:
- J3 verification join (``similarity_utils.py:58-104`` Levenshtein_filter):
  candidates are re-checked with an *exact* expensive measure — for webtext
  that is exact Jaccard over the full shingle sets (not the MinHash
  estimate), computed JVM-side from ONE array_intersect per pair
  (:func:`overlap_sizes`; union = |S1| + |S2| - |S1 ∩ S2|).
- C1 exact detection (``similarity_utils.py:87-92``): byte-equal normalized
  text (md5 fingerprint equality) → 'exact'.
- C2 taxonomy (``output_utils.py:60-73``): exact / near-exact / similar /
  conflict by threshold bands.
- C3 pass/fail status (``similarity_utils.py:94-103``).

Scale design: the verification join fetches per-doc payloads (shingle set +
fingerprint) for *matched ids only* — the same semi-join reduction the
reference hand-codes at ``dedup_pipeline.py:56-60``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import textstats


def overlap_sizes(df: DataFrame, s1: str = "s1", s2: str = "s2") -> DataFrame:
    """``df`` plus ``_inter`` = |S1 ∩ S2|, ``_n1`` = |S1|, ``_n2`` = |S2|,
    projected once so every exact-set measure derives from plain ints.

    Why a separate projection: Catalyst shares no subexpression across
    CASE WHEN branches, so a Jaccard referenced by the score, taxonomy,
    status and containment columns re-ran ``array_intersect`` 5x and
    ``array_union`` 8x per pair in ``verify_pairs_full`` (2.2-2.6 s vs
    0.7-0.9 s warm for the 11.9k pairs of perfbench's ``batch_hot`` on a
    4-core VM). CollapseProject
    keeps this projection apart from the consumer's because ``_inter`` is
    not cheap and is referenced more than once.

    Precondition: S1 and S2 are DISTINCT sets (the representation kernel's
    ``shingle_set``), so |S1 ∪ S2| = _n1 + _n2 - _inter and no
    ``array_union`` is needed."""
    return df.select(
        "*",
        F.size(F.array_intersect(s1, s2)).alias("_inter"),
        F.size(s1).alias("_n1"),
        F.size(s2).alias("_n2"),
    )


def emit_where(cond: Column, value: Column) -> Column:
    """Generator column: ``value`` on rows where ``cond`` holds, no row
    otherwise — the row filter for thresholds on :func:`overlap_sizes`
    measures. A ``where`` there is pushed through the overlap projection
    into the join condition with ``_inter`` inlined, so the plan runs
    ``array_intersect`` once per reference again; the optimizer pushes
    no filter below a generator's output."""
    return F.explode(F.when(cond, F.array(value)))


#: the payload columns :func:`full_measures` reads → their pair-side aliases
FULL_COLS = {"shingle_set": "s", "fp": "fp", "simhash": "sh"}


def pair_side(payload: DataFrame, cols: dict[str, str], k: int) -> DataFrame:
    """``payload`` as side *k* of a pair: ``id<k>`` plus ``<alias><k>``
    for each payload col → alias in ``cols``."""
    return payload.select(
        F.col("id").alias(f"id{k}"),
        *(F.col(c).alias(f"{al}{k}") for c, al in cols.items()),
    )


def _paired_payloads(
    pairs: DataFrame, payload: DataFrame, cols: dict[str, str]
) -> DataFrame:
    """(id1, id2, <alias>1, <alias>2 for each payload col → alias in
    ``cols``, plus :func:`overlap_sizes`): one payload projection joined
    onto both pair sides.

    The payload is first BROADCAST-semi-filtered to candidate-pair
    members, so only matched ids ship their shingle sets through the
    shuffle (the reference's matched-ids-only payload fetch,
    dedup_pipeline.py:56-60). The hint is explicit because the filter
    subtree appears in BOTH join branches — left to AQE it can become two
    extra full-payload sort-merge shuffles (measured 27s → 87s at 100k
    docs). The broadcast is bounded by the distinct candidate id count."""
    ids = (
        pairs.select(F.col("id1").alias("id"))
        .unionByName(pairs.select(F.col("id2").alias("id")))
        .distinct()
    )
    p = payload.select("id", *cols).join(F.broadcast(ids), "id", "left_semi")
    a, b = (pair_side(p, cols, k) for k in (1, 2))
    return overlap_sizes(
        pairs.select("id1", "id2").join(a, "id1").join(b, "id2")
    )


def _jaccard_columns(config: DedupConfig) -> list:
    """jaccard, dup_type (C2), status (C3) from :func:`overlap_sizes`."""
    inter = F.col("_inter")
    union = F.col("_n1") + F.col("_n2") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return [
        F.round(jac, 9).alias("jaccard"),
        F.when(F.col("fp1") == F.col("fp2"), "exact")
        .when(jac >= config.jaccard_near_exact, "near_exact")
        .when(jac >= config.jaccard_similar, "similar")
        .otherwise("conflict")
        .alias("dup_type"),
        F.when(jac >= config.jaccard_candidate, "pass")
        .otherwise("fail")
        .alias("status"),
    ]


def verify_pairs(
    pairs: DataFrame,
    payload: DataFrame,
    config: DedupConfig,
) -> DataFrame:
    """(id1, id2, jaccard, dup_type, status) for candidate pairs.

    jaccard = |S1 ∩ S2| / |S1 ∪ S2| on exact shingle sets.
    dup_type: exact | near_exact | similar | conflict  (C2)
    status:   pass iff jaccard >= config.jaccard_candidate (C3)

    Payload fetch and semi-join reduction: :func:`_paired_payloads`."""
    j = _paired_payloads(pairs, payload, {"shingle_set": "s", "fp": "fp"})
    return j.select("id1", "id2", *_jaccard_columns(config))


def duplicate_edges(verified: DataFrame) -> DataFrame:
    """Pairs that count as duplicate edges for clustering: status == pass."""
    return verified.where(F.col("status") == "pass").select("id1", "id2")


def full_measures(config: DedupConfig) -> list[Column]:
    """jaccard, dup_type, status (:func:`_jaccard_columns`), SimHash
    ``hamming`` and ``containment`` = |S1 ∩ S2| / min(|S1|, |S2|): the
    measures :func:`edge_rule` reads, over :func:`overlap_sizes` plus the
    ``fp1/fp2`` fingerprints and ``sh1/sh2`` simhashes of both sides."""
    smaller = F.least("_n1", "_n2")
    return [
        *_jaccard_columns(config),
        F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming"),
        F.round(
            F.when(smaller > 0, F.col("_inter") / smaller).otherwise(0.0), 9
        ).alias("containment"),
    ]


def edge_rule(config: DedupConfig, containment_threshold: float = 0.9) -> Column:
    """The three-channel edge predicate over :func:`full_measures`:
    Jaccard pass OR Hamming <= radius OR containment >= threshold."""
    return (
        (F.col("status") == "pass")
        | (F.col("hamming") <= config.hamming_radius)
        | (F.col("containment") >= containment_threshold)
    )


def verify_pairs_full(
    pairs: DataFrame,
    payload: DataFrame,
    config: DedupConfig,
) -> DataFrame:
    """(id1, id2, :func:`full_measures`): exact Jaccard + taxonomy +
    SimHash Hamming distance + containment, all from ONE payload
    projection joined twice (a previous pipeline version joined the
    payload six times = four extra ~600 MB array shuffles at 100k heavy
    docs; this halved pipeline wall time).

    payload: (id, shingle_set, fp, simhash), semi-join reduced to the
    candidate-pair members first (:func:`_paired_payloads`). Batch and
    streaming both run it in ``plans.pipeline.near_dup_stages``."""
    j = _paired_payloads(pairs, payload, FULL_COLS)
    return j.select("id1", "id2", *full_measures(config))


def duplicate_edges_full(
    verified: DataFrame,
    config: DedupConfig,
    containment_threshold: float = 0.9,
) -> DataFrame:
    """The pairs of :func:`verify_pairs_full` output that
    :func:`edge_rule` accepts."""
    return (
        verified.where(edge_rule(config, containment_threshold))
        .select("id1", "id2")
        .distinct()
    )


# --- DuckDB oracle -------------------------------------------------------


def sql_verify_pairs(
    config: DedupConfig,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SELECT matching candidate generation + verification end-to-end
    (md5 strategy)."""
    from entity_deduplication_hack_main_spark.functions.represent import (
        sql_repr_ctes,
        sql_signature_cte,
    )
    from entity_deduplication_hack_main_spark.operators.lsh import (
        sql_bands_from_sig,
    )

    fp = textstats.sql_fingerprint(text_col)
    return f"""
WITH {sql_repr_ctes(config, doc_table, id_col, text_col)},
{sql_signature_cte(config)},
{sql_bands_from_sig(config)},
_cand AS (
  SELECT DISTINCT least(a.id, b.id) AS id1, greatest(a.id, b.id) AS id2
  FROM _bands a JOIN _bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
),
_payload AS (
  SELECT _ss.id AS id, _ss.ss AS ss, d.fp AS fp
  FROM _ss JOIN (SELECT {id_col} AS id, {fp} AS fp FROM {doc_table}) d
    ON _ss.id = d.id
),
_j AS (
  SELECT c.id1, c.id2,
         len(list_intersect(a.ss, b.ss)) AS i_n,
         len(list_distinct(list_concat(a.ss, b.ss))) AS u_n,
         a.fp AS fp1, b.fp AS fp2
  FROM _cand c
  JOIN _payload a ON c.id1 = a.id
  JOIN _payload b ON c.id2 = b.id
)
SELECT id1, id2,
       round(CASE WHEN u_n > 0 THEN i_n::DOUBLE / u_n ELSE 0.0 END, 9) AS jaccard,
       CASE WHEN fp1 = fp2 THEN 'exact'
            WHEN i_n::DOUBLE / u_n >= {config.jaccard_near_exact} THEN 'near_exact'
            WHEN i_n::DOUBLE / u_n >= {config.jaccard_similar} THEN 'similar'
            ELSE 'conflict' END AS dup_type,
       CASE WHEN i_n::DOUBLE / u_n >= {config.jaccard_candidate} THEN 'pass'
            ELSE 'fail' END AS status
FROM _j
"""
