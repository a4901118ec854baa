"""LSH banding + candidate-pair generation with hot-bucket salting.

Reference parity: replaces the blocked cross join (J1,
``dedup_pipeline.py:31-48``) — the reference compares all pairs within an
entity-type block; we compare all pairs within an LSH bucket
``(band_id, band_hash)``. Pair keys are order-normalized with
least/greatest exactly as the reference sorts pair tuples (J7,
``EvaluateVariations.ipynb cell 2``).

Scale design:
- banding is pure JVM (md5 or xxhash64 over signature slices → codegen;
  one ``posexplode`` = bands× row inflation, no Python);
- pairs come from :func:`candidates.bucket_pairs`, the sized, salted
  bucket self-join shared by every candidate channel: buckets larger
  than ``config.max_bucket_size`` (boilerplate pages sharing a band) are
  split into chunk-pair join keys, bounding any single task at
  ~salt_chunk² comparisons while preserving the exact pair set.
  Deterministic → resume-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import candidates as cand


def candidate_probability(jaccard: float, config: DedupConfig) -> float:
    """The LSH S-curve: P(pair shares >= 1 band | Jaccard) =
    1 - (1 - j^r)^b. This is the analytic link between the band config and
    the north_rule's recall >= 0.99 gate (SURVEY §7 hard parts): the
    default b=32 x r=4 gives P(candidate) = 0.9998 at the verify threshold
    j = 0.7 — checked by test_s_curve_meets_recall_gate."""
    return 1.0 - (1.0 - jaccard**config.rows_per_band) ** config.bands


def plan_bands(
    num_perms: int,
    threshold: float,
    min_p_at_threshold: float = 0.99,
    fn_weight: float = 10.0,
    fp_weight: float = 1.0,
    grid: int = 1000,
) -> list[dict]:
    """Choose (bands, rows_per_band) for a *num_perms*-perm MinHash at a
    target Jaccard *threshold*. Enumerates every ``b*r == num_perms``
    factorization; plans meeting the recall gate — P(candidate) ≥
    *min_p_at_threshold* AT the threshold, the north rule's dup-pair
    recall requirement stated analytically — rank first, and within the
    gate the weighted S-curve error breaks ties:

        fn_weight * ∫_t^1 (1 − P(s)) ds   (true pairs never bucketed)
      + fp_weight * ∫_0^t P(s) ds         (spurious candidates)

    with P(s) = 1 − (1 − s^r)^b integrated numerically (midpoint rule,
    *grid* points). The gate matters: the unconstrained area minimum at
    t=0.7/128 perms is (16 bands × 8 rows) with P(t) = 0.61 — a plan
    that silently drops 4 of 10 threshold-grade duplicate pairs; the
    gated pick is (32 × 4), P(t) = 0.9998, the shipped DedupConfig. FN
    is weighted above FP in the tie-break because a missed duplicate is
    unrecoverable while a false candidate costs one verify comparison
    (Leskovec/Rajaraman/Ullman, MMDS ch. 3). Pure driver arithmetic —
    never touches data; every plan is returned with its FN/FP areas so
    the trade-off is auditable; ``[0]`` is the pick."""
    plans = []
    for r in range(1, num_perms + 1):
        if num_perms % r:
            continue
        b = num_perms // r
        fn_area = fp_area = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            p = 1.0 - (1.0 - s**r) ** b
            if s >= threshold:
                fn_area += (1.0 - p) / grid
            else:
                fp_area += p / grid
        p_t = 1.0 - (1.0 - threshold**r) ** b
        plans.append(
            {
                "bands": b,
                "rows_per_band": r,
                "fn_area": round(fn_area, 6),
                "fp_area": round(fp_area, 6),
                "error": round(fn_weight * fn_area + fp_weight * fp_area, 6),
                "p_at_threshold": round(p_t, 6),
                "meets_recall_gate": p_t >= min_p_at_threshold,
            }
        )
    plans.sort(
        key=lambda p: (not p["meets_recall_gate"], p["error"], p["rows_per_band"])
    )
    return plans


def band_hashes(
    df: DataFrame,
    config: DedupConfig,
    sig_col: str = "signature",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band_id, band_hash): one row per band per doc. Pure JVM.

    hash_fn 'md5' emits 32-char hex strings (DuckDB-reproducible — the
    oracle queries use this); 'xxhash64' emits BIGINT keys — the
    production pipeline's choice: the banding shuffle carries bands× rows
    per doc, and an 8-byte key vs a 32-byte string cuts that stage's
    shuffle volume ~2.5x (band buckets are identical either way: both
    hashes are injective enough on r-row signature slices)."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(config.bands - 1)),
        lambda b: cand.band_key(F.col(sig_col), b, config.rows_per_band, hash_fn),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(bands).alias("band_id", "band_hash"),
    )


def candidate_pairs(
    bands: DataFrame, config: DedupConfig, materialize: bool = False
) -> DataFrame:
    """Distinct (id1, id2) pairs sharing >= 1 LSH bucket, salted for skew.

    bands: output of :func:`band_hashes` (any bucket key type). Sizing,
    salting and the self-join are :func:`candidates.bucket_pairs` over the
    one-channel posting table ``(band_id, band_hash)``.

    materialize: ``localCheckpoint`` the band table first. The size count
    and both join sides re-reference it, and Catalyst duplicates the whole
    upstream subtree per reference (the r05 verify_candidate_pairs plan
    carried 44 copies of the representation kernel), so pinning computes
    the banding input once per invocation. Off by default: a cheap or
    already-committed band input costs less to re-read than one
    checkpoint job, and the pin is left to GC.
    """
    if materialize:
        bands = bands.localCheckpoint()
    postings = cand.one_channel(bands, "band_id", "band_hash")
    return cand.bucket_pairs(postings, config).select("id1", "id2").distinct()


# --- DuckDB oracle (unsalted — salting is a physical rewrite, the logical
# pair set is identical) ---------------------------------------------------


def sql_bands_from_sig(config: DedupConfig) -> str:
    """CTE `_bands` (id, band_id, band_hash) from an existing `_sig` CTE."""
    r = config.rows_per_band
    return f"""
_bands AS (
  SELECT id, b.band_id::INT AS band_id,
         md5(array_to_string(sig[b.band_id * {r} + 1 : b.band_id * {r} + {r}], ',')) AS band_hash
  FROM _sig CROSS JOIN (FROM range(0, {config.bands}) t(band_id)) b
)"""
