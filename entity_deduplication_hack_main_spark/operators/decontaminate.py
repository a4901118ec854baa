"""Batch decontamination: flag training docs that match a holdout corpus.

The training-data twin of the dedup pipeline: given a TRAIN corpus and a
REFERENCE corpus (benchmark / eval holdout), return every train doc that
is an exact or near duplicate of some reference doc — the operation an
LLM data pipeline runs to keep eval sets out of training data. The
streaming ingest (streaming/ingest.py) already does this incrementally
against its own committed index; this operator is the standalone batch
cross-corpus form, reference set supplied by the caller.

Channels (both sides of the shared payload representation):
- exact: normalized-text fingerprint equality (the C1 exact-dup rule,
  cross-corpus) — complete by construction;
- near: MinHash-LSH band collision between the two corpora, then EXACT
  shingle-set Jaccard verification at ``jaccard_similar`` — the S-curve
  miss rate at the threshold is the same published property as the
  self-dedup channel (functions/lsh.py candidate_probability), and the
  DuckDB oracle replays the identical band structure, so cross-engine
  results are bit-equal rather than "close".

Output: one row per contaminated train doc —
(doc_id, reason 'exact'|'near', ref_id = the lowest-id matching reference
doc, exact matches taking priority).

Scale (100 TB train vs small holdout — the common shape):
- the reference side of both joins is the SMALL side; pass
  ``broadcast_ref=True`` when the holdout fits in memory (benchmarks
  almost always do) and both channels become map-side broadcast joins —
  zero shuffle of the train corpus;
- with a large reference, both joins are plain hash joins on
  fp / (band_id, band_hash); boilerplate band buckets are the same
  AQE-skew-join territory as the self-join channel;
- per-train-doc output is reduced with a partial-aggregating min — no
  membership lists.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import lsh as lsh_op
from entity_deduplication_hack_main_spark.operators import verify as verify_op


def decontaminate(
    train_payload: DataFrame,
    ref_payload: DataFrame,
    config: DedupConfig,
    threshold: float | None = None,
    broadcast_ref: bool = False,
) -> DataFrame:
    """Contaminated train docs vs a reference corpus.

    Both inputs are representation payloads (id, fp, shingle_set,
    signature, ...) from functions/represent.py `with_representation`.
    """
    t = config.jaccard_similar if threshold is None else threshold

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_ref else df

    # exact channel: fingerprint equality, lowest ref id per train doc
    ref_fp = ref_payload.select(F.col("id").alias("rid"), "fp")
    exact = (
        train_payload.select("id", "fp")
        .join(_b(ref_fp), "fp")
        .groupBy("id")
        .agg(F.min("rid").alias("exact_ref"))
    )

    # near channel: cross-corpus band collision -> exact Jaccard verify
    tb = lsh_op.band_hashes(train_payload, config, "signature", "id")
    rb = lsh_op.band_hashes(ref_payload, config, "signature", "id").select(
        "band_id", "band_hash", F.col("id").alias("rid")
    )
    pairs = (
        tb.join(_b(rb), ["band_id", "band_hash"])
        .select("id", "rid")
        .distinct()
    )
    s_t = train_payload.select("id", F.col("shingle_set").alias("_s1"))
    s_r = ref_payload.select(
        F.col("id").alias("rid"), F.col("shingle_set").alias("_s2")
    )
    common = F.col("_inter").cast("double")
    union = (F.col("_n1") + F.col("_n2")).cast("double") - common
    near = (
        verify_op.overlap_sizes(
            pairs.join(s_t, "id").join(_b(s_r), "rid"), "_s1", "_s2"
        )
        .select(
            "id",
            verify_op.emit_where(common >= F.lit(t) * union, F.col("rid"))
            .alias("rid"),
        )
        .groupBy("id")
        .agg(F.min("rid").alias("near_ref"))
    )

    return (
        exact.join(near, "id", "full_outer")
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("exact_ref").isNotNull(), F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("reason"),
            F.coalesce("exact_ref", "near_ref").alias("ref_id"),
        )
    )


def ngram_set(
    docs: DataFrame,
    config: DedupConfig,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """The corpus's distinct word-n-gram hash set, one column ``g`` —
    ordered-shingle kernel at shingle_k = n. Callers that probe the same
    reference repeatedly (streaming ingest) compute this once and cache."""
    ncfg = dataclasses.replace(config, shingle_k=n)
    from entity_deduplication_hack_main_spark.functions import represent

    rg = represent.with_ordered_shingles(
        docs, ncfg, id_col, text_col, hash_strategy
    )
    return rg.select(F.explode("shingles").alias("g")).distinct()


def ngram_overlap_stats(
    train_docs: DataFrame,
    ref_docs: DataFrame | None,
    config: DedupConfig,
    n: int = 13,
    flag_threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    broadcast_ref: bool = True,
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Published-recipe n-gram overlap decontamination: per TRAIN doc, the
    fraction of its distinct normalized word n-grams that occur anywhere
    in the REFERENCE corpus (GPT-3 appendix C uses n=13 and drops any-hit
    docs; PaLM flags docs with >= 70% of 8-grams contaminated). This is
    the third channel next to :func:`decontaminate`'s exact-fp and
    MinHash-band ones — it catches *partial* containment (an eval question
    quoted inside a long page) that whole-doc Jaccard misses.

    Inputs are raw doc tables; grams come from the ordered-shingle kernel
    (functions/represent.py with_ordered_shingles) at shingle_k = n, so
    gram hashing is the one rolling-polynomial identity shared with every
    other channel. Output: one row per train doc —
    (doc_id, n_grams, n_hit, overlap_frac, contaminated).

    Scale shape (100 TB train vs small holdout): the reference gram set is
    globally distinct and broadcast (``broadcast_ref``); the train side is
    ONE kernel pass + explode of distinct grams + map-side broadcast mark
    + partial-aggregating groupBy(id) — the only shuffle is one tiny
    pre-aggregated row per doc. With ``broadcast_ref=False`` the mark
    becomes a plain hash join on the gram key (holdout too big to ship).

    Cross-engine note: the DuckDB twin (:func:`sql_ngram_overlap_stats`)
    is exact for n <= 13 on the 'md5' strategy (60-bit token hashes keep
    the HUGEINT polynomial under 2^126); the Spark side wraps mod 2^64 in
    the kernel and accepts any n.

    ``ref_grams``: a precomputed :func:`ngram_set` result (same n and
    hash_strategy) — pass it (cached) when probing one reference
    repeatedly (streaming ingest); ``ref_docs`` is then ignored.
    """
    ncfg = dataclasses.replace(config, shingle_k=n)
    from entity_deduplication_hack_main_spark.functions import represent

    tg = represent.with_ordered_shingles(
        train_docs, ncfg, id_col, text_col, hash_strategy
    )
    if ref_grams is None:
        ref_grams = ngram_set(
            ref_docs, config, n, id_col, text_col, hash_strategy
        )
    ref_set = ref_grams.withColumn("_hit", F.lit(1))
    marked = tg.select(
        "id", F.explode(F.array_distinct("shingles")).alias("g")
    ).join(F.broadcast(ref_set) if broadcast_ref else ref_set, "g", "left")
    # one partial-aggregating pass: n_grams and n_hit from the same groupBy
    # (every doc has >= 1 gram — the kernel emits a short-gram for docs
    # below n tokens — so no doc drops out of the explode)
    stats = marked.groupBy("id").agg(
        F.count("*").alias("n_grams"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
    )
    frac = F.col("n_hit").cast("double") / F.col("n_grams").cast("double")
    return stats.select(
        F.col("id").alias("doc_id"),
        "n_grams",
        "n_hit",
        frac.alias("overlap_frac"),
        (frac >= F.lit(float(flag_threshold))).alias("contaminated"),
    )


def sql_ngram_overlap_stats(
    train_pred: str,
    ref_pred: str,
    flag_threshold: float = 0.7,
) -> str:
    """DuckDB oracle for :func:`ngram_overlap_stats` over `documents`.

    The gram size is whatever shingle_k the caller emitted the ``_sh``
    CTE with — emit ``represent.sql_repr_ctes(replace(cfg, shingle_k=n))``
    and keep n consistent with the Spark side. (The fragment deliberately
    takes NO n/config parameter: an ignored one would let a mismatched
    call compute overlap over default-k shingles while labeled n-grams.)
    train_pred / ref_pred are predicate templates over an ``{id}``
    placeholder, formatted (never string-replaced)."""
    t = float(flag_threshold)
    return f"""
_tg AS (
  SELECT id, unnest(list_distinct(sh)) AS g FROM _sh
  WHERE ({train_pred.format(id='id')})
),
_rg AS (
  SELECT DISTINCT unnest(sh) AS g FROM _sh
  WHERE ({ref_pred.format(id='id')})
),
_hit AS (
  SELECT t.id, count(*) AS n_hit FROM _tg t JOIN _rg r USING (g)
  GROUP BY t.id
)
SELECT s.id AS doc_id,
       len(list_distinct(s.sh))::BIGINT AS n_grams,
       coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       (coalesce(h.n_hit, 0)::DOUBLE / len(list_distinct(s.sh))::DOUBLE)
         AS overlap_frac,
       ((coalesce(h.n_hit, 0)::DOUBLE / len(list_distinct(s.sh))::DOUBLE)
          >= {t}) AS contaminated
FROM _sh s LEFT JOIN _hit h ON s.id = h.id
WHERE ({train_pred.format(id='s.id')})
"""


def sql_decontaminate(
    config: DedupConfig,
    train_pred: str,
    ref_pred: str,
    threshold: float | None = None,
) -> str:
    """DuckDB oracle: identical channels over the shared repr CTE chain
    (_ss, _bands in scope; `documents` provides fp via sql_fingerprint).
    train_pred / ref_pred are SQL predicate templates over a `{id}`
    placeholder (e.g. ``"{id} % 10 != 0"``) — formatted, never
    string-replaced (the sql_ivf_knn lesson: a blind replace corrupts any
    filter embedding the column name as a substring)."""
    from entity_deduplication_hack_main_spark.functions import textstats

    t = config.jaccard_similar if threshold is None else threshold
    fp = textstats.sql_fingerprint("text")
    return f"""
_fp AS (SELECT doc_id AS id, {fp} AS fp FROM documents),
_exact AS (
  SELECT t.id, min(r.id) AS exact_ref
  FROM _fp t JOIN _fp r ON t.fp = r.fp
  WHERE ({train_pred.format(id='t.id')})
    AND ({ref_pred.format(id='r.id')})
  GROUP BY t.id
),
_cand AS (
  SELECT DISTINCT a.id AS tid, b.id AS rid
  FROM _bands a JOIN _bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE ({train_pred.format(id='a.id')})
    AND ({ref_pred.format(id='b.id')})
),
_near AS (
  SELECT c.tid AS id, min(c.rid) AS near_ref
  FROM _cand c
  JOIN _ss s1 ON c.tid = s1.id
  JOIN _ss s2 ON c.rid = s2.id
  WHERE len(list_intersect(s1.ss, s2.ss))::DOUBLE >=
        {t} * (len(s1.ss) + len(s2.ss)
               - len(list_intersect(s1.ss, s2.ss)))::DOUBLE
  GROUP BY c.tid
)
SELECT coalesce(e.id, n.id) AS doc_id,
       CASE WHEN e.exact_ref IS NOT NULL THEN 'exact' ELSE 'near' END
         AS reason,
       coalesce(e.exact_ref, n.near_ref) AS ref_id
FROM _exact e FULL JOIN _near n ON e.id = n.id
"""
