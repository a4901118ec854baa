"""Exact n-gram Jaccard set-similarity self-join (prefix-filtered).

The MinHash-LSH channel (operators/lsh.py) finds near-duplicates
APPROXIMATELY: banded signatures trade a tunable false-negative rate for
index size. This module is the exact counterpart the training-data brief
calls "n-gram Jaccard" dedup: every pair of documents whose k-shingle sets
have Jaccard >= t is emitted with its EXACT similarity, no probabilistic
misses — the shape a curation run uses when the dedup decision must be
auditable pair-by-pair.

Algorithm: inverted-index set-similarity join with prefix filtering
(Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 PPJoin / Vernica et al.
SIGMOD'10 for the MapReduce formulation — all public papers). For sorted
sets A, B with |A|=n, Jaccard(A,B) >= t requires an overlap of at least
ceil(t/(1+t) * (|A|+|B|)), which in turn forces A and B to share at least
one element among their first n - ceil(t*n) + 1 elements (the "prefix").
Indexing only prefixes shrinks the inverted index to ~(1-t) of the full
one with ZERO loss of qualifying pairs. `shingle_set` is emitted by the
representation kernel already distinct and sorted by signed value
(functions/represent.py:243), and the DuckDB oracle's `_ss` CTE is
`list_sort(list_distinct(..))` — the same total order, so prefixes agree
across engines.

Reference parity: the reference's notebooks verify candidates with exact
token-set overlap (similarity_utils.py:73-96 lowercased set compare); this
operator lifts that exact-set semantics to a corpus-wide self-join instead
of a per-candidate check.

Scale design (100 TB lens):
- the prefix index holds ~(1-t) of all (doc, gram) postings; at t=0.7
  that is a 3.3x smaller shuffle than a full inverted index;
- boilerplate grams (cookie banners, license headers — df 10^6+ at corpus
  scale) are df-capped BEFORE the self-join with a partial-aggregating
  ``groupBy(g).count()`` + join-filter, the same pre-aggregation guard the
  winnow channel and the exact-span pass use (operators/suffix.py): no
  reducer ever materializes a hot gram's posting list, and the per-gram
  pair fanout is bounded by max_df^2. Like winnow_max_df this is a
  documented coverage cap: a pair whose ONLY shared prefix grams are
  boilerplate is not generated (the LSH channel still sees it);
- the size filter least(n1,n2) >= t*greatest(n1,n2) — implied by
  Jaccard >= t — prunes inside the join condition, before the distinct;
- exact Jaccard is computed JVM-side with ``array_intersect`` on the two
  full sorted sets, only for surviving candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import verify as verify_op


def shingle_sets(
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """(id, shingle_set) via the ORDERED-shingle kernel + a JVM
    array_sort(array_distinct(..)) — identical values to the full payload's
    `shingle_set` (same rolling-polynomial identity, same signed-ascending
    order; asserted by test_shingle_sets_match_payload) at a fraction of
    the cost: this channel needs no MinHash/winnow/SimHash work, and the
    setjoin query evaluates its input subtree four times (prefix index
    twice, full sets twice), so the saving multiplies."""
    from entity_deduplication_hack_main_spark.functions import represent

    sh = represent.with_ordered_shingles(
        docs, config, id_col, text_col, hash_strategy
    )
    return sh.select(
        "id", F.array_sort(F.array_distinct("shingles")).alias("shingle_set")
    )


def _prefix_len(n, threshold: float):
    """Prefix length n - ceil(t*n) + 1 (>= 1 for every non-empty set)."""
    return (n - F.ceil(n * F.lit(threshold)).cast("int") + 1).cast("int")


def prefix_index(
    payload: DataFrame,
    threshold: float,
    max_df: int,
    id_col: str = "id",
    set_col: str = "shingle_set",
) -> DataFrame:
    """(id, n, g) postings for each set's prefix, hot grams df-capped.

    The df filter counts over the PREFIX postings (matching the join that
    consumes them); counting is a partial-aggregating groupBy so a
    boilerplate gram costs one long per map task, never a posting list.
    """
    n = F.size(set_col)
    inv = payload.select(
        F.col(id_col).alias("id"),
        n.alias("n"),
        F.explode(
            F.slice(F.col(set_col), 1, _prefix_len(n, threshold))
        ).alias("g"),
    )
    ok = inv.groupBy("g").count().where(F.col("count") <= max_df).select("g")
    return inv.join(ok, "g")


def ngram_jaccard_pairs(
    payload: DataFrame,
    config: DedupConfig,
    threshold: float | None = None,
    max_df: int | None = None,
    id_col: str = "id",
    set_col: str = "shingle_set",
) -> DataFrame:
    """All pairs with exact shingle-set Jaccard >= threshold.

    Output: (id1, id2, jaccard) with id1 < id2, jaccard rounded to 6
    decimals. Exact (modulo the documented max_df coverage cap): the
    prefix filter is lossless for Jaccard >= threshold.
    """
    t = config.jaccard_similar if threshold is None else threshold
    df_cap = config.winnow_max_df if max_df is None else max_df
    idx = prefix_index(payload, t, df_cap, id_col, set_col)

    a = idx.alias("a")
    b = idx.alias("b")
    # Measured and rejected: PPJoin's positional filter (per shared prefix
    # gram at sorted positions pa/pb, overlap <= min(pa,pb) + 1 +
    # min(na-pa-1, nb-pb-1), keep the min over shared grams, prune below
    # t/(1+t)*(na+nb)). On the sf0.1 corpus it pruned 3% of candidates
    # (172,681 -> 167,063) at +35% wall (the distinct becomes a two-agg
    # groupBy): candidates here are dominated by pairs sharing ONE
    # semi-common gram near the prefix head, where the bound is loosest.
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(t) * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )

    a_set, b_set = (
        payload.select(
            F.col(id_col).alias(f"id{k}"), F.col(set_col).alias(f"s{k}")
        )
        for k in (1, 2)
    )
    j = verify_op.overlap_sizes(cand.join(a_set, "id1").join(b_set, "id2"))
    common = F.col("_inter").cast("double")
    union = (F.col("_n1") + F.col("_n2") - F.col("_inter")).cast("double")
    return j.select(
        "id1",
        "id2",
        verify_op.emit_where(
            common >= F.lit(t) * union, F.round(common / union, 6)
        ).alias("jaccard"),
    )


def sql_ngram_jaccard_pairs(
    config: DedupConfig,
    threshold: float | None = None,
    max_df: int | None = None,
) -> str:
    """DuckDB oracle: identical prefix/df-cap/size-filter semantics over
    the `_ss` CTE (requires the repr CTE chain in scope)."""
    t = config.jaccard_similar if threshold is None else threshold
    df_cap = config.winnow_max_df if max_df is None else max_df
    return f"""
_sz AS (SELECT id, ss, len(ss) AS n FROM _ss),
_pfx AS (
  SELECT id, n,
         unnest(ss[1 : (n - ceil({t} * n)::INT + 1)]) AS g
  FROM _sz
),
_ok AS (SELECT g FROM _pfx GROUP BY g HAVING count(*) <= {df_cap}),
_cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM _pfx a JOIN _ok USING (g) JOIN _pfx b ON a.g = b.g AND a.id < b.id
  WHERE least(a.n, b.n) >= {t} * greatest(a.n, b.n)
),
_jac AS (
  SELECT c.id1, c.id2,
         len(list_intersect(s1.ss, s2.ss))::DOUBLE AS common,
         (s1.n + s2.n - len(list_intersect(s1.ss, s2.ss)))::DOUBLE AS un
  FROM _cand c
  JOIN _sz s1 ON c.id1 = s1.id
  JOIN _sz s2 ON c.id2 = s2.id
)
SELECT id1, id2, round(common / un, 6) AS jaccard
FROM _jac WHERE common >= {t} * un
"""


# --- per-doc duplicated-n-gram fraction ------------------------------------


def dup_shingle_stats(sets: DataFrame, materialize: bool = False) -> DataFrame:
    """(id, n_shingles, n_dup_shingles, dup_frac): per-doc share of its
    DISTINCT k-shingles that occur in >= 2 corpus documents — the
    cross-document n-gram novelty signal a curation run thresholds on
    (the corpus-level cousin of Gopher's within-doc dup-gram fractions;
    Dolma's "duplicate n-gram fraction" — public report).

    sets: output of :func:`shingle_sets` (id, shingle_set).

    Scale shape: explode postings → ``groupBy(g).count()`` (partial
    aggregation keeps hot boilerplate grams to one row per map
    partition) → join the df back onto the postings → per-doc groupBy.
    Deliberately NOT a count-over-window on g: an unbounded window
    buffers the hot gram's whole partition on one reducer
    (suffix.py's collect_list lesson), while the join merely STREAMS
    the hot gram's postings through one task with a tiny build side,
    and AQE skew-join can split it."""
    ex = sets.select("id", F.explode("shingle_set").alias("g"))
    if materialize:
        # the df count and the join-back both re-reference the postings —
        # unpinned, the shingle kernel runs twice (invocation-scoped pin)
        ex = ex.localCheckpoint()
    dfc = ex.groupBy("g").agg(F.count("*").alias("df"))
    return (
        ex.join(dfc, "g")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias(
                "n_dup_shingles"
            ),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 6),
        )
    )


def sql_dup_shingle_stats() -> str:
    """DuckDB twin over the `_ss` CTE (requires the repr CTE chain)."""
    return """
_ex AS (SELECT id, unnest(ss) AS g FROM _ss),
_dfc AS (SELECT g, count(*) AS df FROM _ex GROUP BY g)
SELECT id, count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_shingles,
       round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*),
             6) AS dup_frac
FROM _ex JOIN _dfc USING (g)
GROUP BY id
"""
