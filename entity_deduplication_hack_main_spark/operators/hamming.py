"""SimHash Hamming-ball candidate channel.

Second recall channel per the north_star: 64-bit SimHash fingerprints, a
4 x 16-bit block index (pigeonhole: Hamming distance <= 3 ⇒ at least one of
the 4 blocks is bit-identical), candidates verified with
``bit_count(a XOR b) <= r`` — all JVM expressions around the Arrow simhash
kernel (functions/represent.py).

Reference parity: plays the role of the cosine-threshold channel (J1/J2,
``similarity_utils.py:22-33``) for near-exact duplicates that differ in a
few tokens only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import simhash as shash
from entity_deduplication_hack_main_spark.operators import candidates as cand


def hamming_candidate_pairs(
    sim_table: DataFrame,
    config: DedupConfig,
    nbits: int = 64,
    max_bucket: int = cand.SIMHASH_MAX_BUCKET,
    materialize: bool = False,
) -> DataFrame:
    """Distinct (id1, id2, hamming) with hamming <= config.hamming_radius.

    Block-index join: explode each fingerprint into its blocks, pair docs
    sharing a (block_id, block_key) bucket with
    :func:`candidates.bucket_pairs` (sized by a partial aggregate, salted
    above ``config.max_bucket_size``), verify exact Hamming distance.
    Buckets above max_bucket (degenerate fingerprints, e.g. empty docs)
    are dropped — a documented coverage cap.

    materialize: pin the block table (localCheckpoint) — the size count
    and both join sides re-reference it, re-running the simhash input
    subtree per reference otherwise. Off by default: a cheap or
    already-committed input costs less to re-read than one checkpoint job.
    """
    blocks = sim_table.select(
        "id",
        "simhash",
        F.explode(shash.simhash_blocks(F.col("simhash"), config, nbits)).alias("b"),
    ).select("id", "simhash", "b.block_id", "b.block_key")
    if materialize:
        blocks = blocks.localCheckpoint()
    pairs = cand.bucket_pairs(
        cand.one_channel(blocks, "block_id", "block_key", "simhash"),
        config,
        F.col("n") <= max_bucket,
        carry=("simhash",),
    )
    ham = shash.hamming(F.col("simhash1"), F.col("simhash2"))
    return (
        pairs.select("id1", "id2", ham.alias("hamming"))
        .where(F.col("hamming") <= config.hamming_radius)
        .distinct()
    )


# --- DuckDB oracle (60-bit md5 variant; 4 x 15-bit blocks) ----------------


def sql_hamming_pairs(
    config: DedupConfig,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from entity_deduplication_hack_main_spark.functions.simhash import sql_simhash

    width = 60 // config.simhash_blocks
    mask = (1 << width) - 1
    # _s left-joins back to the doc table: sql_simhash unnests tokens, so
    # zero-token docs vanish from it, while the Spark kernel assigns them
    # simhash 0 and pairs them at Hamming 0 — mirror simhash_fingerprints'
    # coalesce so the pair oracle covers empty-normalized docs too.
    return f"""
WITH _s0 AS ({sql_simhash(doc_table, id_col, text_col)}),
_s AS (
  SELECT d.{id_col} AS id, coalesce(s.simhash, 0)::BIGINT AS simhash
  FROM {doc_table} d LEFT JOIN _s0 s ON d.{id_col} = s.id
),
_blocks AS (
  SELECT id, simhash, b.block_id,
         (simhash >> (b.block_id * {width})) & {mask} AS block_key
  FROM _s CROSS JOIN (FROM range(0, {config.simhash_blocks}) t(block_id)) b
)
SELECT DISTINCT a.id AS id1, b.id AS id2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM _blocks a JOIN _blocks b
  ON a.block_id = b.block_id AND a.block_key = b.block_key AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {config.hamming_radius}
"""
