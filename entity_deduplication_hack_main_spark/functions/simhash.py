"""Batched SimHash fingerprints — second recall channel.

Reference parity: the reference reaches near-duplicates through dense cosine
similarity (``similarity_utils.py:9-20``); SimHash is the hash-space analog —
a 64-bit fingerprint whose Hamming distance tracks cosine distance of the
token multiset. Candidates come from a block index (4 x 16-bit keys: any two
docs within Hamming distance 3 share at least one of 4 blocks, pigeonhole),
verified with ``bit_count(xor) <= r``.

The fingerprint itself is computed by the representation kernel
(functions/represent.py); this module holds the block index, the Hamming
distance and the DuckDB oracle. The oracle variant uses 60-bit md5-derived
token hashes so DuckDB reproduces the exact fingerprint integers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import hashes, textnorm


def simhash_blocks(fp_col: Column, config: DedupConfig, nbits: int = 64) -> Column:
    """array<struct<block_id int, block_key bigint>> for the Hamming index.

    Splits the fingerprint into ``config.simhash_blocks`` equal bit blocks;
    docs within Hamming distance <= blocks-1 share >= one block key.
    """
    width = nbits // config.simhash_blocks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftrightunsigned(fp_col, i * width)
                .bitwiseAND(F.lit(mask).cast("bigint"))
                .alias("block_key"),
            )
            for i in range(config.simhash_blocks)
        ]
    )


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# --- DuckDB oracle (60-bit md5 variant) ----------------------------------


def sql_simhash(
    doc_table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB SELECT producing (id, simhash) identical to the md5-strategy
    Spark path (nbits=60)."""
    toks = textnorm.sql_tokens(textnorm.sql_normalize(text_col))
    h = hashes.sql_md5_long("t.tok")
    return f"""
WITH _toks AS (
  SELECT {id_col} AS id, unnest({toks}) AS tok FROM {doc_table}
),
_h AS (SELECT id, {h} AS h FROM _toks t),
_bits AS (
  SELECT id, j.j,
         sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM _h CROSS JOIN (FROM range(0, 60) t(j)) j
  GROUP BY id, j.j
)
SELECT id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM _bits GROUP BY id
"""
