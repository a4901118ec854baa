"""Candidate pairs for every recall channel: one posting table, one salted
bucket self-join.

All three recall channels are "docs that share a bucket":

- MinHash-LSH: a band of the signature (``kid`` = band id, ``key`` = the
  band key);
- SimHash: a 16-bit block of the fingerprint (pigeonhole: Hamming
  distance <= blocks-1 shares a block), verified with ``bit_count(xor)``;
- winnowing: a winnowed substring fingerprint (``kid`` = 0), kept when the
  pair shares at least two.

So one projection and one ``explode`` over the payload give a posting
table ``(id, simhash, chan, kid, key)``, and :func:`bucket_pairs` turns
any posting table into pairs:

- bucket sizes come from ONE partial-aggregating ``groupBy(chan, kid,
  key).count()`` joined back (r05 verdict #1: a count-window shuffled
  every member of a hot bucket to one reducer before counting; the
  groupBy collapses hot keys map-side). Singleton buckets and buckets over
  a channel's cap drop out in the join-back;
- one self-join on ``(chan, kid, key, ci, cj)``. A bucket of at most
  ``config.max_bucket_size`` members is one chunk (``ci = cj = 0``). A
  larger one is split into ``ceil(n / salt_chunk)`` chunks by a hash of
  the id, and every chunk pair ``ci <= cj`` is its own join key (blocked
  cartesian; the skew split of *DS2*, ICDE 2021), so no task compares more
  than ~salt_chunk² members. The filter ``(ci < cj) OR (id < rid)`` emits
  each unordered pair exactly once per shared posting pair, so the winnow
  channel can count shared fingerprints under salting.

Sizing and chunk assignment are :func:`chunk_members`, the one sizing and
salting convention of every blocked comparison: the embedding block scorer
``knn.embedding_near_dup_pairs`` (behind SemDeDup too) chunks its blocks
with it and scores each chunk pair with one matmul instead of a join.

:func:`channel_candidates` is the pipeline's candidate stage: the
three-channel posting table through one :func:`bucket_pairs`, then one
``groupBy(id1, id2)`` derives the channel flags. Streaming ingest probes
the committed corpus with the same posting table, bucket caps
(:func:`channel_keep`) and flags (:func:`channel_flags`).

Nothing is pinned: the pair plan reads the (committed) payload three
times — sizing and both join sides — which is cheaper than a
``localCheckpoint`` job and leaves no storage behind.
``lsh.candidate_pairs``, ``hamming.hamming_candidate_pairs`` and
``suffix.winnow_pairs_from_payload`` are :func:`bucket_pairs` over a
one-channel posting table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import simhash as shash

LSH, SIMHASH, WINNOW = 0, 1, 2
#: channel names in ``channels`` order
CHANNELS = ("minhash_lsh", "simhash", "winnow")
BUCKET = ["chan", "kid", "key"]
#: SimHash buckets larger than this (degenerate fingerprints, e.g. empty
#: docs) are dropped — a documented coverage cap
SIMHASH_MAX_BUCKET = 10000
#: a winnow pair needs this many shared fingerprints: one is weak evidence
#: (runs of a common token hash identically across unrelated docs)
WINNOW_MIN_SHARED = 2
_POSTING = "array<struct<chan:int,kid:int,key:bigint>>"


def band_key(sig: Column, band: Column, rows: int, hash_fn: str = "xxhash64") -> Column:
    """The bucket key of LSH band *band*: a hash of its *rows* signature
    values. 'xxhash64' gives BIGINT keys (production), 'md5' 32-char hex
    strings (DuckDB-reproducible)."""
    text = F.array_join(
        F.transform(
            F.slice(sig, band * F.lit(rows) + F.lit(1), rows),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    return F.xxhash64(text) if hash_fn == "xxhash64" else F.md5(text)


def one_channel(df: DataFrame, kid: str, key: str, *carry: str) -> DataFrame:
    """A one-channel posting table ``(id, chan, kid, key, *carry)``."""
    return df.select(
        "id",
        F.lit(0).alias("chan"),
        F.col(kid).alias("kid"),
        F.col(key).alias("key"),
        *carry,
    )


def chunk_members(
    postings: DataFrame,
    bucket: Sequence[str],
    max_size: int,
    chunk: int,
    keep: Column | None = None,
) -> DataFrame:
    """*postings* (``id``, *bucket* columns, ...) with the bucket size
    ``n``, its chunk count ``nch`` and the member's chunk ``c``: the one
    sizing and salting convention of every blocked comparison.

    Sizes come from one partial-aggregating ``groupBy(bucket).count()``
    joined back; buckets with ``n < 2`` (and, given *keep*, a predicate on
    ``n``, those it rejects) drop out, and so do NULL keys, which join no
    size row. A bucket of at most *max_size* members is one chunk; a larger
    one splits into ``ceil(n / chunk)`` chunks by ``pmod(xxhash64(id),
    nch)``, so a chunk holds about *chunk* members however hot its bucket
    is."""
    n = F.col("n")
    sized = n >= 2 if keep is None else (n >= 2) & keep
    sizes = postings.groupBy(*bucket).agg(F.count("*").alias("n")).where(sized)
    nch = (
        F.when(n > max_size, F.ceil(n / F.lit(chunk))).otherwise(1).cast("int")
    )
    return (
        postings.join(sizes, list(bucket))
        .withColumn("nch", nch)
        .withColumn("c", F.pmod(F.xxhash64("id"), F.col("nch")).cast("int"))
    )


def bucket_pairs(
    postings: DataFrame,
    config: DedupConfig,
    keep: Column | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """``(id1, id2, chan, <c>1, <c>2 for c in carry)`` with id1 < id2: one
    row per unordered pair of postings that share a bucket (module
    docstring).

    postings: ``(id, chan, kid, key, *carry)``; a doc posted twice to one
    bucket pairs twice with each partner, as the plain self-join would.
    keep: an extra predicate on the bucket size ``n`` (and ``chan``);
    buckets with ``n < 2`` always drop."""
    members = chunk_members(
        postings, BUCKET, config.max_bucket_size, config.salt_chunk, keep
    )
    # member in chunk c plays ci = c against every cj in [c, nch) on the
    # left and cj = c against every ci in [0, c] on the right
    left = members.select(
        *BUCKET, "id", *carry, F.col("c").alias("ci"),
        F.explode(F.sequence(F.col("c"), F.col("nch") - 1)).alias("cj"),
    )
    right = members.select(
        *BUCKET,
        F.col("id").alias("rid"),
        *(F.col(c).alias(f"r_{c}") for c in carry),
        F.col("c").alias("cj"),
        F.explode(F.sequence(F.lit(0), F.col("c"))).alias("ci"),
    )
    # (id1, id2) = (least, greatest); carried columns follow their id
    lo, hi = F.col("id") < F.col("rid"), F.col("id") > F.col("rid")
    return (
        left.join(right, [*BUCKET, "ci", "cj"])
        .where((F.col("ci") < F.col("cj")) | (F.col("id") < F.col("rid")))
        .select(
            F.least("id", "rid").alias("id1"),
            F.greatest("id", "rid").alias("id2"),
            "chan",
            *(
                F.when(first, F.col(c)).otherwise(F.col(f"r_{c}")).alias(f"{c}{k}")
                for c in carry
                for k, first in ((1, lo), (2, hi))
            ),
        )
    )


def _entries(arr: Column, chan: int, kid, key) -> Column:
    """*arr* mapped to posting structs; a NULL *arr* maps to an empty
    array, so it drops only its own postings from the ``concat``."""
    return F.coalesce(
        F.transform(
            arr,
            lambda x: F.struct(
                F.lit(chan).alias("chan"),
                kid(x).cast("int").alias("kid"),
                key(x).alias("key"),
            ),
        ),
        F.array().cast(_POSTING),
    )


def posting_table(
    payload: DataFrame, config: DedupConfig, nbits: int = 64
) -> DataFrame:
    """``(id, simhash, chan, kid, key)``: every LSH band, SimHash block and
    winnow fingerprint of every doc, from one projection and one explode.

    Band keys are the xxhash64 rendering for either hash strategy: a
    bucket depends only on the signature slice."""
    sig, sh = F.col("signature"), F.col("simhash")
    bands = F.when(
        sig.isNotNull(), F.sequence(F.lit(0), F.lit(config.bands - 1))
    )
    blocks = F.when(sh.isNotNull(), shash.simhash_blocks(sh, config, nbits))
    entries = F.concat(
        _entries(
            bands, LSH, lambda b: b,
            lambda b: band_key(sig, b, config.rows_per_band),
        ),
        _entries(blocks, SIMHASH, lambda b: b["block_id"], lambda b: b["block_key"]),
        _entries(F.col("winnow_fps"), WINNOW, lambda _: F.lit(0), lambda f: f),
    )
    return payload.select(
        "id", "simhash", F.explode(entries).alias("p")
    ).select("id", "simhash", "p.chan", "p.kid", "p.key")


def channel_keep(config: DedupConfig) -> Column:
    """The per-channel cap on a bucket's size ``n``: SimHash buckets of at
    most :data:`SIMHASH_MAX_BUCKET` members, winnow fingerprints held by at
    most ``config.winnow_max_df`` docs, LSH buckets uncapped."""
    chan, n = F.col("chan"), F.col("n")
    return (
        F.when(chan == SIMHASH, n <= SIMHASH_MAX_BUCKET)
        .when(chan == WINNOW, n <= config.winnow_max_df)
        .otherwise(True)
    )


def channel_flags(config: DedupConfig, sh1: str, sh2: str) -> list[Column]:
    """Aggregates over one pair's shared postings, named by
    :data:`CHANNELS`: any shared band; a shared SimHash block with the two
    simhashes *sh1*, *sh2* within ``config.hamming_radius``; at least
    :data:`WINNOW_MIN_SHARED` shared winnow fingerprints."""
    chan = F.col("chan")
    near = shash.hamming(F.col(sh1), F.col(sh2)) <= config.hamming_radius
    flags = (
        F.bool_or(chan == LSH),
        F.bool_or((chan == SIMHASH) & near),
        F.count_if(chan == WINNOW) >= WINNOW_MIN_SHARED,
    )
    return [f.alias(c) for f, c in zip(flags, CHANNELS)]


def channel_candidates(
    payload: DataFrame, config: DedupConfig, nbits: int = 64
) -> DataFrame:
    """``(id1, id2, channels)``: every pair found by at least one channel,
    ``channels`` in :data:`CHANNELS` order.

    payload: ``(id, signature, simhash, winnow_fps, ...)`` from the
    representation kernel. Buckets are capped by :func:`channel_keep` and
    pairs flagged by :func:`channel_flags` — the per-channel functions'
    pairs."""
    pairs = bucket_pairs(
        posting_table(payload, config, nbits),
        config,
        channel_keep(config),
        carry=("simhash",),
    )
    flags = pairs.groupBy("id1", "id2").agg(
        *channel_flags(config, "simhash1", "simhash2")
    )
    on = [F.col(c) for c in CHANNELS]
    return flags.where(on[0] | on[1] | on[2]).select(
        "id1",
        "id2",
        F.array_compact(
            F.array(*(F.when(f, F.lit(c)) for f, c in zip(on, CHANNELS)))
        ).alias("channels"),
    )
