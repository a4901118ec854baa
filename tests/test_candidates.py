"""The pipeline's candidate stage (operators/candidates.py): one posting
table, one salted bucket self-join, channel flags per pair.

A hand-built payload, no corpus. Every case is checked cold (one chunk
per bucket) and salted, against a per-bucket brute-force reference and
against the union of the three per-channel functions."""

from __future__ import annotations

import dataclasses
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import candidates as cand
from entity_deduplication_hack_main_spark.operators import hamming as ham
from entity_deduplication_hack_main_spark.operators import lsh, suffix

ROWS = 4
BASE = DedupConfig(num_perms=8, bands=2, rows_per_band=ROWS, winnow_max_df=6)
SIM_CAP = 4  # SimHash bucket cap for this payload (module default 10000)
SPREAD = 0x0001_0001_0001_0001  # id in every 16-bit block: no shared block


def _sig(i: int, band0: int | None = None, band1: int | None = None) -> list:
    """Signature values unique to doc *i*, except a band given a shared
    seed."""
    return [
        (seed * 10 if seed else i * 100 + 50 * b) + j
        for b, seed in enumerate((band0, band1))
        for j in range(ROWS)
    ]


def _doc(i: int, band0=None, band1=None, sh=None, fps=()) -> tuple:
    sh = SPREAD * i if sh is None else sh
    return (i, _sig(i, band0, band1), sh, [i * 1000, *fps])


SH = 0x1234_5678_9ABC_DEF0
PAYLOAD = [
    # one hot LSH bucket: 8 docs share band 0 (salted at max_bucket_size 3)
    *(_doc(i, band0=7) for i in range(1, 9)),
    # SimHash-only pair: distance 3, three shared blocks
    _doc(20, sh=SH), _doc(21, sh=SH ^ 0b111),
    # winnow-only pair: two shared fingerprints
    _doc(22, fps=(5, 6)), _doc(23, fps=(5, 6)),
    # SimHash block collision at distance 16 > radius: not a candidate
    _doc(24, sh=SH + 1), _doc(25, sh=(SH + 1) ^ (0xFFFF << 16)),
    # SimHash buckets over the cap: 5 identical fingerprints, no pair
    *(_doc(i, sh=-7) for i in range(30, 35)),
    # fingerprint 9 in 7 docs > winnow_max_df: (40, 41) keeps only fp 8
    _doc(40, fps=(8, 9)), _doc(41, fps=(8, 9)),
    *(_doc(i, fps=(9,)) for i in range(42, 47)),
    # salted winnow buckets (5 and 4 members > 3): (10, 11) shares fps 1,
    # 2 and 3; every other pair in them shares exactly one
    _doc(10, fps=(1, 2, 3)), _doc(11, fps=(1, 2, 3)),
    *(_doc(i, fps=(1,)) for i in (12, 13, 14)),
    _doc(15, fps=(3,)), _doc(16, fps=(3,)),
    # NULL winnow_fps drops only its own postings: (50, 51) via LSH band 1
    (50, _sig(50, band1=3), SPREAD * 50, None), _doc(51, band1=3),
    # all three channels
    _doc(60, band1=4, sh=SH - (1 << 63), fps=(70, 71)),
    _doc(61, band1=4, sh=(SH - (1 << 63)) ^ 1, fps=(70, 71)),
]


def _payload(spark):
    return spark.createDataFrame(
        PAYLOAD,
        "id bigint, signature array<bigint>, simhash bigint, "
        "winnow_fps array<bigint>",
    )


def _reference(cfg: DedupConfig) -> Counter:
    """Buckets in plain Python, then every member pair of every bucket."""
    width, mask = 64 // cfg.simhash_blocks, (1 << 64 // cfg.simhash_blocks) - 1
    buckets, sims = defaultdict(list), {}
    for i, sig, sh, fps in PAYLOAD:
        sims[i] = sh
        for b in range(cfg.bands):
            buckets[(cand.LSH, b, tuple(sig[b * ROWS:(b + 1) * ROWS]))].append(i)
        for b in range(cfg.simhash_blocks):
            key = ((sh & (2**64 - 1)) >> (b * width)) & mask
            buckets[(cand.SIMHASH, b, key)].append(i)
        for f in fps or ():
            buckets[(cand.WINNOW, 0, f)].append(i)
    cap = {
        cand.LSH: len(PAYLOAD),
        cand.SIMHASH: SIM_CAP,
        cand.WINNOW: cfg.winnow_max_df,
    }
    shared = Counter()
    for (chan, _, _), members in buckets.items():
        if len(members) > cap[chan]:
            continue
        for a, b in combinations(sorted(members), 2):
            dist = bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1")
            if chan != cand.SIMHASH or dist <= cfg.hamming_radius:
                shared[(a, b, chan)] += 1
    need = {cand.LSH: 1, cand.SIMHASH: 1, cand.WINNOW: cand.WINNOW_MIN_SHARED}
    out = Counter()
    for a, b in {(a, b) for a, b, _ in shared}:
        chans = tuple(
            name
            for c, name in enumerate(cand.CHANNELS)
            if shared[(a, b, c)] >= need[c]
        )
        if chans:
            out[(a, b, chans)] += 1
    return out


@pytest.fixture(params=[10_000, 3], ids=["cold", "salted"])
def cfg(request, monkeypatch):
    monkeypatch.setattr(cand, "SIMHASH_MAX_BUCKET", SIM_CAP)
    return dataclasses.replace(BASE, max_bucket_size=request.param, salt_chunk=2)


def test_channel_candidates_match_reference(spark, cfg):
    got = Counter(
        (r.id1, r.id2, tuple(r.channels))
        for r in cand.channel_candidates(_payload(spark), cfg).collect()
    )
    ref = _reference(cfg)
    assert got == ref
    # the cases the payload is built for
    pairs = {(a, b): c for a, b, c in ref}
    assert len([p for p in pairs if p[1] <= 8]) == 28
    assert pairs[(20, 21)] == ("simhash",)
    assert pairs[(22, 23)] == ("winnow",)
    assert pairs[(10, 11)] == ("winnow",)
    assert pairs[(50, 51)] == ("minhash_lsh",)
    assert pairs[(60, 61)] == cand.CHANNELS
    for gone in [(24, 25), (30, 31), (40, 41), (10, 12), (12, 13), (10, 15)]:
        assert gone not in pairs


def test_channel_candidates_match_channel_functions(spark, cfg):
    p = _payload(spark)
    bands = lsh.band_hashes(p, cfg, "signature", "id", "xxhash64")
    per_channel = [
        lsh.candidate_pairs(bands, cfg),
        ham.hamming_candidate_pairs(
            p.select("id", "simhash"), cfg, max_bucket=SIM_CAP
        ),
        suffix.winnow_pairs_from_payload(p, max_df=cfg.winnow_max_df),
    ]
    found = [Counter((r.id1, r.id2) for r in df.collect()) for df in per_channel]
    assert all(max(c.values()) == 1 for c in found)  # each distinct
    union = Counter(
        (a, b, tuple(n for n, f in zip(cand.CHANNELS, found) if (a, b) in f))
        for a, b in set().union(*found)
    )
    got = Counter(
        (r.id1, r.id2, tuple(r.channels))
        for r in cand.channel_candidates(p, cfg).collect()
    )
    assert got == union


def test_bucket_pairs_once_per_shared_posting(spark):
    """Under salting each unordered pair comes out once per shared bucket,
    never twice from a same-chunk block."""
    rows = [(i, b) for i in range(40) for b in range(3)]
    postings = cand.one_channel(
        spark.createDataFrame(rows, "id bigint, b int"), "b", "b"
    )
    for mbs in (1000, 5):
        got = Counter(
            (r.id1, r.id2)
            for r in cand.bucket_pairs(
                postings, DedupConfig(max_bucket_size=mbs, salt_chunk=4)
            ).collect()
        )
        assert got == Counter({p: 3 for p in combinations(range(40), 2)})


def test_pipeline_candidates_plan_has_no_union_or_pin(spark, tmp_path):
    """One posting table, one self-join, nothing checkpointed: over a
    committed (parquet) payload, as in run_pipeline, the plan holds no
    Union and no checkpoint scan (Scan ExistingRDD)."""
    _payload(spark).write.parquet(str(tmp_path / "payload"))
    payload = spark.read.parquet(str(tmp_path / "payload"))
    plan = (
        cand.channel_candidates(payload, BASE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" not in plan
    assert "Scan ExistingRDD" not in plan
