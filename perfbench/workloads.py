"""The benchmark's workloads and the operations each run times.

Both workloads drive ``run_pipeline`` — the committed-stage production
path that ``run_dedup.py`` uses — on a synthetic corpus made from the
run's seed by ``corpus.synthesize_corpus``. They differ in how many
candidate pairs each document brings:

- ``batch_web``: long pages (``size_mult=4``), 40% near-copies spread
  over many originals, so few pairs per doc and every LSH bucket cold.
- ``batch_hot``: short pages, 24 originals with 31 near-copies each
  (the corpus's wiring sends copy ``d`` to original
  ``d·2654435761 mod 24``, which spreads the copies evenly), and
  ``max_bucket_size`` below the cluster size, so templated-page
  buckets take the salted blocked-cartesian path of
  ``lsh.candidate_pairs``. About 12k candidate pairs for 768 docs.

``traced_op`` calls the layer functions ``run_pipeline`` calls, in its
order and with its arguments, and commits the same stages through
``StageCommitter``. Each stage sits in a span, so its work is forced
inside it. The three candidate channels sit in spans of their own
inside the ``candidates`` span.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import represent
from entity_deduplication_hack_main_spark.operators import cluster as cc
from entity_deduplication_hack_main_spark.operators import hamming as ham
from entity_deduplication_hack_main_spark.operators import lsh, suffix, verify
from entity_deduplication_hack_main_spark.plans.lineage import StageCommitter
from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline
from entity_deduplication_hack_main_spark.sources import corpus

from perfbench.spans import Tracer

#: the spans of one traced pipeline run, in call order
LAYERS = ("represent", "lsh", "hamming", "suffix", "candidates", "verify", "cluster")
#: the spans that partition it; the channel spans nest in ``candidates``
STAGE_SPANS = ("represent", "candidates", "verify", "cluster")

#: the gates on golden pairs. The precision gate catches wholesale
#: over-merging (everything in one cluster scores near 0); it is loose
#: because the pipeline merges a few unrelated originals on some seeds
#: (two pairs sharing no 5-word shingle on ``batch_web`` seed 21,
#: precision 0.993). ``dup_pair_precision`` reports the rest.
MIN_RECALL = 0.99
MIN_PRECISION = 0.9


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_orig: int
    size_mult: int
    config: DedupConfig

    @property
    def dup_fraction(self) -> float:
        return 1.0 - self.n_orig / self.n_docs


WORKLOADS = {
    w.name: w
    for w in (
        Workload("batch_web", n_docs=2000, n_orig=1200, size_mult=4,
                 config=DedupConfig()),
        Workload("batch_hot", n_docs=768, n_orig=24, size_mult=1,
                 config=DedupConfig(max_bucket_size=24, salt_chunk=6)),
    )
}


def make_corpus(spark: SparkSession, wl: Workload, seed: int, path: str) -> int:
    """Synthesize the corpus for ``seed`` and write it as parquet at
    ``path``; returns the UTF-8 byte count of its text."""
    docs = corpus.synthesize_corpus(
        spark, n_docs=wl.n_docs, dup_fraction=wl.dup_fraction, seed=seed,
        size_mult=wl.size_mult,
    ).select("doc_id", "text")
    docs.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select(
        F.sum(F.octet_length("text"))
    ).first()[0]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def untraced_op(
    spark: SparkSession, docs: DataFrame, wl: Workload, workdir: str
) -> tuple[float, StageCommitter]:
    """One production pipeline run; returns its wall time and committer."""
    t0 = time.monotonic()
    res = run_pipeline(spark, docs, wl.config, workdir=workdir, run_id="bench")
    return time.monotonic() - t0, res.committer


def traced_op(
    spark: SparkSession, docs: DataFrame, wl: Workload, workdir: str,
    tr: Tracer,
) -> StageCommitter:
    """The traced twin of ``untraced_op``; returns its committer."""
    cfg = wl.config
    com = StageCommitter(spark, workdir, "traced")

    def build_candidates() -> DataFrame:
        # as in run_pipeline: materialize=True checkpoints each channel's
        # index eagerly, so its banding/blocking work runs inside the
        # channel's span; the pair emission, union and write run in the
        # enclosing ``candidates`` span
        with tr.span("lsh"):
            lsh_pairs = lsh.candidate_pairs(
                lsh.band_hashes(payload, cfg, "signature", "id", "xxhash64"),
                cfg,
                materialize=True,
            ).withColumn("channel", F.lit("minhash_lsh"))
        with tr.span("hamming"):
            sim_pairs = ham.hamming_candidate_pairs(
                payload.select("id", "simhash"), cfg, 64, materialize=True
            ).select("id1", "id2", F.lit("simhash").alias("channel"))
        with tr.span("suffix"):
            win_pairs = suffix.winnow_pairs_from_payload(
                payload, max_df=cfg.winnow_max_df, materialize=True
            ).withColumn("channel", F.lit("winnow"))
        return (
            lsh_pairs.unionByName(sim_pairs)
            .unionByName(win_pairs)
            .groupBy("id1", "id2")
            .agg(F.collect_set("channel").alias("channels"))
        )

    with tr.span("represent"):
        payload = com.stage(
            "payload",
            lambda: represent.with_representation(
                docs, cfg, "doc_id", "text", "xxhash64"
            ),
        )
    with tr.span("candidates"):
        candidates = com.stage("candidates", build_candidates)
    with tr.span("verify"):
        verified = com.stage(
            "verified",
            lambda: verify.verify_pairs_full(candidates, payload, cfg),
        )
        edges = com.stage(
            "edges",
            lambda: verify.duplicate_edges_full(verified, cfg, 0.9),
        )
    with tr.span("cluster"):
        com.stage(
            "assignments",
            lambda: cc.connected_components(
                edges, payload.select("id"), cfg
            ).select(F.col("node").alias("id"), "cluster_id"),
        )
    return com


def stage_rows(com: StageCommitter) -> dict[str, int]:
    return {e["stage"]: int(e["rows"] or 0) for e in com.events}


def channel_pairs(spark: SparkSession, workdir: str) -> dict[str, int]:
    """Distinct candidate pairs each channel found, read from the
    committed ``candidates`` stage's channel sets."""
    cand = spark.read.parquet(os.path.join(workdir, "candidates"))
    row = cand.select(
        *[
            F.sum(F.array_contains("channels", ch).cast("long")).alias(ch)
            for ch in ("minhash_lsh", "simhash", "winnow")
        ]
    ).first()
    return {k: int(v or 0) for k, v in row.asDict().items()}


def salted_buckets(spark: SparkSession, wl: Workload, workdir: str) -> int:
    """LSH buckets above ``max_bucket_size`` — the ones
    ``candidate_pairs`` salts — counted on the committed payload."""
    payload = spark.read.parquet(os.path.join(workdir, "payload"))
    bands = lsh.band_hashes(payload, wl.config, "signature", "id", "xxhash64")
    return (
        bands.groupBy("band_id", "band_hash")
        .count()
        .where(F.col("count") > wl.config.max_bucket_size)
        .count()
    )


@dataclass(frozen=True)
class Score:
    recall: float  # golden dup pairs whose two docs share a cluster
    precision: float  # same-cluster doc pairs that share a golden cluster
    clusters: int


def assignments(spark: SparkSession, workdir: str) -> pd.DataFrame:
    return (
        spark.read.parquet(os.path.join(workdir, "assignments"))
        .select("id", "cluster_id")
        .toPandas()
        .sort_values("id", ignore_index=True)
    )


def _pairs(group_sizes: pd.Series) -> int:
    """Σ n·(n−1)/2 over group sizes: the doc pairs the groups hold."""
    n = group_sizes.to_numpy(dtype=np.int64)
    return int((n * (n - 1) // 2).sum())


def score_assignments(spark: SparkSession, wl: Workload, asn: pd.DataFrame) -> Score:
    """Score a run's assignments (as ``assignments`` reads them) against
    the corpus's wiring, in which every duplicate belongs to its
    original's golden cluster. The tables are a few thousand rows, so
    they are scored on the driver."""
    gp = corpus.golden_pairs(spark, wl.n_docs, wl.dup_fraction).select(
        "original_id", "duplicate_id"
    ).toPandas()
    cluster = asn.set_index("id")["cluster_id"]
    c1 = cluster.reindex(gp["original_id"]).to_numpy()
    c2 = cluster.reindex(gp["duplicate_id"]).to_numpy()
    golden = pd.concat([
        pd.Series(np.arange(wl.n_orig), index=np.arange(wl.n_orig)),
        pd.Series(gp["original_id"].to_numpy(), index=gp["duplicate_id"].to_numpy()),
    ])
    asn = asn.assign(golden=golden.reindex(asn["id"]).to_numpy())
    predicted = _pairs(asn.groupby("cluster_id").size())
    correct = _pairs(asn.groupby(["cluster_id", "golden"]).size())
    return Score(
        recall=float(np.mean(c1 == c2)) if len(gp) else 1.0,
        precision=correct / predicted if predicted else 1.0,
        clusters=int(asn["cluster_id"].nunique()),
    )

