"""End-to-end near-duplicate detection + clustering pipeline.

The Spark rendering of the reference lifecycle (SURVEY.md §3.1,
``Run_Sembedding.py`` → ``dedup_pipeline.py``):

  scan → extract → represent (shingles/MinHash/SimHash/winnow)
       → candidates (LSH bands ∪ Hamming blocks ∪ winnow fingerprints)
       → verify (exact Jaccard / Hamming / containment)
       → cluster (union-find) → (doc, cluster_id)

Three independent recall channels feed one edge set:
- MinHash-LSH: near-dup pairs with Jaccard >= candidate threshold,
- SimHash Hamming <= r: near-exact pairs differing in a few tokens,
- winnowed substring fingerprints: containment pairs (truncation /
  superstring) whose symmetric Jaccard may sit below the LSH threshold.
The candidates stage builds all three from ONE posting table (band keys,
SimHash blocks and winnow fingerprints exploded together) and ONE salted
bucket self-join; a ``groupBy(id1, id2)`` then derives each pair's
``channels`` (operators/candidates.py).

Every stage goes through :class:`StageCommitter` → committed parquet +
per-partition lineage rows + resume (plans/lineage.py): ``payload`` →
``candidates`` → ``verified`` → ``assignments``, from :func:`near_dup_stages`,
which the streaming in-batch channel shares. The edge set is not committed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import represent
from entity_deduplication_hack_main_spark.operators import candidates as cand
from entity_deduplication_hack_main_spark.operators import cluster as cc
from entity_deduplication_hack_main_spark.operators import learned
from entity_deduplication_hack_main_spark.operators import suffix, verify
from entity_deduplication_hack_main_spark.plans.lineage import StageCommitter


@dataclass
class PipelineResult:
    payload: DataFrame       # (id, shingle_set, fp, signature, simhash)
    candidates: DataFrame    # (id1, id2, channels)
    verified: DataFrame      # (id1, id2, jaccard, dup_type, status)
    edges: DataFrame         # (id1, id2) duplicate edges, lazy
    assignments: DataFrame   # (id/node, cluster_id)
    committer: StageCommitter
    # maximal verbatim >= span_k-token runs for span CUTTING (Lee et al.
    # 2021); only when config.substring_span_k is set, else None. Spans do
    # NOT feed the edge set — sharing one quote doesn't merge two docs.
    spans: DataFrame | None = None
    # the corpus with duplicated spans spliced out of the ORIGINAL bytes
    # (id, n_tokens, n_cut, aligned, text_cut) — only when
    # config.substring_cut is also set. Consumes the committed `spans`
    # stage above, so the gram pass runs ONCE per pipeline invocation
    # (r03 verdict #8).
    cut_docs: DataFrame | None = None
    # the shipped corpus: one keep-best representative per cluster with
    # PII masked (id, cluster_id, n_members, n_email, n_ipv4, n_phone,
    # text) — only when run_pipeline(pii_redact=True).
    redacted: DataFrame | None = None
    # docs dropped by holdout decontamination (id, reason in
    # 'exact'|'near'|'ngram') — only when run_pipeline(holdout=...); the
    # committed audit trail of what was removed and why.
    contaminated: DataFrame | None = None


def near_dup_stages(
    payload: DataFrame, config: DedupConfig, stage, nbits: int,
    containment_threshold: float, model: dict | None = None,
    model_min_score: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The near-dup core over ``payload``: candidates → verified → edges →
    assignments (id, cluster_id per payload id). ``stage(name, build)``
    commits or pins each frame but ``edges``, the lazy filter of
    ``verified`` only the union-find reads. A ``model`` (run_pipeline's
    docstring) re-statuses the edge rule's input, not ``verified``."""
    candidates = stage(
        "candidates", lambda: cand.channel_candidates(payload, config, nbits)
    )
    verified = stage(
        "verified", lambda: verify.verify_pairs_full(candidates, payload, config)
    )
    rule_input = verified if model is None else (
        learned.verify_with_learned_threshold(verified, model, model_min_score)
    )
    edges = verify.duplicate_edges_full(rule_input, config, containment_threshold)
    assignments = stage(
        "assignments",
        lambda: cc.connected_components(
            edges, payload.select("id"), config
        ).select(F.col("node").alias("id"), "cluster_id"),
    )
    return candidates, verified, edges, assignments


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    config: DedupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    workdir: str | None = None,
    run_id: str = "run",
    containment_threshold: float = 0.9,
    model: dict | None = None,
    model_min_score: float = 0.5,
    line_dedup_max_doc_freq: int | None = None,
    gopher_filter: bool = False,
    url_dedup_col: str | None = None,
    pii_redact: bool = False,
    holdout: DataFrame | None = None,
    holdout_threshold: float | None = None,
    holdout_ngram_n: int | None = None,
    holdout_ngram_frac: float = 0.7,
) -> PipelineResult:
    """model: optional learned pair classifier (operators/learned.py
    fit_pair_classifier output). When given, the Jaccard leg of the edge
    rule is the LEARNED pass predicate (score >= model_min_score over the
    verified measures — jaccard/hamming/containment are all available as
    features) instead of the fixed threshold; the Hamming and containment
    legs stay. model_min_score typically comes from
    learned.pick_threshold_for_precision (r02 verdict #10).

    line_dedup_max_doc_freq: when set, a committed ``line_dedup``
    pre-stage removes every LINE appearing in more than that many
    distinct documents (the C4/CCNet boilerplate rule) before
    representation, and drops documents left empty. Deliberately NOT the
    keep-first rule here: keep-first would empty exact-copy duplicates
    corpus-wide and erase the very doc-level duplicate signal this
    pipeline exists to find (tested:
    test_pipeline_line_dedup_preserves_recall); with the doc-frequency
    rule a 2-copy duplicate pair keeps its lines while a cookie banner in
    thousands of docs disappears everywhere.

    gopher_filter: when True, a committed ``quality_filter`` pre-stage
    (after line dedup, matching the open-pipeline ordering) drops
    documents failing the published Gopher repetition thresholds — a
    zero-shuffle kernel map (functions/repetition.py gopher_filter).

    url_dedup_col: when set, a committed ``url_dedup`` pre-stage (before
    everything else — it needs no content) keeps one page per canonical
    URL (operators/urldedup.py dedup_by_url; earliest ``warc_ts`` wins
    when present).

    pii_redact: when True, a committed ``pii_redacted`` POST-stage emits
    the corpus a training run would actually ship: one representative
    per cluster (longest text, lowest id on ties — the keep-best rule),
    its text PII-redacted (functions/pii.py, Dolma ordering: masking is
    the LAST transform, after dedup, so fingerprints/signatures were
    computed on the original bytes), plus per-category match counts.
    When span cutting ran (``config.substring_cut``), redaction applies
    to the cut text — the stage composes with, not bypasses, the span
    pass.

    holdout: optional benchmark/eval corpus (same id/text columns) — the
    batch twin of StreamingDedup(holdout=...). A committed
    ``contaminated`` stage flags docs matching the holdout exactly
    (fingerprint), nearly (band collision → exact Jaccard ≥
    holdout_threshold), or — when ``holdout_ngram_n`` is set — by n-gram
    overlap ≥ holdout_ngram_frac (quoted eval spans; GPT-3's n=13,
    PaLM's 0.7). Flagged docs are removed from the payload AND the doc
    stream before candidates, spans, and the shipped output; the flag
    table itself is committed as the audit trail
    (operators/decontaminate.py has the per-channel scale shapes). The
    stage runs AFTER ``payload`` on purpose: the near channel needs the
    representation, and reusing the committed payload avoids recomputing
    it for the exact/near channels; the n-gram channel (when enabled)
    necessarily adds ONE extra tokenize+shingle pass over the corpus at
    shingle_k = n — the price of the quoted-span recall. The flagged set
    is tiny (contamination is rare), so the two anti-join broadcasts are
    map-side."""
    config = config or DedupConfig()
    com = StageCommitter(spark, workdir, run_id)
    nbits = 64 if hash_strategy == "xxhash64" else 60

    if url_dedup_col is not None:
        # cheapest channel first: recrawls/tracking-decorated links drop
        # on the URL alone, before any shingling (operators/urldedup.py)
        from entity_deduplication_hack_main_spark.operators import urldedup

        def build_url_dedup() -> DataFrame:
            ts = "warc_ts" if "warc_ts" in docs.columns else None
            return urldedup.dedup_by_url(docs, id_col, url_dedup_col, ts)

        docs = com.stage("url_dedup", build_url_dedup)

    if line_dedup_max_doc_freq is not None:
        from entity_deduplication_hack_main_spark.operators import linededup

        def build_line_dedup() -> DataFrame:
            cleaned = linededup.dedup_lines(
                docs,
                id_col,
                text_col,
                keep_first=False,
                max_doc_freq=line_dedup_max_doc_freq,
            )
            return cleaned.where(F.col("n_kept") > 0).select(
                F.col("id").alias(id_col),
                F.col("text").alias(text_col),
                "n_lines",
                "n_removed",
            )

        docs = com.stage("line_dedup", build_line_dedup)

    if gopher_filter:
        from entity_deduplication_hack_main_spark.functions import repetition

        def build_quality_filter() -> DataFrame:
            return repetition.gopher_filter(
                docs, id_col, text_col, hash_strategy, config.seed
            )

        docs = com.stage("quality_filter", build_quality_filter)

    def build_payload() -> DataFrame:
        return represent.with_representation(
            docs, config, id_col, text_col, hash_strategy
        )

    payload = com.stage("payload", build_payload)

    contaminated = None
    if holdout is not None:
        from entity_deduplication_hack_main_spark.operators import (
            decontaminate as decon,
        )

        def build_contaminated() -> DataFrame:
            hrep = represent.with_representation(
                holdout, config, id_col, text_col, hash_strategy
            )
            flagged = decon.decontaminate(
                payload,
                hrep,
                config,
                threshold=holdout_threshold,
                broadcast_ref=True,
            ).select(F.col("doc_id").alias("id"), "reason")
            if holdout_ngram_n is not None:
                ng = decon.ngram_overlap_stats(
                    docs.select(id_col, text_col),
                    holdout,
                    config,
                    n=holdout_ngram_n,
                    flag_threshold=holdout_ngram_frac,
                    id_col=id_col,
                    text_col=text_col,
                    hash_strategy=hash_strategy,
                )
                flagged = flagged.unionByName(
                    ng.where("contaminated").select(
                        F.col("doc_id").alias("id"),
                        F.lit("ngram").alias("reason"),
                    )
                )
            # a doc can trip several channels — one row, deterministic
            # reason priority (exact < near < ngram lexicographically)
            return flagged.groupBy("id").agg(F.min("reason").alias("reason"))

        contaminated = com.stage("contaminated", build_contaminated)
        payload = payload.join(
            F.broadcast(contaminated.select("id")), "id", "left_anti"
        )
        docs = docs.join(
            F.broadcast(contaminated.select(F.col("id").alias(id_col))),
            id_col,
            "left_anti",
        )

    candidates, verified, edges, assignments = near_dup_stages(
        payload, config, com.stage, nbits, containment_threshold, model,
        model_min_score,
    )

    spans = None
    cut_docs = None
    if config.substring_span_k is not None:
        spans = com.stage(
            "substring_spans",
            lambda: suffix.substring_spans_exact(
                docs,
                config,
                span_k=config.substring_span_k,
                id_col=id_col,
                text_col=text_col,
                hash_strategy=hash_strategy,
            ),
        )
        if config.substring_cut:
            # consumes the committed spans stage — the gram pass above is
            # NOT recomputed (committer caches/commits its output)
            cut_docs = com.stage(
                "substring_cut",
                lambda: suffix.cut_spans_raw(docs, spans, id_col, text_col),
            )

    redacted = None
    if pii_redact:
        from entity_deduplication_hack_main_spark.functions import pii
        from entity_deduplication_hack_main_spark.operators import (
            cluster as cluster_ops,
        )

        def build_pii_redacted() -> DataFrame:
            # ship-text source: span-cut bytes when the cut stage ran,
            # else the (possibly line-deduped/filtered) input text
            if cut_docs is not None:
                src = cut_docs.select(
                    F.col(id_col).alias("_sid"),
                    F.col("text_cut").alias("_stext"),
                )
            else:
                src = docs.select(
                    F.col(id_col).alias("_sid"),
                    F.col(text_col).alias("_stext"),
                )
            reps = cluster_ops.cluster_representatives(
                assignments.select(F.col("id").alias("node"), "cluster_id"),
                src.withColumn("_len", F.length("_stext")),
                id_col="_sid",
                order_col="_len",
            )
            counts = pii.pii_count_cols(F.col("_stext"))
            return (
                reps.join(src, "_sid")
                .select(
                    F.col("_sid").alias(id_col),
                    "cluster_id",
                    "n_members",
                    *[c.alias(n) for n, c in counts.items()],
                    pii.redact(F.col("_stext")).alias(text_col),
                )
            )

        redacted = com.stage("pii_redacted", build_pii_redacted)

    return PipelineResult(
        payload, candidates, verified, edges, assignments, com, spans,
        cut_docs, redacted, contaminated,
    )
