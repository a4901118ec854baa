"""End-to-end golden tests: recall gate, extraction byte-identity, resume.

The pytest analog of the reference's golden-standard evaluation notebooks
(SURVEY.md §5): synthetic corpus with labeled variation classes → pipeline →
cluster assignments vs arithmetic golden pairs; the BASELINE.json gates are
dup-pair recall >= 0.99 and byte-identical extracted text per url.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.operators import evaluate, extraction
from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline
from entity_deduplication_hack_main_spark.sources import corpus
from entity_deduplication_hack_main_spark.streaming.ingest import StreamingDedup

N_DOCS = 600
DUP_FRACTION = 0.4


@pytest.fixture(scope="module")
def docs(spark):
    d = corpus.synthesize_corpus(
        spark, n_docs=N_DOCS, dup_fraction=DUP_FRACTION, seed=42
    ).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def result(spark, docs):
    return run_pipeline(spark, docs, DedupConfig())


def test_corpus_deterministic_across_partitionings(spark):
    a = corpus.synthesize_corpus(spark, 100, seed=9, partitions=1)
    b = corpus.synthesize_corpus(spark, 100, seed=9, partitions=7)
    ah = a.select(F.md5(F.concat_ws("|", "url", "text", "lang")).alias("h"))
    bh = b.select(F.md5(F.concat_ws("|", "url", "text", "lang")).alias("h"))
    assert ah.subtract(bh).count() == 0 and bh.subtract(ah).count() == 0


def test_extraction_byte_identical(spark, docs):
    """input_hint invariant: extracted text == stored text, per url."""
    ext = extraction.with_extracted_text(docs)
    bad = ext.where(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0


def test_golden_recall_gate(spark, docs, result):
    golden = corpus.golden_pairs(spark, N_DOCS, DUP_FRACTION)
    recall = evaluate.cluster_recall(result.assignments, golden)
    assert recall >= 0.99, f"dup-pair recall {recall} < 0.99"


def test_recall_per_variation_class(spark, docs, result):
    golden = corpus.golden_pairs(spark, N_DOCS, DUP_FRACTION)
    # pairwise-channel recall per class via cluster agreement
    a1 = result.assignments.select(
        F.col("id").alias("original_id"), F.col("cluster_id").alias("c1")
    )
    a2 = result.assignments.select(
        F.col("id").alias("duplicate_id"), F.col("cluster_id").alias("c2")
    )
    per = (
        golden.join(a1, "original_id")
        .join(a2, "duplicate_id")
        .groupBy("variation_type")
        .agg(F.avg((F.col("c1") == F.col("c2")).cast("double")).alias("r"))
        .collect()
    )
    weak = {r["variation_type"]: r["r"] for r in per if r["r"] < 0.9}
    assert not weak, f"variation classes below 0.9 recall: {weak}"


def test_exact_copies_classified_exact(spark, docs, result):
    """C1: exact_copy dups land in dup_type='exact' pairs."""
    exact = result.verified.where(F.col("dup_type") == "exact")
    assert exact.count() > 0
    assert exact.where(F.col("jaccard") < 1.0).count() == 0


def test_cluster_assignment_consistency(spark, result):
    """Every doc appears exactly once; cluster_id is a member of cluster."""
    asn = result.assignments
    assert asn.count() == asn.select("id").distinct().count() == N_DOCS
    # cluster label must itself be an assigned doc with the same label
    lbl = asn.select(F.col("cluster_id").alias("id2")).distinct()
    roots = asn.join(lbl, asn["id"] == lbl["id2"], "left_semi")
    bad = (
        asn.alias("a")
        .join(asn.alias("b"), F.col("a.cluster_id") == F.col("b.id"))
        .where(F.col("b.cluster_id") != F.col("b.id"))
        .count()
    )
    assert bad == 0, "cluster root not a fixpoint"


def test_pair_metrics_precision(spark, docs, result):
    """Precision of pass edges vs golden clusters (same-cluster ground
    truth). Word-salad corpus → near-dups are all injected, so precision
    should be high."""
    golden_docs = docs.select("doc_id", F.col("cluster_id").alias("gt"))
    e = (
        result.edges.join(
            golden_docs.select(F.col("doc_id").alias("id1"), F.col("gt").alias("g1")),
            "id1",
        )
        .join(
            golden_docs.select(F.col("doc_id").alias("id2"), F.col("gt").alias("g2")),
            "id2",
        )
    )
    total = e.count()
    good = e.where(F.col("g1") == F.col("g2")).count()
    assert total > 0
    assert good / total >= 0.98, f"edge precision {good}/{total}"


def test_resume_skips_committed_stages(spark, docs, tmp_path):
    wd = str(tmp_path / "wd")
    cfg = DedupConfig()
    r1 = run_pipeline(spark, docs.limit(200), cfg, workdir=wd, run_id="a")
    r1.assignments.count()
    assert all(not e["resumed"] for e in r1.committer.events)
    r2 = run_pipeline(spark, docs.limit(200), cfg, workdir=wd, run_id="b")
    n = r2.assignments.count()
    assert all(e["resumed"] for e in r2.committer.events)
    assert n == r1.assignments.count()
    lineage = r2.committer.lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == {"payload", "candidates", "verified", "assignments"}
    # `_total` rows carry the observed counts: each stage's input is the
    # previous stage's output (the uncommitted edges filter sits between
    # verified and assignments); a resumed stage observed nothing
    totals = {
        (r["run_id"], r["stage"]): (r["input_rows"], r["rows"])
        for r in lineage.where(F.col("file") == "_total").collect()
    }
    assert len(totals) == 8
    prev = None
    for e in r1.committer.events:
        assert totals[("a", e["stage"])] == (prev, e["rows"])
        prev = e["rows"]
    assert totals[("a", "assignments")][1] == n
    assert all(
        totals[("b", e["stage"])] == (None, None) for e in r2.committer.events
    )


def test_streaming_batch_keeps_one_doc_per_pipeline_cluster(
    spark, docs, result, tmp_path
):
    """Batch/streaming drift guard at corpus scale: one micro-batch of the
    whole corpus keeps exactly the batch pipeline's cluster
    representatives (each cluster's min id)."""
    sd = StreamingDedup(spark, str(tmp_path / "wd"), id_col="doc_id")
    sd.process_batch(docs, 0)
    kept = spark.read.parquet(sd.out_path).select("doc_id").collect()
    reps = result.assignments.select("cluster_id").distinct().collect()
    assert Counter(r[0] for r in kept) == Counter(r[0] for r in reps)


def test_streaming_two_batches_agree_with_pipeline_edges(
    spark, docs, result, tmp_path
):
    """Cross-batch drift guard: the corpus streamed as two micro-batches
    (the lower and upper half of the ids) keeps no doc with a pipeline
    edge to a kept doc of the other batch, and drops only docs with at
    least one pipeline edge. A split by ``doc_id % 2`` would test nothing
    here: a near-copy's original is ``(id * corpus._KNUTH) % n_orig``, an
    even ``n_orig`` keeps the copy's parity, so both land in one batch."""
    half = N_DOCS // 2
    sd = StreamingDedup(spark, str(tmp_path / "wd"), id_col="doc_id")
    sd.process_batch(docs.where(F.col("doc_id") < half), 0)
    sd.process_batch(docs.where(F.col("doc_id") >= half), 1)
    out = spark.read.parquet(sd.out_path)
    kept = {r[0] for r in out.select("doc_id").collect()}
    edges = [tuple(r) for r in result.edges.collect()]
    split = [(a, b) for a, b in edges if (a < half) != (b < half)]
    assert split  # the corpus decision has pairs to decide
    assert [(a, b) for a, b in split if a in kept and b in kept] == []
    linked = {i for e in edges for i in e}
    all_ids = {r[0] for r in docs.select("doc_id").collect()}
    assert all_ids - kept <= linked


def _lineage_rows(com):
    return sorted(
        (tuple(r) for r in com.lineage().drop("committed_at").collect()),
        key=lambda t: (t[0], t[1], t[2]),
    )


def test_lineage_write_starts_no_spark_job(spark, tmp_path):
    """A lineage record is serialized on the driver and written through the
    Hadoop FileSystem: committing it runs no Spark job."""
    from entity_deduplication_hack_main_spark.plans.lineage import StageCommitter

    wd = str(tmp_path / "wd")
    StageCommitter(spark, wd).stage("s", lambda: spark.range(10).repartition(2))
    com = StageCommitter(spark, wd, run_id="w")
    com._prev_rows = 10
    files = com._list_files("s")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        # control: the group does see a job run under it
        sc.setJobGroup("lineage-control", "control")
        spark.range(3).count()
        assert tracker.getJobIdsForGroup("lineage-control")
        sc.setJobGroup("lineage-write", "one lineage record")
        com._write_lineage("s", 10, 12, False)
        assert tracker.getJobIdsForGroup("lineage-write") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    rows = [r for r in _lineage_rows(com) if r[0] == "w"]
    total = sum(sz for _, sz in files)
    assert rows == [("w", "s", "_total", 10, 10, total, 12, False)] + [
        ("w", "s", f, None, None, sz, 12, False) for f, sz in files
    ]


def test_stage_labels_its_jobs_and_restores_caller(spark, tmp_path):
    """Jobs of a stage's build and write run under the description
    ``<run_id>/<stage>``; the caller's description and job group are
    unchanged afterwards, committed or not."""
    from entity_deduplication_hack_main_spark.plans.lineage import StageCommitter

    sc = spark.sparkContext
    seen = []

    def build():
        seen.append(sc.getLocalProperty("spark.job.description"))
        return spark.range(3)

    try:
        sc.setJobGroup("caller-group", "caller")
        for wd in (str(tmp_path / "wd"), None):
            StageCommitter(spark, wd, run_id="r").stage("s", build)
            assert sc.getLocalProperty("spark.job.description") == "caller"
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == ["r/s", "r/s"]


def test_lineage_reads_legacy_spark_written_files(spark, tmp_path):
    """A workdir committed by the older Spark-job writer (INT96
    `committed_at`) resumes next to driver-written files: every row reads
    back with LINEAGE_SCHEMA's types."""
    import datetime
    import glob

    import pyarrow.parquet as pq

    from entity_deduplication_hack_main_spark.plans.lineage import (
        LINEAGE_SCHEMA,
        StageCommitter,
    )

    wd = tmp_path / "wd"
    legacy = [
        ("old", "payload", "part-0.parquet", None, None, 100, 5, False),
        ("old", "payload", "_total", None, 3, 100, 5, False),
    ]
    spark.createDataFrame(
        legacy,
        "run_id string, stage string, file string, input_rows bigint, "
        "rows bigint, bytes bigint, wall_ms bigint, resumed boolean",
    ).withColumn("committed_at", F.current_timestamp()).coalesce(1).write.mode(
        "append"
    ).parquet(str(wd / "_lineage"))
    (old_file,) = glob.glob(str(wd / "_lineage" / "*.parquet"))
    ts = pq.ParquetFile(old_file).schema.column(8)
    assert ts.physical_type == "INT96"

    com = StageCommitter(spark, str(wd), run_id="new")
    com._prev_rows = 3
    com._write_lineage("candidates", 4, 6, True)
    df = com.lineage()
    assert df.schema == LINEAGE_SCHEMA
    assert _lineage_rows(com) == [
        ("new", "candidates", "_total", 3, 4, 0, 6, True),
        ("old", "payload", "_total", None, 3, 100, 5, False),
        ("old", "payload", "part-0.parquet", None, None, 100, 5, False),
    ]
    stamps = [r["committed_at"] for r in df.collect()]
    assert all(isinstance(t, datetime.datetime) for t in stamps)


def test_pipeline_substring_span_stage(spark):
    """config.substring_span_k turns on the span-cutting stage: a planted
    verbatim 25-token run between two otherwise-different docs is reported
    with exact offsets, and does NOT merge the docs into one cluster."""
    from dataclasses import replace

    run = " ".join(f"quoted{i}" for i in range(25))
    filler_a = " ".join(f"alpha{i}" for i in range(80))
    filler_b = " ".join(f"beta{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, filler_a + " " + run), (1, run + " " + filler_b)],
        "doc_id bigint, text string",
    )
    cfg = replace(DedupConfig(), substring_span_k=20)
    res = run_pipeline(spark, docs, cfg)
    spans = res.spans.collect()
    assert [(r["id1"], r["id2"], r["start1"], r["start2"], r["span_len"])
            for r in spans] == [(0, 1, 80, 0, 25)]
    # one shared quote must not cluster the two long docs together
    asn = {r["id"]: r["cluster_id"] for r in res.assignments.collect()}
    assert asn[0] != asn[1]


def test_pipeline_spans_none_when_disabled(spark):
    docs = spark.createDataFrame(
        [(0, "one doc only here")], "doc_id bigint, text string"
    )
    res = run_pipeline(spark, docs, DedupConfig())
    assert res.spans is None and res.cut_docs is None


def test_pipeline_cut_stage_committed_and_resumable(spark, tmp_path):
    """r03 verdict #8: with substring_cut on, ONE pipeline invocation
    yields both spans and RAW-byte cut docs from a single gram pass, the
    stage is committed, and a re-run with the same workdir resumes it."""
    from dataclasses import replace

    run = " ".join(f"quoted{i}" for i in range(25))
    filler_a = " ".join(f"alpha{i}" for i in range(80))
    filler_b = " ".join(f"beta{i}" for i in range(80))
    doc1_text = "Intro! " + run + " " + filler_b
    docs = spark.createDataFrame(
        [(0, filler_a + " " + run), (1, doc1_text)],
        "doc_id bigint, text string",
    )
    cfg = replace(DedupConfig(), substring_span_k=20, substring_cut=True)
    wd = str(tmp_path / "wd")
    r1 = run_pipeline(spark, docs, cfg, workdir=wd, run_id="a")
    cut = {r["id"]: r for r in r1.cut_docs.collect()}
    # higher-id doc loses the quoted run from its ORIGINAL bytes
    assert cut[1]["n_cut"] == 25 and cut[1]["aligned"]
    assert cut[1]["text_cut"] == "Intro! " + filler_b
    assert cut[0]["n_cut"] == 0
    stage_names = [e["stage"] for e in r1.committer.events]
    assert "substring_spans" in stage_names and "substring_cut" in stage_names
    r2 = run_pipeline(spark, docs, cfg, workdir=wd, run_id="b")
    assert all(e["resumed"] for e in r2.committer.events)
    assert {r["id"]: r["text_cut"] for r in r2.cut_docs.collect()} == {
        i: r["text_cut"] for i, r in cut.items()
    }


def test_spark_submit_py_files_ship_contract(tmp_path):
    """The north-rule ship contract, literally: zip the package, run
    run_dedup.py under ``spark-submit --py-files <zip>`` in a FRESH JVM
    whose only copy of the package is the zip (the driver script is copied
    to tmp_path so its sys.path insert points away from the repo), then
    re-run with the same workdir and require every stage to resume from
    its committed checkpoint."""
    import json
    import os
    import shutil
    import subprocess
    import zipfile

    import duckdb

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "entity_deduplication_hack_main_spark")
    zpath = tmp_path / "spark_dedup.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    shutil.copy(os.path.join(repo, "run_dedup.py"), tmp_path / "run_dedup.py")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zpath),
        str(tmp_path / "run_dedup.py"),
        "--synthetic", "300",
        "--output", str(tmp_path / "out"),
        "--workdir", str(tmp_path / "wd"),
    ]

    def run():
        p = subprocess.run(
            cmd, cwd=tmp_path, env=env, capture_output=True, text=True,
            timeout=420,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        summary = [
            ln for ln in p.stdout.splitlines() if ln.startswith('{"run_id"')
        ]
        assert summary, p.stdout[-2000:]
        return json.loads(summary[-1])

    first = run()
    assert first["docs"] == 300
    assert first["clusters"] > 0
    assert all(not s["resumed"] for s in first["stages"])
    con = duckdb.connect()
    n, k = con.sql(
        f"SELECT count(*), count(DISTINCT cluster_id) "
        f"FROM read_parquet('{tmp_path}/out/*.parquet')"
    ).fetchone()
    assert n == 300 and k == first["clusters"]

    second = run()  # same workdir: every stage must resume, same output
    assert all(s["resumed"] for s in second["stages"])
    assert second["clusters"] == first["clusters"]


def test_pipeline_pii_redact_stage_ships_masked_representatives(
    spark, tmp_path
):
    """pii_redact=True emits one keep-best (longest text) representative
    per cluster with PII masked, as a committed resumable stage."""
    base = " ".join(f"tok{i}" for i in range(60))
    dup_long = base + " email me at alice@example.com today"
    uniq = (
        " ".join(f"other{i}" for i in range(40))
        + " server 10.1.2.3 call (415) 555-0123"
    )
    docs = spark.createDataFrame(
        [(0, base), (1, dup_long), (2, uniq)],
        "doc_id bigint, text string",
    )
    wd = str(tmp_path / "wd")
    r1 = run_pipeline(
        spark, docs, DedupConfig(), workdir=wd, run_id="a", pii_redact=True
    )
    rows = {r["doc_id"]: r for r in r1.redacted.collect()}
    # 2 clusters: {0,1} and {2}; representative of the dup cluster is the
    # LONGER doc 1, and the whole-corpus membership is accounted for
    assert set(rows) == {1, 2}
    assert rows[1]["n_members"] == 2 and rows[2]["n_members"] == 1
    # masking is the last transform: placeholders in, raw PII out
    assert "<EMAIL>" in rows[1]["text"] and "@" not in rows[1]["text"]
    assert rows[1]["n_email"] == 1
    assert "<IP>" in rows[2]["text"] and "<PHONE>" in rows[2]["text"]
    assert rows[2]["n_ipv4"] == 1 and rows[2]["n_phone"] == 1
    assert rows[1]["text"].startswith(base)  # non-PII bytes untouched
    # resumable: a second run with the same workdir replays the commit
    r2 = run_pipeline(
        spark, docs, DedupConfig(), workdir=wd, run_id="a", pii_redact=True
    )
    assert {tuple(r) for r in r2.redacted.collect()} == {
        tuple(r) for r in r1.redacted.collect()
    }
    assert any(
        e["stage"] == "pii_redacted" and e["resumed"]
        for e in r2.committer.events
    )


def test_pipeline_holdout_decontamination_stage(spark, tmp_path):
    """run_pipeline(holdout=...) — the batch twin of the streaming gate:
    an exact copy, a near copy, and a doc QUOTING a 15-token eval span
    are all removed before candidates/assignments (reasons committed in
    the audit table); clean docs still dedup normally."""
    cfg = DedupConfig(shingle_k=3, num_perms=32, bands=8, rows_per_band=4)
    eval1 = " ".join(f"bench{i}" for i in range(60))
    eval2 = " ".join(f"exam{i}" for i in range(40))
    near = eval1.replace("bench30", "CHANGED")
    quote15 = " ".join(f"exam{i}" for i in range(15))
    filler = lambda tag, m: " ".join(f"{tag}{i}" for i in range(m))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, eval1),                                        # exact
            (2, near),                                         # near
            (3, f"{filler('aa', 90)} {quote15} {filler('ab', 95)}"),  # ngram
            (4, filler("cc", 60)),                             # clean
            (5, filler("dd", 60)),                             # clean dup pair
            (6, filler("dd", 60) + " tail"),                   # ~dup of 5
        ],
        "doc_id long, text string",
    )
    holdout = spark.createDataFrame(
        [(100, eval1), (101, eval2)], "doc_id long, text string"
    )
    res = run_pipeline(
        spark, docs, cfg,
        workdir=str(tmp_path / "wd"),
        # frac 0.01 ~ GPT-3's any-13-gram-hit rule on 200-token docs
        holdout=holdout, holdout_ngram_n=13, holdout_ngram_frac=0.01,
    )
    got = {r["id"]: r["reason"] for r in res.contaminated.collect()}
    assert got == {1: "exact", 2: "near", 3: "ngram"}
    asn = {r["id"]: r["cluster_id"] for r in res.assignments.collect()}
    assert set(asn) == {4, 5, 6}
    assert asn[5] == asn[6] != asn[4]
    # no contaminated doc leaked into any downstream stage
    assert res.payload.where(F.col("id").isin(1, 2, 3)).count() == 0
    assert (
        res.candidates.where(
            F.col("id1").isin(1, 2, 3) | F.col("id2").isin(1, 2, 3)
        ).count()
        == 0
    )


def test_pipeline_no_holdout_has_no_contaminated_stage(result):
    assert result.contaminated is None


def test_pipeline_holdout_stage_resumes(spark, tmp_path):
    """The contaminated stage is a committed stage like any other: a
    second run with the same workdir resumes it (flag table read from
    parquet, not recomputed) and yields identical assignments."""
    cfg = DedupConfig(shingle_k=3, num_perms=32, bands=8, rows_per_band=4)
    eval1 = " ".join(f"bench{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, eval1), (4, " ".join(f"cc{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    holdout = spark.createDataFrame([(100, eval1)], "doc_id long, text string")
    wd = str(tmp_path / "wd")
    r1 = run_pipeline(spark, docs, cfg, workdir=wd, run_id="a", holdout=holdout)
    a1 = sorted(map(tuple, r1.assignments.collect()))
    assert not any(e["resumed"] for e in r1.committer.events)
    r2 = run_pipeline(spark, docs, cfg, workdir=wd, run_id="b", holdout=holdout)
    assert all(e["resumed"] for e in r2.committer.events)
    assert {e["stage"] for e in r2.committer.events} >= {"contaminated"}
    assert sorted(map(tuple, r2.assignments.collect())) == a1
    assert {r["id"] for r in r2.contaminated.collect()} == {1}
