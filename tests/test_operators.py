"""Operator-level tests: clustering, LSH salting equivalence, top-k, kNN,
evaluation metrics, similarity scalar functions."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import similarity as simfn
from entity_deduplication_hack_main_spark.operators import (
    cluster,
    evaluate,
    knn,
    learned,
    lsh,
    suffix,
    topk,
)


def test_connected_components_chain_and_isolated(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 bigint, id2 bigint"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id bigint")
    out = {
        r["node"]: r["cluster_id"]
        for r in cluster.connected_components(edges, verts).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain_converges(spark):
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id1 bigint, id2 bigint"
    )
    out = cluster.connected_components(edges, config=DedupConfig())
    assert out.where(F.col("cluster_id") != 0).count() == 0
    assert out.count() == n + 1


def _labels(df):
    return Counter((r["node"], r["cluster_id"]) for r in df.collect())


def test_connected_components_string_ids(spark):
    edges = spark.createDataFrame(
        [("url:b", "url:a"), ("url:b", "url:c"), ("url:x", "url:y")],
        "id1 string, id2 string",
    )
    out = cluster.connected_components(edges)
    assert out.schema.simpleString() == "struct<node:string,cluster_id:string>"
    assert _labels(out) == Counter(
        {("url:a", "url:a"): 1, ("url:b", "url:a"): 1, ("url:c", "url:a"): 1,
         ("url:x", "url:x"): 1, ("url:y", "url:x"): 1}
    )


def test_connected_components_string_ids_with_universe(spark):
    edges = spark.createDataFrame(
        [("url:b", "url:a"), ("url:c", "url:b")], "id1 string, id2 string"
    )
    verts = spark.createDataFrame(
        [("url:a",), ("url:b",), ("url:c",), ("url:z",), ("url:z",)], "id string"
    )
    out = cluster.connected_components(edges, verts)
    assert _labels(out) == Counter(
        {("url:a", "url:a"): 1, ("url:b", "url:a"): 1, ("url:c", "url:a"): 1,
         ("url:z", "url:z"): 1}
    )


def test_connected_components_string_ids_no_edges(spark):
    edges = spark.createDataFrame([], "id1 string, id2 string")
    out = cluster.connected_components(edges)
    assert out.schema.simpleString() == "struct<node:string,cluster_id:string>"
    assert out.count() == 0
    verts = spark.createDataFrame([("u1",), ("u2",)], "id string")
    assert _labels(cluster.connected_components(edges, verts)) == Counter(
        {("u1", "u1"): 1, ("u2", "u2"): 1}
    )


def test_salted_pairs_equal_unsalted(spark):
    """Salting is a physical rewrite: the pair set must be identical."""
    import random

    random.seed(5)
    rows = [(i, 0, f"h{random.randrange(3)}") for i in range(300)]
    bands = spark.createDataFrame(rows, "id bigint, band_id int, band_hash string")
    cfg_plain = DedupConfig(max_bucket_size=10_000)
    cfg_salted = DedupConfig(max_bucket_size=20, salt_chunk=16)
    plain = Counter(
        (r["id1"], r["id2"])
        for r in lsh.candidate_pairs(bands, cfg_plain).collect()
    )
    salted = Counter(
        (r["id1"], r["id2"])
        for r in lsh.candidate_pairs(bands, cfg_salted).collect()
    )
    assert plain == salted and len(plain) > 0


def test_top_k_matches_reference_semantics(spark):
    """J2: k best per probe, >= threshold, deterministic ties."""
    pairs = spark.createDataFrame(
        [
            (1, 100, 0.9), (2, 100, 0.8), (3, 100, 0.8), (4, 100, 0.4),
            (1, 200, 0.95),
        ],
        "id1 bigint, id2 bigint, score double",
    )
    out = topk.top_k_matches(pairs, "id2", "score", k=2, threshold=0.5)
    got = {(r["id1"], r["id2"], r["rank"]) for r in out.collect()}
    assert got == {(1, 100, 1), (2, 100, 2), (1, 200, 1)}


def test_brute_force_knn_exact(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    probes = vecs.where(F.col("vec_id") == 1)
    out = knn.brute_force_knn(probes, vecs, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_lsh_knn_recall_vs_bruteforce(spark, sf001):
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") % 25 == 0)
    exact = knn.brute_force_knn(probes, emb, k=3)
    approx = knn.lsh_bucketed_knn(probes, emb, dim=64, k=3, n_planes=6)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"ANN recall {recall} suspiciously low"


def test_embedding_near_dup_lsh_recall(spark):
    """Production near-dup channel (hyperplane buckets, no label column):
    recall >= 0.95 vs exact all-pairs (one block) on clustered vectors,
    and zero false positives (candidates are exact-cosine verified)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((150, 32))
    rows, vid = [], 0
    for i in range(150):
        rows.append((vid, base[i].tolist()))
        vid += 1
        noise = rng.standard_normal(32) * 0.12  # cosine ~0.99 vs base
        rows.append((vid, (base[i] + noise).tolist()))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = knn.embedding_near_dup_pairs(
        df.withColumn("label", F.lit(0)), threshold=0.9
    )
    got = knn.embedding_near_dup_lsh(df, dim=32, threshold=0.9)
    e = {(r["id1"], r["id2"]) for r in exact.collect()}
    g = {(r["id1"], r["id2"]) for r in got.collect()}
    assert len(e) >= 140  # the planted pairs are really there
    assert g <= e, "LSH path produced a pair the exact path rejects"
    recall = len(g & e) / len(e)
    assert recall >= 0.95, f"near-dup LSH recall {recall}"


def test_s_curve_meets_recall_gate():
    """Default band config must give P(candidate) >= 0.999 at the verify
    threshold (north_rule recall 0.99 with margin), while staying steep:
    low candidate probability for clearly-distinct pairs."""
    cfg = DedupConfig()
    assert lsh.candidate_probability(cfg.jaccard_similar, cfg) >= 0.999
    assert lsh.candidate_probability(0.9, cfg) >= 0.999999
    assert lsh.candidate_probability(0.2, cfg) <= 0.06


def test_learned_classifier_recovers_linear_boundary(spark):
    """IRLS fit recovers a known linear decision rule; apply side is a pure
    JVM expression (no Python in the scoring plan)."""
    import numpy as np

    rng = np.random.default_rng(5)
    j = rng.uniform(0, 1, 4000)
    h = rng.uniform(0, 1, 4000)
    y = (0.7 * j + 0.3 * h > 0.5).astype(int)
    df = spark.createDataFrame(
        [(float(a), float(b), int(c)) for a, b, c in zip(j, h, y)],
        "jaccard double, hamming_sim double, label int",
    )
    model = learned.fit_pair_classifier(df, ["jaccard", "hamming_sim"])
    scored = df.withColumn("pred", learned.classifier_pass(model).cast("int"))
    acc = scored.where(F.col("pred") == F.col("label")).count() / 4000
    assert acc >= 0.98, f"learned boundary accuracy {acc}"
    assert "BatchEvalPython" not in scored._jdf.queryExecution().executedPlan().toString()


def test_learned_threshold_matches_fixed_rule_f1(spark):
    """J5 analog end-to-end on the synthetic golden corpus: learn the
    verify threshold from labeled candidates; F1 must not fall below the
    hand-tuned fixed-threshold rule."""
    from entity_deduplication_hack_main_spark.functions import represent
    from entity_deduplication_hack_main_spark.operators import verify
    from entity_deduplication_hack_main_spark.sources import corpus

    cfg = DedupConfig()
    docs = corpus.synthesize_corpus(spark, n_docs=400, dup_fraction=0.4, seed=3)
    payload = represent.with_representation(docs, cfg, "doc_id", "text").cache()
    bands = lsh.band_hashes(payload, cfg, "signature", "id")
    pairs = lsh.candidate_pairs(bands, cfg)
    verified = verify.verify_pairs(
        pairs, payload.select("id", "shingle_set", "fp"), cfg
    ).cache()
    golden = corpus.golden_pairs(spark, 400, 0.4)
    gnorm = golden.select(
        F.least("original_id", "duplicate_id").alias("id1"),
        F.greatest("original_id", "duplicate_id").alias("id2"),
        F.lit(1).alias("label"),
    )
    labeled = verified.join(gnorm, ["id1", "id2"], "left").fillna(
        0, subset=["label"]
    )
    model = learned.fit_pair_classifier(labeled, ["jaccard"])
    relabeled = learned.verify_with_learned_threshold(verified, model)

    def f1(edges):
        return evaluate.pair_metrics(edges, golden)["f1"]

    f1_learned = f1(relabeled.where(F.col("status") == "pass"))
    f1_fixed = f1(verified.where(F.col("status") == "pass"))
    assert f1_learned >= f1_fixed - 1e-9, (f1_learned, f1_fixed)


def test_active_learning_uncertainty_beats_random(spark):
    """r04 missing #2 / verdict #6: pairs_to_label picks the pairs nearest
    the decision boundary. One labeling round with the same budget must
    improve held-out F1 at least as much as random selection (uncertainty
    concentrates labels where the boundary is uncertain), and the
    selection order must be deterministic."""
    import numpy as np

    rng = np.random.default_rng(23)
    j = rng.uniform(0, 1, 1200)
    rows = [
        (int(i), int(i + 10_000), float(a), int(a > 0.55))
        for i, a in enumerate(j)
    ]
    pool = spark.createDataFrame(
        rows, "id1 bigint, id2 bigint, jaccard double, label int"
    ).cache()
    seed_ids = [int(x) for x in rng.choice(1200, size=30, replace=False)]
    budget = 30

    def f1_after(extra_ids):
        train_ids = set(seed_ids) | set(extra_ids)
        model = learned.fit_pair_classifier(
            pool.where(F.col("id1").isin(list(train_ids))), ["jaccard"]
        )
        pred = pool.withColumn(
            "p", learned.classifier_pass(model).cast("int")
        )
        tp = pred.where((F.col("p") == 1) & (F.col("label") == 1)).count()
        fp = pred.where((F.col("p") == 1) & (F.col("label") == 0)).count()
        fn = pred.where((F.col("p") == 0) & (F.col("label") == 1)).count()
        return 2 * tp / (2 * tp + fp + fn)

    seed_model = learned.fit_pair_classifier(
        pool.where(F.col("id1").isin(seed_ids)), ["jaccard"]
    )
    unlabeled = pool.where(~F.col("id1").isin(seed_ids))
    picked = learned.pairs_to_label(seed_model, unlabeled, budget)
    pick_ids = [r["id1"] for r in picked.select("id1").collect()]
    assert len(pick_ids) == budget
    # deterministic queue across partition layouts
    again = [
        r["id1"]
        for r in learned.pairs_to_label(
            seed_model, unlabeled.repartition(7), budget
        ).select("id1").collect()
    ]
    assert pick_ids == again
    rand_ids = [
        int(x)
        for x in np.random.default_rng(7).choice(
            [r["id1"] for r in unlabeled.select("id1").collect()],
            size=budget,
            replace=False,
        )
    ]
    f1_unc, f1_rand = f1_after(pick_ids), f1_after(rand_ids)
    assert f1_unc >= f1_rand, (f1_unc, f1_rand)
    pool.unpersist()


def test_learned_fit_deterministic_across_partitionings(spark):
    """r03 verdict #5: the bounded fit sample is hash-ordered, so two fits
    over differently-partitioned copies of the same data produce IDENTICAL
    weights even when max_rows < total rows."""
    import numpy as np

    rng = np.random.default_rng(17)
    j = rng.uniform(0, 1, 3000)
    y = (j > 0.55).astype(int)
    rows = [(float(a), int(b)) for a, b in zip(j, y)]
    df1 = spark.createDataFrame(rows, "jaccard double, label int").coalesce(1)
    df2 = spark.createDataFrame(
        list(reversed(rows)), "jaccard double, label int"
    ).repartition(13)
    m1 = learned.fit_pair_classifier(df1, ["jaccard"], max_rows=1000)
    m2 = learned.fit_pair_classifier(df2, ["jaccard"], max_rows=1000)
    assert m1 == m2


def test_precision_targeted_threshold(spark):
    """r02 verdict #10: pick_threshold_for_precision hits a requested
    precision (within ±0.02) on a held-out synthetic split, with maximal
    recall among qualifying thresholds."""
    import numpy as np

    rng = np.random.default_rng(23)
    n = 6000
    j = rng.uniform(0, 1, n)
    # noisy labels: P(dup) rises with j — no threshold is perfectly clean,
    # so precision genuinely trades off against recall
    y = (rng.uniform(0, 1, n) < np.clip(1.6 * j - 0.3, 0, 1)).astype(int)
    rows = [(float(a), int(b)) for a, b in zip(j, y)]
    train = spark.createDataFrame(rows[: n // 2], "jaccard double, label int")
    valid = spark.createDataFrame(rows[n // 2:], "jaccard double, label int")
    model = learned.fit_pair_classifier(train, ["jaccard"])
    ops = {}
    for target in (0.9, 0.95):
        op = learned.pick_threshold_for_precision(valid, model, target)
        ops[target] = op
        # precision achieved on the validation split, within the gate
        assert op["precision"] >= target - 1e-9
        assert op["precision"] <= 1.0
        assert 0.0 < op["recall"] <= 1.0
        # independently recompute the operating point by applying
        # min_score to the split — must reproduce the reported numbers
        applied = valid.withColumn(
            "pred", learned.classifier_pass(model, op["min_score"]).cast("int")
        )
        tp = applied.where((F.col("pred") == 1) & (F.col("label") == 1)).count()
        pp = applied.where(F.col("pred") == 1).count()
        assert abs(tp / pp - op["precision"]) <= 0.02
    # a stricter target can only move the threshold up / recall down
    assert ops[0.95]["min_score"] >= ops[0.9]["min_score"]
    assert ops[0.95]["recall"] <= ops[0.9]["recall"]


def test_pipeline_learned_model_hook_matches_fixed_rule(spark):
    """r03 verdict #6: run_pipeline(model=...) swaps the Jaccard leg of
    the edge rule for the learned predicate; a model trained to reproduce
    the fixed rule yields the same cluster assignments on the golden
    corpus."""
    from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline
    from entity_deduplication_hack_main_spark.sources import corpus

    cfg = DedupConfig()
    docs = corpus.synthesize_corpus(
        spark, n_docs=300, dup_fraction=0.4, seed=9
    ).cache()
    base = run_pipeline(spark, docs, cfg)
    # label candidate pairs with the fixed rule's own verdict: the learned
    # model must reproduce the boundary (separable -> exact agreement)
    labeled = base.verified.withColumn(
        "label", (F.col("status") == "pass").cast("int")
    )
    model = learned.fit_pair_classifier(labeled, ["jaccard"])
    relearned = run_pipeline(spark, docs, cfg, model=model)
    a = {r["id"]: r["cluster_id"] for r in base.assignments.collect()}
    b = {r["id"]: r["cluster_id"] for r in relearned.assignments.collect()}
    assert a == b


def test_pair_metrics_by_type(spark):
    """Per-type P/R/F1 with known counts (EvaluateVariations cell 5 analog):
    person: tp=1 (1,2), fn=1 (7,8); org: tp=1 (3,4), fp=1 (5,6 — but
    carved out when flagged exact), fp=1 (9,10)."""
    matched = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (9, 10)], "id1 bigint, id2 bigint"
    )
    golden = spark.createDataFrame(
        [(2, 1), (3, 4), (7, 8)], "original_id bigint, duplicate_id bigint"
    )
    types = spark.createDataFrame(
        [(1, "person"), (3, "org"), (5, "org"), (7, "person"), (9, "org")],
        "id bigint, type string",
    )
    exact = spark.createDataFrame([(5, 6)], "id1 bigint, id2 bigint")
    got = {
        r["type"]: (r["tp"], r["fp"], r["fn"], r["precision"], r["recall"])
        for r in evaluate.pair_metrics_by_type(
            matched, golden, types, exact_pairs=exact
        ).collect()
    }
    assert got["person"] == (1, 0, 1, 1.0, 0.5)
    assert got["org"] == (1, 1, 0, 0.5, 1.0)
    no_carve = {
        r["type"]: (r["tp"], r["fp"], r["fn"])
        for r in evaluate.pair_metrics_by_type(
            matched, golden, types
        ).collect()
    }
    assert no_carve["org"] == (1, 2, 0)


def test_containment_spans_locate_injected_run(spark):
    """The span verifier must report the injected shared run's exact token
    offsets in BOTH docs (Lee et al. 2021-style span removal output)."""
    cfg = DedupConfig(shingle_k=3, num_perms=32, bands=8, rows_per_band=4)
    shared = [f"s{i}" for i in range(80)]
    a = [f"a{i}" for i in range(60)] + shared + [f"b{i}" for i in range(60)]
    b = [f"c{i}" for i in range(40)] + shared + [f"d{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(0, " ".join(a)), (1, " ".join(b))], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(0, 1)], "id1 bigint, id2 bigint")
    out = suffix.containment_spans(pairs, docs, cfg, min_tokens=50).collect()[0]
    assert [(s["start"], s["end"]) for s in out["spans1"]] == [(60, 139)]
    assert [(s["start"], s["end"]) for s in out["spans2"]] == [(40, 119)]


def test_pair_metrics_with_carveout(spark):
    matched = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id1 bigint, id2 bigint"
    )
    golden = spark.createDataFrame(
        [(2, 1), (3, 4), (7, 8)], "original_id bigint, duplicate_id bigint"
    )
    exact = spark.createDataFrame([(5, 6)], "id1 bigint, id2 bigint")
    m = evaluate.pair_metrics(matched, golden, exact_pairs=exact)
    assert (m["tp"], m["fp"], m["fn"]) == (2, 0, 1)
    m2 = evaluate.pair_metrics(matched, golden)
    assert (m2["tp"], m2["fp"], m2["fn"]) == (2, 1, 1)


def test_bpe_token_count_segments(spark):
    """BPE-ish pre-tokenizer count: contractions split ('t / 's win over
    the punct class), words/digits/punct runs segment GPT-2-style, raw
    casing preserved, empty and whitespace-only texts behave."""
    from entity_deduplication_hack_main_spark.functions import textstats

    rows = [
        ("Hello, world! It's 2024.", 8),  # Hello , world ! It 's 2024 .
        ("", 0),
        ("   ", 1),                        # one whitespace run
        ("abc123", 2),                     # letter run + digit run
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [
        r["n"]
        for r in df.select(
            textstats.bpe_token_count(F.col("text")).alias("n")
        ).collect()
    ]
    assert got == [n for _, n in rows]


def test_error_analysis_diff_sets(spark, tmp_path):
    """SURVEY §5: the reference's regression diff artifacts —
    predicted_not_in_golden (with the exact-dup carve-out) and the missed
    set, plus the cross-run common_missed_matches intersection; JSON
    roundtrip via the S4/S5 sinks."""
    from entity_deduplication_hack_main_spark.sources import sinks

    matched = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (9, 10)], "id1 bigint, id2 bigint"
    )
    golden = spark.createDataFrame(
        [(2, 1), (3, 4), (7, 8), (11, 12)],
        "original_id bigint, duplicate_id bigint",
    )
    exact = spark.createDataFrame([(5, 6)], "id1 bigint, id2 bigint")
    fp_df, fn_df = evaluate.error_analysis(matched, golden, exact_pairs=exact)
    assert {(r["p1"], r["p2"]) for r in fp_df.collect()} == {(9, 10)}
    assert {(r["p1"], r["p2"]) for r in fn_df.collect()} == {(7, 8), (11, 12)}
    # JSON roundtrip (S4 sink / S5 scan — the reference persists these)
    path = str(tmp_path / "predicted_not_in_golden")
    sinks.write_matches_json(fp_df, path)
    back = sinks.read_matches_json(spark, path)
    assert {(r["p1"], r["p2"]) for r in back.collect()} == {(9, 10)}
    # common_missed_matches: pairs EVERY run missed
    matched_b = spark.createDataFrame([(7, 8)], "id1 bigint, id2 bigint")
    _, fn_b = evaluate.error_analysis(matched_b, golden)
    common = evaluate.common_missed_matches(fn_df, fn_b)
    assert {(r["p1"], r["p2"]) for r in common.collect()} == {(11, 12)}


def test_recall_by_type(spark):
    matched = spark.createDataFrame([(1, 2)], "id1 bigint, id2 bigint")
    golden = spark.createDataFrame(
        [(2, 1, "typo"), (3, 4, "typo"), (5, 6, "swap")],
        "original_id bigint, duplicate_id bigint, variation_type string",
    )
    got = {
        r["variation_type"]: (r["n_golden"], r["n_matched"])
        for r in evaluate.recall_by_type(matched, golden).collect()
    }
    assert got == {"typo": (2, 1), "swap": (1, 0)}


def test_norm_levenshtein_and_acronym(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting"), ("", ""), ("General Hospital", "GH")],
        "a string, b string",
    )
    out = df.select(
        simfn.norm_levenshtein_sim(F.col("a"), F.col("b")).alias("s"),
        simfn.acronym_match(F.col("a"), F.col("b")).alias("am"),
    ).collect()
    assert abs(out[0]["s"] - (1 - 3 / 7)) < 1e-9
    assert out[1]["s"] == 1.0
    assert out[2]["am"] is True and out[0]["am"] is False


def test_acronym_reference_parity(spark):
    """acronym == reference get_acronym (re.findall(r'\\b\\w', s), i.e.
    hyphenated/punctuated tokens contribute), and the boost predicate has
    no multi-word gate (single-char values can match their own collapse) —
    similarity_utils.py:46-47, 79-80."""
    import re

    def ref_acr(s: str) -> str:
        return "".join(re.findall(r"\b\w", s)).upper()

    vals = [
        ("foo-bar baz", "fbb"),
        ("general hospital", "gh"),
        ("a.b.c", "abc"),
        ("x", "x"),
        ("o'neil park", "onp"),
        ("foo-bar", "fb"),
        ("plain words", "nope"),
    ]
    df = spark.createDataFrame(vals, "a string, b string")
    got = df.select(
        "a", "b",
        simfn.acronym(F.col("a")).alias("ac"),
        simfn.acronym_match(F.col("a"), F.col("b")).alias("am"),
    ).collect()
    for r in got:
        assert r["ac"] == ref_acr(r["a"]), r["a"]
        expect = (
            ref_acr(r["a"]) == r["b"].replace(" ", "").upper()
            or ref_acr(r["b"]) == r["a"].replace(" ", "").upper()
        )
        assert r["am"] == expect, (r["a"], r["b"])


def test_adaptive_threshold_matches_reference(spark):
    """similarity_utils.py:49-54 lookup values."""
    df = spark.createDataFrame([(n,) for n in range(1, 7)], "n int")
    got = [
        r["t"] for r in df.select(
            simfn.adaptive_threshold(F.col("n")).alias("t")
        ).orderBy("n").collect()
    ]
    assert got == [0.4, 0.55, 0.7, 0.8, 0.85, 0.85]


def test_sequence_matcher_parity():
    """Bit-compat with difflib on the reference's own example semantics."""
    from difflib import SequenceMatcher

    assert SequenceMatcher(None, "general hospital", "general hospitol").ratio() > 0.9


def test_sinks_roundtrip(spark, tmp_path):
    """S3/S4/S5 I/O surface: JSON matches sink+scan, CSV golden scan."""
    from entity_deduplication_hack_main_spark.sources import sinks

    m = spark.createDataFrame(
        [(1, 2, 0.9, "near_exact")], "id1 bigint, id2 bigint, jaccard double, dup_type string"
    )
    p = str(tmp_path / "matches")
    sinks.write_matches_json(m, p)
    back = sinks.read_matches_json(spark, p)
    assert back.count() == 1 and set(back.columns) == set(m.columns)

    csv_path = str(tmp_path / "golden.csv")
    import pandas as pd

    pd.DataFrame(
        {"original_id": ["a"], "duplicate_id": ["b"], "entity_type": ["Person"],
         "variation_type": ["typo"], "field_name": ["name"],
         "original_value": ["x"], "varied_value": ["y"]}
    ).to_csv(csv_path, index=False)
    g = sinks.read_golden_csv(spark, csv_path)
    assert g.count() == 1 and "variation_type" in g.columns


def test_vector_fusion_and_normalize(spark):
    """E5/E6 parity: hybrid fusion with zeros fallback; unit-norm output."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 1.0]), (2, [3.0, 4.0], None)],
        "id bigint, tv array<double>, gv array<double>",
    )
    out = {
        r["id"]: r.asDict()
        for r in df.select(
            "id",
            simfn.fuse(F.col("tv"), F.col("gv"), alpha=0.5).alias("fused"),
            simfn.l2_normalize(F.col("tv")).alias("unit"),
        ).collect()
    }
    assert out[1]["fused"] == [0.5, 0.5]
    assert out[2]["fused"] == [1.5, 2.0]  # alpha*text vs zeros fallback
    assert abs(out[2]["unit"][0] - 0.6) < 1e-9 and abs(out[2]["unit"][1] - 0.8) < 1e-9


def test_hybrid_uf_never_collects_vertices(spark, monkeypatch):
    """VERDICT r01 #1 regression: the hybrid fast path must collect edge
    rows only — the vertex universe (all docs in the pipeline) stays
    distributed, with singletons attached via left join + coalesce."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 bigint, id2 bigint"
    )
    verts = spark.range(0, 50_000).toDF("id")
    collected_sizes: list[int] = []
    impl = type(edges)  # Spark 4: patch the concrete class, not the facade
    orig = impl.toArrow

    def spy(self):
        table = orig(self)
        collected_sizes.append(table.num_rows)
        return table

    monkeypatch.setattr(impl, "toArrow", spy)
    out = cluster.connected_components(edges, verts)
    labels = {r["node"]: r["cluster_id"] for r in out.collect()}
    # exactly one driver materialization: the bounded edge head — never the
    # 50k vertices
    assert collected_sizes == [3]
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10
    assert labels[49_999] == 49_999 and len(labels) == 50_000


def _cc_graphs(spark):
    """(name, edges, vertices or None): random, path, star and string-id
    graphs of at most 500 nodes. The star's center is its LARGEST id, so
    no leaf's first neighbor is its component's minimum."""
    import random

    random.seed(11)
    rand = spark.createDataFrame(
        [(random.randrange(400), random.randrange(400)) for _ in range(300)],
        "id1 bigint, id2 bigint",
    ).where(F.col("id1") != F.col("id2"))
    path = spark.range(499).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    star = spark.range(499).select(
        F.col("id").alias("id1"), F.lit(499).cast("bigint").alias("id2")
    )

    def url(c):
        return F.concat(F.lit("u:"), F.lpad(c.cast("string"), 4, "0"))

    strs = spark.range(450).where(F.col("id") % 50 != 0).select(
        url(F.col("id")).alias("id1"), url(F.col("id") + 1).alias("id2")
    )
    str_verts = spark.range(0, 460).select(url(F.col("id")).alias("id"))
    return [
        ("random", rand, spark.range(0, 410).toDF("id")),
        ("path", path, None),
        ("star", star, None),
        ("string", strs, str_verts),
    ]


def test_local_and_distributed_cc_identical(spark):
    """Hybrid CC: driver-side union-find must produce exactly the
    distributed loop's labels (min member id per component), row for row."""
    for name, edges, verts in _cc_graphs(spark):
        local = _labels(cluster.connected_components(edges, verts))
        dist = _labels(
            cluster.connected_components(edges, verts, local_threshold=0)
        )
        assert local == dist, name
        assert len({c for _, c in local}) < len(local), name


def test_distributed_cc_keeps_only_its_result_pinned(spark):
    """Every round checkpoint but the returned one, and the symmetric edge
    table, is released when the distributed loop ends."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id1 bigint, id2 bigint"
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = cluster.connected_components(edges, local_threshold=0)
    assert len(set(sc._jsc.getPersistentRDDs().keySet()) - before) <= 1
    assert _labels(out) == Counter({(i, 0): 1 for i in range(201)})


def test_distributed_cc_many_rounds_stay_plannable(spark):
    """On the path 0 - 25 - 24 - ... - 1 label 0 moves one hop per round,
    so the loop runs 26 rounds. Each round joins the previous round's
    checkpoint with itself; were the checkpoint's size estimate carried
    over, it would double in bit length every round and planning would
    stall long before the round cap."""
    n = 26
    edges = spark.createDataFrame(
        [(0, n - 1)] + [(i, i + 1) for i in range(1, n - 1)],
        "id1 bigint, id2 bigint",
    )
    out = cluster.connected_components(edges, local_threshold=0)
    assert _labels(out) == Counter({(i, 0): 1 for i in range(n)})


def test_substring_spans_find_planted_run(spark):
    """A verbatim 25-token run (below the winnow 52-token guarantee) must
    be reported with exact offsets in both docs; sub-threshold overlap and
    short docs must not."""
    run = " ".join(f"shared{i}" for i in range(25))
    doc0 = "alpha beta " + run + " gamma delta epsilon"          # run at tok 2
    doc1 = " ".join(f"left{i}" for i in range(7)) + " " + run     # run at tok 7
    doc2 = " ".join(f"noise{i}" for i in range(30))               # no overlap
    doc3 = "tiny doc"                                             # < span_k toks
    docs = spark.createDataFrame(
        [(0, doc0), (1, doc1), (2, doc2), (3, doc3)],
        "doc_id bigint, text string",
    )
    out = suffix.substring_spans_exact(
        docs, DedupConfig(), span_k=20, max_df=50
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id1"], r["id2"]) == (0, 1)
    assert r["start1"] == 2 and r["start2"] == 7 and r["span_len"] == 25


def test_substring_spans_below_k_not_reported(spark):
    """A shared run shorter than span_k yields no anchors at all."""
    run = " ".join(f"shared{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (0, " ".join(f"a{i}" for i in range(10)) + " " + run),
            (1, run + " " + " ".join(f"b{i}" for i in range(10))),
        ],
        "doc_id bigint, text string",
    )
    out = suffix.substring_spans_exact(
        docs, DedupConfig(), span_k=20, max_df=50
    ).collect()
    assert out == []


def test_substring_spans_two_disjoint_runs_stay_separate(spark):
    """Two shared runs separated by divergent text must come back as two
    maximal spans, not one merged one."""
    r1 = " ".join(f"one{i}" for i in range(20))
    r2 = " ".join(f"two{i}" for i in range(22))
    docs = spark.createDataFrame(
        [
            (0, r1 + " xa xb xc " + r2),
            (1, r1 + " ya yb yc yd " + r2),
        ],
        "doc_id bigint, text string",
    )
    out = sorted(
        suffix.substring_spans_exact(
            docs, DedupConfig(), span_k=20, max_df=50
        ).collect(),
        key=lambda r: r["start1"],
    )
    assert [(r["start1"], r["start2"], r["span_len"]) for r in out] == [
        (0, 0, 20),
        (23, 24, 22),
    ]


def test_substring_spans_hot_gram_dropped_pre_aggregation(spark):
    """r04 verdict #1: a boilerplate gram with df >> max_df (cookie
    banner / license header) must be dropped BEFORE the collect_list — no
    reducer may materialize its full member array — and the final span
    output must be identical to the post-agg-filter semantics: hot-gram
    anchors contribute nothing, legitimate pairs keep their spans."""
    run = " ".join(f"shared{i}" for i in range(25))
    banner = " ".join(f"banner{i}" for i in range(20))  # one pure 20-gram
    rows = [
        (0, "alpha beta " + run + " " + banner),
        (1, run + " " + banner),
    ]
    # 40 more docs carrying ONLY the banner: its pure gram has df = 42
    rows += [(i, f"doc{i} filler " + banner) for i in range(2, 42)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out_df = suffix.substring_spans_exact(
        docs, DedupConfig(), span_k=20, max_df=5
    )
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    # guard shape: broadcast anti join (hot-gram drop) feeding the
    # member aggregation — and the aggregate's input already excludes
    # hot grams, so the plan carries no post-agg size(ms) <= cap filter
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    out = out_df.collect()
    # banner-only docs never pair (their sole shared gram is over-cap);
    # docs 0/1 share shared0..24+banner0..19 = 45 contiguous tokens, but
    # the final pure-banner anchor is df-capped, so the maximal reported
    # run is 44 tokens (same result the old post-agg filter produced)
    assert [(r["id1"], r["id2"], r["start1"], r["start2"], r["span_len"])
            for r in out] == [(0, 1, 2, 0, 44)]


def test_ivf_trained_quantizer_beats_seeded_recall(spark):
    """r04 missing #1 / verdict #5: the k-means-trained coarse quantizer.
    On clustered vectors, recall@5 vs brute force at equal nprobe must be
    >= the seeded data-free anchors' (cells align with true clusters);
    the occupancy report must cover every corpus vector; training must be
    deterministic across partition layouts (hash-ordered sample)."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim, n_clu = 16, 8
    centers = rng.standard_normal((n_clu, dim)) * 3.0
    rows = [
        (
            i,
            [
                float(x)
                for x in centers[i % n_clu] + rng.standard_normal(dim) * 1.5
            ],
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    probes = df.where(F.col("vec_id") % 40 == 0)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in knn.brute_force_knn(probes, df, k=5).collect()
    }

    def recall(anchors):
        got = {
            (r["probe_id"], r["neighbor_id"])
            for r in knn.ivf_knn(
                probes, df, dim=dim, k=5, n_cells=8, nprobe=2, anchors=anchors
            ).collect()
        }
        return len(got & exact) / len(exact)

    seeded = recall(None)
    trained_anchors = knn.train_ivf_anchors(df, dim=dim, n_cells=8)
    trained = recall(trained_anchors)
    sizes = {
        r["cell"]: r["n"]
        for r in knn.ivf_cell_sizes(df, trained_anchors).collect()
    }
    assert sum(sizes.values()) == 400  # every vector in exactly one cell
    assert trained >= seeded, (trained, seeded, sizes)
    assert trained >= 0.8, (trained, sizes)
    # deterministic across partition layouts
    again = knn.train_ivf_anchors(df.repartition(7), dim=dim, n_cells=8)
    assert np.allclose(trained_anchors, again)


def test_hyperplane_bands_pass_through_string_ids(spark):
    """r02 advice: the banding output schema must inherit the id type —
    string url ids used to break Arrow conversion."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(f"url{i}", [float(x) for x in rng.standard_normal(16)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "url string, embedding array<double>")
    out = knn.hyperplane_bands(
        df, dim=16, n_planes=4, n_tables=2, id_col="url"
    )
    assert out.schema["id"].dataType.simpleString() == "string"
    assert out.count() == 40  # 20 ids x 2 tables


def test_multiprobe_depth_expands_candidate_recall(spark):
    """r02 verdict #4: multiprobe_bits is a real Hamming depth now —
    deeper probing can only add candidates, so brute-force agreement is
    monotone in the depth (and depth 2 probes 2-bit flips at all)."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    probes = df.where(F.col("vec_id") % 20 == 0)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in knn.brute_force_knn(probes, df, k=3, id_col="vec_id").collect()
    }
    rec = []
    for depth in (0, 1, 2):
        got = {
            (r["probe_id"], r["neighbor_id"])
            for r in knn.lsh_bucketed_knn(
                probes, df, dim=8, k=3, n_planes=6, multiprobe_bits=depth
            ).collect()
        }
        rec.append(len(got & exact) / len(exact))
    assert rec[0] <= rec[1] <= rec[2]
    assert rec[2] > rec[0]  # deeper probing must actually add recall here


def test_knn_matmul_survives_mass_ties_at_k_boundary(spark):
    """r03 advice: with 30 identical vectors every rank ties at cosine 1.0
    inside ONE Arrow batch — a fixed top-(k+8) slice would pick an
    arbitrary 13-row subset and could exclude the smallest neighbor_ids
    the oracle tie-break requires. The threshold-with-ties candidate rule
    must keep all of them."""
    import numpy as np  # noqa: F401 (parity with sibling tests)

    base = [1.0, 0.0, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, base) for i in range(30)] + [(100 + i, other) for i in range(5)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1)
    probes = df.where(F.col("vec_id") == 0)
    got = Counter(map(tuple, knn.brute_force_knn(probes, df, k=5).collect()))
    # the deterministic tie-break: smallest ids win
    assert got == Counter((0, i, 1.0, i) for i in range(1, 6))


def test_ivf_knn_full_probe_equals_bruteforce_and_recall_monotone(spark):
    """IVF correctness envelope: probing ALL cells must reproduce brute
    force EXACTLY (the inverted file partitions the corpus — nothing is
    lost, only skipped), and recall rises monotonically with nprobe."""
    import numpy as np

    rng = np.random.default_rng(31)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    probes = df.where(F.col("vec_id") % 25 == 0)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in knn.brute_force_knn(probes, df, k=3).collect()
    }
    full = knn.ivf_knn(probes, df, dim=16, k=3, n_cells=8, nprobe=8).collect()
    assert {(r["probe_id"], r["neighbor_id"]) for r in full} == exact
    rec = []
    for nprobe in (1, 3, 8):
        got = {
            (r["probe_id"], r["neighbor_id"])
            for r in knn.ivf_knn(
                probes, df, dim=16, k=3, n_cells=8, nprobe=nprobe
            ).collect()
        }
        rec.append(len(got & exact) / len(exact))
    assert rec[0] <= rec[1] <= rec[2] == 1.0


def test_cut_spans_removes_only_duplicate_occurrence(spark):
    """Span cutting: the lower-id doc keeps the run, the higher-id doc
    loses exactly those tokens; untouched docs pass through unchanged."""
    run = " ".join(f"dup{i}" for i in range(22))
    keep_front = " ".join(f"k{i}" for i in range(5))
    lose_front = " ".join(f"l{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (0, keep_front + " " + run),
            (1, lose_front + " " + run),
            (2, "plain untouched doc"),
        ],
        "doc_id bigint, text string",
    )
    spans = suffix.substring_spans_exact(
        docs, DedupConfig(), span_k=20, max_df=50
    )
    out = {r["id"]: r for r in suffix.cut_spans(docs, spans).collect()}
    assert out[0]["n_cut"] == 0
    assert out[0]["text_cut"].endswith(run)
    assert out[1]["n_cut"] == 22
    assert out[1]["text_cut"] == lose_front
    assert out[2]["n_cut"] == 0 and out[2]["text_cut"] == "plain untouched doc"


def test_cut_spans_raw_preserves_original_bytes(spark):
    """r03 verdict #1: raw cutting must splice the ORIGINAL text — casing,
    punctuation and whitespace outside the cut range survive byte-exact,
    and uncut docs come back verbatim."""
    run = " ".join(f"dup{i}" for i in range(22))
    doc0 = "K0 k1 k2 k3 k4 " + run
    doc1 = (
        "Hey! L0, l1 (l2) l3... Dup0, "
        + " ".join(f"dup{i}" for i in range(1, 22))
        + " THE-End."
    )
    docs = spark.createDataFrame(
        [(0, doc0), (1, doc1), (2, "?!;; punct,Only: stays")],
        "doc_id bigint, text string",
    )
    spans = suffix.substring_spans_exact(
        docs, DedupConfig(), span_k=20, max_df=50
    )
    out = {r["id"]: r for r in suffix.cut_spans_raw(docs, spans).collect()}
    # keeper and untouched docs: byte-identical passthrough
    assert out[0]["n_cut"] == 0 and out[0]["text_cut"] == doc0
    assert out[2]["n_cut"] == 0 and out[2]["text_cut"] == "?!;; punct,Only: stays"
    # loser: tokens 5..26 spliced out of the RAW text; the separator before
    # the cut stays, the cut run's trailing separator goes with it
    assert out[1]["n_cut"] == 22 and out[1]["aligned"]
    assert out[1]["text_cut"] == "Hey! L0, l1 (l2) l3... THE-End."
    assert out[1]["n_tokens"] == 29


def test_cut_spans_raw_misaligned_doc_passes_through_uncut(spark):
    """When lowercasing breaks the raw-run ↔ normalized-token bijection
    (U+0130 İ lowers to i + combining dot, splitting one raw run into two
    normalized tokens), the doc must pass through UNCUT with aligned=false
    instead of mis-splicing bytes."""
    run = " ".join(f"dup{i}" for i in range(22))
    doc0 = "base text here " + run
    doc1 = "İx " + run  # İx: 1 raw run, 2 normalized tokens
    docs = spark.createDataFrame(
        [(0, doc0), (1, doc1)], "doc_id bigint, text string"
    )
    from entity_deduplication_hack_main_spark.functions import textnorm

    n_norm = docs.where(F.col("doc_id") == 1).select(
        F.size(textnorm.tokens(textnorm.normalize(F.col("text")))).alias("n")
    ).collect()[0]["n"]
    if n_norm != 24:  # JVM locale table didn't split İ — guard untestable
        import pytest

        pytest.skip("this JVM lowers U+0130 without the combining dot")
    spans = suffix.substring_spans_exact(
        docs, DedupConfig(), span_k=20, max_df=50
    )
    assert spans.count() == 1  # the run IS detected
    out = {r["id"]: r for r in suffix.cut_spans_raw(docs, spans).collect()}
    assert not out[1]["aligned"]
    assert out[1]["n_cut"] == 0 and out[1]["text_cut"] == doc1


# --- exact n-gram Jaccard set-similarity join (operators/setjoin.py) ------


def _setjoin_payload(spark, n_docs=300, seed=11):
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.functions import represent
    from entity_deduplication_hack_main_spark.sources import corpus

    docs = corpus.synthesize_corpus(
        spark, n_docs=n_docs, dup_fraction=0.5, seed=seed
    )
    return (
        represent.with_representation(docs, TESTDATA_CONFIG, "doc_id", "text")
        .select("id", "shingle_set")
        .cache()
    )


def _brute_jaccard_pairs(payload, t):
    """O(n^2) oracle twin: crossJoin exact Jaccard (test scale only)."""
    a = payload.select(
        F.col("id").alias("id1"), F.col("shingle_set").alias("s1")
    )
    b = payload.select(
        F.col("id").alias("id2"), F.col("shingle_set").alias("s2")
    )
    common = F.size(F.array_intersect("s1", "s2")).cast("double")
    union = (F.size("s1") + F.size("s2")).cast("double") - common
    return (
        a.crossJoin(b)
        .where(F.col("id1") < F.col("id2"))
        .where(common >= F.lit(t) * union)
        .select("id1", "id2", F.round(common / union, 6).alias("jaccard"))
    )


def test_ngram_jaccard_prefix_filter_lossless(spark):
    """With the df cap disabled, the prefix-filtered join returns EXACTLY
    the brute-force Jaccard>=t pair set — the PPJoin losslessness claim."""
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.operators import setjoin

    p = _setjoin_payload(spark)
    t = TESTDATA_CONFIG.jaccard_similar
    got = setjoin.ngram_jaccard_pairs(
        p, TESTDATA_CONFIG, max_df=10**9
    ).collect()
    want = _brute_jaccard_pairs(p, t).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0  # the corpus plants real near-dups


def test_ngram_jaccard_df_cap_is_subset_and_prunes_postings(spark):
    """A tight df cap only ever REMOVES pairs (coverage cap semantics) and
    shrinks the posting index; real near-dups still surface because their
    prefixes share many non-boilerplate grams."""
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.operators import setjoin

    p = _setjoin_payload(spark)
    t = TESTDATA_CONFIG.jaccard_similar
    full = {
        (r.id1, r.id2)
        for r in setjoin.ngram_jaccard_pairs(
            p, TESTDATA_CONFIG, max_df=10**9
        ).collect()
    }
    capped = {
        (r.id1, r.id2)
        for r in setjoin.ngram_jaccard_pairs(p, TESTDATA_CONFIG, max_df=4).collect()
    }
    assert capped <= full
    n_full = setjoin.prefix_index(p, t, 10**9).count()
    n_capped = setjoin.prefix_index(p, t, 4).count()
    assert n_capped < n_full
    # planted near-exact twins survive the cap
    assert len(capped) >= 0.9 * len(full)


def test_ngram_jaccard_plan_no_cartesian_no_python(spark):
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.operators import setjoin

    p = _setjoin_payload(spark, n_docs=50)
    plan = (
        setjoin.ngram_jaccard_pairs(p, TESTDATA_CONFIG)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cluster_representatives_matches_window_rule(spark):
    """groupBy max(struct) picks the same representative as the
    row_number(ORDER BY n_chars DESC, id ASC) window it replaces."""
    import random

    from pyspark.sql import Window

    from entity_deduplication_hack_main_spark.operators import cluster as cc

    rng = random.Random(7)
    rows = [
        (i, i % 37, rng.randint(0, 500))  # (doc_id, cluster, n_chars) w/ ties
        for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, _c long, n_chars long")
    asn = docs.select(F.col("doc_id").alias("node"), F.col("_c").alias("cluster_id"))
    got = cc.cluster_representatives(asn, docs.select("doc_id", "n_chars"))
    w = Window.partitionBy("_c").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    want = (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("_c"))
        )
        .where("rn = 1")
        .select("doc_id", F.col("_c").alias("cluster_id"), "n_members")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == 37


def test_cluster_representatives_null_order_loses(spark):
    """A member whose order value is NULL (pii_redact orders by
    length(text), NULL for NULL text) never beats a non-NULL member; a
    cluster of NULLs only still gets its lowest id."""
    from entity_deduplication_hack_main_spark.operators import cluster as cc

    asn = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "node long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [(1, None), (2, 3), (3, 8), (4, None), (5, None)],
        "doc_id long, n_chars int",
    )
    got = Counter(map(tuple, cc.cluster_representatives(asn, docs).collect()))
    assert got == Counter({(3, 1, 3): 1, (4, 4, 2): 1})


def test_cluster_sample_weights_unit_mass_per_cluster(spark):
    """Soft dedup: w = 1/cluster_size, one row per doc, unique docs keep
    w = 1, and the total training mass equals the number of clusters."""
    from entity_deduplication_hack_main_spark.operators import cluster as cc

    asn = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 11), (5, 12), (6, 12)],
        "node long, cluster_id long",
    )
    got = {r["doc_id"]: r for r in cc.cluster_sample_weights(asn).collect()}
    assert len(got) == 6
    assert got[1]["weight"] == got[2]["weight"] == got[3]["weight"] == 1 / 3
    assert got[4]["weight"] == 1.0 and got[4]["cluster_size"] == 1
    assert got[5]["weight"] == 0.5
    total = sum(r["weight"] for r in got.values())
    assert abs(total - 3.0) < 1e-12


def test_shingle_sets_match_payload(spark):
    """The light ordered-shingle channel produces BIT-IDENTICAL shingle
    sets to the full payload kernel, including empty/short-doc edges."""
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.functions import represent
    from entity_deduplication_hack_main_spark.operators import setjoin
    from entity_deduplication_hack_main_spark.sources import corpus

    docs = corpus.synthesize_corpus(spark, n_docs=200, dup_fraction=0.4, seed=5)
    edges = spark.createDataFrame(
        [(10_001, ""), (10_002, "   "), (10_003, "one"), (10_004, "two words"),
         (10_005, "a b c"), (10_006, "exactly three tokens here now")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(edges)
    light = setjoin.shingle_sets(docs, TESTDATA_CONFIG, "doc_id", "text", "md5")
    full = represent.with_representation(
        docs, TESTDATA_CONFIG, "doc_id", "text", "md5"
    ).select("id", "shingle_set")
    lm = {r.id: r.shingle_set for r in light.collect()}
    fm = {r.id: r.shingle_set for r in full.collect()}
    assert lm == fm


# --- batch decontamination (operators/decontaminate.py) -------------------


def _decon_corpora(spark):
    """Hand-planted train/ref corpora: one exact copy, one near copy,
    unrelated filler. 60-token docs so a 1-token edit keeps J >> 0.7."""
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.functions import represent

    base = " ".join(f"tok{i % 23}w{i}" for i in range(60))
    near = base.replace("tok5w5", "CHANGED")          # 1 token of 60 edited
    other = " ".join(f"zz{i}q{i % 7}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (100, base),            # ref doc
            (101, other),           # ref doc, unrelated
            (1, base),              # train: exact copy of 100
            (2, near),              # train: near-dup of 100
            (3, " ".join(f"pp{i}" for i in range(60))),  # train: clean
        ],
        "doc_id long, text string",
    )
    p = represent.with_representation(
        docs, TESTDATA_CONFIG, "doc_id", "text"
    ).cache()
    return (
        p.where(F.col("id") < 100),
        p.where(F.col("id") >= 100),
        TESTDATA_CONFIG,
    )


def test_decontaminate_flags_exact_and_near(spark):
    """Exact copy -> reason 'exact' (priority over its band collisions);
    near copy -> 'near'; clean doc untouched; ref_id points at the source."""
    from entity_deduplication_hack_main_spark.operators import decontaminate

    train, ref, cfg = _decon_corpora(spark)
    got = {
        r["doc_id"]: (r["reason"], r["ref_id"])
        for r in decontaminate.decontaminate(train, ref, cfg).collect()
    }
    assert got == {1: ("exact", 100), 2: ("near", 100)}


def test_decontaminate_broadcast_ref_identical_and_planned(spark):
    """broadcast_ref=True is the 100-TB-train/small-holdout path: results
    identical, plan uses broadcast joins, never Python or a cartesian."""
    from entity_deduplication_hack_main_spark.operators import decontaminate

    train, ref, cfg = _decon_corpora(spark)
    plain = decontaminate.decontaminate(train, ref, cfg)
    bcast = decontaminate.decontaminate(train, ref, cfg, broadcast_ref=True)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bcast.collect())
    )
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_decontaminate_threshold_override(spark):
    """threshold=1.01 disables the near channel (J can't exceed 1); the
    exact channel is unaffected."""
    from entity_deduplication_hack_main_spark.operators import decontaminate

    train, ref, cfg = _decon_corpora(spark)
    got = {
        r["doc_id"]: r["reason"]
        for r in decontaminate.decontaminate(
            train, ref, cfg, threshold=1.01
        ).collect()
    }
    assert got == {1: "exact"}


def test_ngram_overlap_catches_partial_containment(spark):
    """The n-gram channel's raison d'être: a 200-token train doc QUOTING a
    15-token run of a ref doc has whole-doc Jaccard << any threshold (the
    exact/near channels miss it) but n_hit > 0 at n=13; a clean doc and a
    doc quoting only 12 tokens (below n) report zero hits; the full-copy
    doc reports overlap_frac 1.0 and flags contaminated."""
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.operators import decontaminate

    eval_doc = " ".join(f"bench{i}" for i in range(40))
    quote15 = " ".join(f"bench{i}" for i in range(15))
    quote12 = " ".join(f"bench{i}" for i in range(20, 32))
    filler = lambda tag, m: " ".join(f"{tag}{i}" for i in range(m))  # noqa: E731
    ref = spark.createDataFrame(
        [(100, eval_doc)], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, f"{filler('aa', 90)} {quote15} {filler('ab', 95)}"),
            (2, f"{filler('ba', 90)} {quote12} {filler('bb', 98)}"),
            (3, filler("cc", 200)),
            (4, eval_doc),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in decontaminate.ngram_overlap_stats(
            train, ref, TESTDATA_CONFIG, n=13
        ).collect()
    }
    assert got[1]["n_hit"] == 15 - 13 + 1 and not got[1]["contaminated"]
    assert got[2]["n_hit"] == 0 and got[3]["n_hit"] == 0
    assert got[4]["overlap_frac"] == 1.0 and got[4]["contaminated"]
    # whole-doc near channel indeed misses the quote (J(1, 100) ~ 0.07)
    from entity_deduplication_hack_main_spark.functions import represent

    tp = represent.with_representation(train, TESTDATA_CONFIG, "doc_id", "text")
    rp = represent.with_representation(ref, TESTDATA_CONFIG, "doc_id", "text")
    whole = {
        r["doc_id"] for r in decontaminate.decontaminate(tp, rp, TESTDATA_CONFIG).collect()
    }
    assert 1 not in whole and 4 in whole


def test_ngram_overlap_broadcast_plan_and_plain_parity(spark):
    """broadcast_ref=True (default) marks train grams map-side — plan shows
    a broadcast join, no cartesian/Python; broadcast_ref=False is
    result-identical."""
    from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG
    from entity_deduplication_hack_main_spark.operators import decontaminate

    ref = spark.createDataFrame(
        [(100, " ".join(f"bench{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, " ".join(f"bench{i}" for i in range(40))),
         (2, " ".join(f"xx{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    b = decontaminate.ngram_overlap_stats(train, ref, TESTDATA_CONFIG, n=8)
    p = decontaminate.ngram_overlap_stats(
        train, ref, TESTDATA_CONFIG, n=8, broadcast_ref=False
    )
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, p.collect()))
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _quality_corpora(spark):
    """Deterministic reference-quality vs junk-crawl corpora (the GPT-3
    labeling: corpus membership is the label)."""
    import random

    rng = random.Random(11)
    stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    good, junk = [], []
    for i in range(120):
        words = []
        for j in range(70):
            words.append(
                stop[rng.randrange(len(stop))] if j % 3 == 0
                else f"word{rng.randrange(500)}"
            )
        good.append((i, " ".join(words)))
    for i in range(120):
        kind = i % 3
        if kind == 0:  # symbol spam
            junk.append((1000 + i, "### " * 40 + "buy now..."))
        elif kind == 1:  # single-token repetition
            junk.append((1000 + i, ("spam" + str(i % 5) + " ") * 60))
        else:  # digit noise, no alpha words
            junk.append(
                (1000 + i, " ".join(str(rng.randrange(10**6)) for _ in range(50)))
            )
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    return mk(good), mk(junk)


def test_learned_quality_classifier_separates_junk(spark):
    """Fit on 2/3 of each corpus, score the held-out third: every held-out
    reference doc outranks every held-out junk doc (AUC 1 on separable
    synthetic features), and the apply plan is pure JVM (no Python, no
    shuffle — one narrow map)."""
    from entity_deduplication_hack_main_spark.operators import quality

    good, junk = _quality_corpora(spark)
    model = quality.fit_quality_classifier(
        good.where("doc_id % 3 != 0"), junk.where("doc_id % 3 != 0")
    )
    assert set(model["weights"]) == set(quality.QUALITY_FEATURES)
    held = good.where("doc_id % 3 = 0").unionByName(junk.where("doc_id % 3 = 0"))
    scored = quality.score_docs(held, model, keep_threshold=0.5)
    rows = {r["doc_id"]: r for r in scored.collect()}
    good_scores = [r["quality_prob"] for i, r in rows.items() if i < 1000]
    junk_scores = [r["quality_prob"] for i, r in rows.items() if i >= 1000]
    assert good_scores and junk_scores
    assert min(good_scores) > max(junk_scores)
    assert all(r["keep"] == (r["quality_prob"] >= 0.5) for r in rows.values())
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_gopher_quality_rules(spark):
    """The non-repetition Gopher rules: a normal English doc passes; docs
    violating one rule each (too short, bullet-heavy, symbol-heavy,
    non-alpha, no stopwords) fail on exactly that signal."""
    from entity_deduplication_hack_main_spark.functions import textstats

    good = (
        "the weather report says that we have a mild week ahead of us "
        "and the forecast to be honest looks fine with some light rain "
        "arriving later in the week which farmers say they welcome since "
        "the ground has been dry for weeks and reservoirs need the water "
        "to recover before summer demand peaks again across the region"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass " + "the of and that have with be to"),
            (3, "\n".join("- bullet item number %d here" % i for i in range(60))
                + "\nthe of and that have with " * 3),
            (4, ("#tag " * 60) + "the of and that have with be to"),
            (5, ("1234 5678 " * 30) + "the of and that have with"),
        ],
        "doc_id bigint, text string",
    )
    cols = textstats.gopher_quality_cols(F.col("text"))
    rows = {
        r["doc_id"]: r.asDict()
        for r in docs.select(
            "doc_id",
            *[c.alias(n) for n, c in cols.items()],
            textstats.gopher_quality_pass(cols).alias("ok"),
        ).collect()
    }
    assert rows[1]["ok"], rows[1]
    assert not rows[2]["ok"] and rows[2]["n_words"] < 50
    assert not rows[3]["ok"] and rows[3]["bullet_line_frac"] > 0.9
    assert not rows[4]["ok"] and rows[4]["symbol_word_ratio"] > 0.1
    assert not rows[5]["ok"] and rows[5]["alpha_word_frac"] < 0.8
    # stopword rule: distinct-membership count
    assert rows[1]["n_stop_hits"] >= 2
