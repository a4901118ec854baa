"""Driver-contract tests: entry() smoke + every query vs its DuckDB oracle
at sf0.001 (fast); the driver re-runs the same comparison at sf0.01."""

from __future__ import annotations

import sys

import pytest
from conftest import _value_hash

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.limit(10).collect()
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,cluster_id:bigint,cluster_size:bigint>"
    )
    assert len(rows) > 0


def test_every_query_has_callable_and_oracle_keys(entry_mod):
    # EVERY query is oracle-checked — the matmul embedding paths emit a
    # guard-band candidate set and re-score with the fold expression, so
    # they bit-match their SQL oracles
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) >= 20
    assert set(osql) == set(qs)


@pytest.mark.parametrize(
    "name",
    [
        "exact_dup_clusters", "doc_fingerprints", "token_stats",
        "shingle_set_digests", "minhash_signatures", "lsh_band_hashes",
        "lsh_candidate_pairs", "verify_candidate_pairs",
        "simhash_fingerprints", "simhash_hamming_pairs",
        "winnow_candidate_pairs", "lsh_dedup_clusters",
        "lang_stopword_scores", "lang_distribution", "top_tokens_per_lang",
        "quality_scores", "q1_pricing_summary", "top_orders_per_customer",
        "revenue_by_nation", "customers_without_orders", "events_hourly",
        "purchasers_without_errors", "similar_part_names", "knn_bruteforce",
        "embedding_near_dup_pairs", "exact_dup_group_count", "event_sessions",
        "knn_matmul", "embedding_near_dup_matmul", "exact_substring_spans",
        "substring_cut_docs", "substring_cut_docs_raw", "bpe_token_stats",
        "knn_ivf", "entity_verify_pairs", "dedup_cluster_sizes",
        "ngram_jaccard_pairs", "dedup_keep_best", "dup_rate_by_source",
        "url_dedup_stats",
        "decontaminate_vs_holdout", "part_types_by_brand",
        "winnow_containment_spans", "embedding_near_dup_lsh",
        "line_dedup_docs", "duplicate_line_stats",
        "gopher_repetition_scores", "gopher_quality_marks",
        "token_budget_sample", "balanced_source_sample",
        "pii_redaction_stats", "semantic_dedup_flags",
        "dup_ngram_stats", "bm25_search",
        "ngram_overlap_contamination", "dedup_sample_weights",
        "doc_chunks", "quality_pareto_sample",
    ],
)
def test_query_matches_oracle(spark, sf001, entry_mod, duck, name):
    sdf = entry_mod.queries()[name](spark, sf001).toPandas()
    odf = duck.sql(entry_mod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), f"row count {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert _value_hash(sdf) == _value_hash(odf), "value hash mismatch"
