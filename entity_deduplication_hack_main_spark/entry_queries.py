"""Query registry backing ``__spark_entry__.py``.

Each entry pairs a Spark DataFrame program with a DuckDB-dialect oracle SQL
producing the same rows (same column names, same values — the driver
compares row counts, schemas, and order-insensitive value hashes at
sf=0.01). Dedup queries run the md5 hash strategy so every integer is
bit-identical across engines (functions/represent.py); floats are rounded
on both sides.

Coverage ↔ SURVEY.md §2: scans (S1/S3), projections/scalar fns (P3-P11),
joins J1/J2/J6/J7, aggregations A1-A7, windows W1/W2, set ops SO1-SO3,
vector ops E6/E7, classification C1-C3 — plus the beyond-reference
training-data operators (exact/MinHash/SimHash/Jaccard/embedding dedup,
ANN, language-ID, quality, token stats, fingerprints).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import TESTDATA_CONFIG, DedupConfig
from entity_deduplication_hack_main_spark.functions import (
    repetition as repetition_fn,
)
from entity_deduplication_hack_main_spark.functions import (
    pii as pii_fn,
)
from entity_deduplication_hack_main_spark.functions import (
    lm as lm_fn,
)
from entity_deduplication_hack_main_spark.functions import (
    represent,
    textnorm,
    textstats,
)
from entity_deduplication_hack_main_spark.operators import (
    chunking as chunking_op,
)
from entity_deduplication_hack_main_spark.operators import (
    cluster as cc_op,
)
from entity_deduplication_hack_main_spark.operators import (
    decontaminate as decon_op,
)
from entity_deduplication_hack_main_spark.operators import (
    hamming as ham_op,
)
from entity_deduplication_hack_main_spark.operators import knn as knn_op
from entity_deduplication_hack_main_spark.operators import (
    linededup as linededup_op,
)
from entity_deduplication_hack_main_spark.operators import lsh as lsh_op
from entity_deduplication_hack_main_spark.operators import (
    packing as packing_op,
)
from entity_deduplication_hack_main_spark.operators import (
    sampling as sampling_op,
)
from entity_deduplication_hack_main_spark.operators import (
    search as search_op,
)
from entity_deduplication_hack_main_spark.operators import (
    semdedup as semdedup_op,
)
from entity_deduplication_hack_main_spark.operators import setjoin as setjoin_op
from entity_deduplication_hack_main_spark.operators import suffix as suffix_op
from entity_deduplication_hack_main_spark.operators import (
    urldedup as urldedup_op,
)
from entity_deduplication_hack_main_spark.operators import verify as verify_op

CFG: DedupConfig = TESTDATA_CONFIG


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin spread sized off the session's core count (never a
    constant — scale-adaptive per the driver contract). The testdata
    tables are ONE parquet file each = one scan task, so every expression
    upstream of the first exchange (tokenize/hash kernels, regex chains,
    fingerprints) runs single-threaded without this. Same rationale +
    sizing as the r04 similar_part_names fix (measured there: 9s → 1.4s).

    A scan that already has at least ``defaultParallelism`` partitions (a
    multi-file table) arrives spread and is returned as is: the partition
    count comes from planning the scan, no Spark job, and spares a
    full-input shuffle at cluster scale."""
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism * 2)


def _pin(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer intermediate ONCE per invocation
    (eager localCheckpoint). Catalyst duplicates the entire upstream
    subtree per DataFrame reference — the r05 verify_candidate_pairs
    physical plan carried 44 copies of the representation kernel and 74
    Exchanges because candidate generation, the semi-reduce id set and
    both payload joins each re-embed it (dump a query's plan with
    ``python bench_extra.py explain <query>``). Pinning
    computes the subtree once inside the invocation and truncates the
    plan. NOT cross-run caching: every invocation builds a fresh
    checkpoint from the parquet inputs, and unlike .cache()/persist(),
    CacheManager never substitutes a localCheckpoint into a later
    plan-identical query — repeated bench legs recompute from scratch."""
    return df.localCheckpoint()


def _docs_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The representation kernel over ``documents``. No _spread: a
    round-robin spread ahead of the Arrow kernel measured slower at sf0.1
    on 4 cores in every consumer timed (10 alternating pairs)."""
    return represent.with_representation(
        _t(spark, sf_dir, "documents"),
        CFG,
        "doc_id",
        "text",
        "md5",
    )


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check


REGISTRY: dict[str, Query] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Query(fn, sql)
        return fn

    return deco


_REPR = represent.sql_repr_ctes(CFG)
_SIG = represent.sql_signature_cte(CFG)
_BANDS = lsh_op.sql_bands_from_sig(CFG)


# ===========================================================================
# A. Dedup core over `documents` (md5 strategy — bit-identical cross-engine)
# ===========================================================================


@register(
    "exact_dup_clusters",
    """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text),
           '[^\\p{L}\\p{N}]+', ' ', 'g')))) AS cluster_id
FROM documents
""",
)
def exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint (C1).

    No _spread here: the fingerprint expression is evaluated under the
    window's own exchange, and measured r06, adding a round-robin spread
    cost more than the single-task fingerprint pass (1.01 vs 0.72 s at
    sf1.0)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(textstats.fingerprint(F.col("text")))
    return docs.select(
        "doc_id", F.min("doc_id").over(w).alias("cluster_id")
    )


@register(
    "doc_fingerprints",
    f"SELECT doc_id, {textstats.sql_fingerprint('text')} AS fp FROM documents",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.fingerprint(F.col("text")).alias("fp")
    )


@register(
    "token_stats",
    f"""
SELECT doc_id,
       {textstats.sql_token_count('text')}::BIGINT AS n_tokens,
       {textstats.sql_distinct_token_count('text')}::BIGINT AS n_distinct_tokens
FROM documents
""",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.withColumn(
        "_toks", textstats.tokens_col(F.col("text"))
    ).select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("_toks"))
        .cast("bigint")
        .alias("n_distinct_tokens"),
    )


@register(
    "bpe_token_stats",
    f"""
SELECT doc_id,
       {textstats.sql_bpe_token_count('text')}::BIGINT AS n_bpe_tokens,
       {textstats.sql_token_count('text')}::BIGINT AS n_ws_tokens
FROM documents
""",
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the task brief names: the whitespace
    count (normalized) and the GPT-2-style BPE-ish pre-tokenizer segment
    count over the RAW text — the cheap length-in-tokens estimate a
    training-data pipeline budgets with."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.bpe_token_count(F.col("text"))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        textstats.token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
    )


@register(
    "shingle_set_digests",
    f"""
WITH {_REPR}
SELECT id AS doc_id, md5(array_to_string(ss, ',')) AS ss_digest FROM _ss
""",
)
def shingle_set_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir)
    dig = F.md5(
        F.array_join(F.transform("shingle_set", lambda x: x.cast("string")), ",")
    )
    return p.select(F.col("id").alias("doc_id"), dig.alias("ss_digest"))


@register(
    "minhash_signatures",
    f"""
WITH {_REPR},
{_SIG}
SELECT id AS doc_id, md5(array_to_string(sig, ',')) AS sig_digest FROM _sig
""",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir)
    dig = F.md5(
        F.array_join(F.transform("signature", lambda x: x.cast("string")), ",")
    )
    return p.select(F.col("id").alias("doc_id"), dig.alias("sig_digest"))


@register(
    "lsh_band_hashes",
    f"""
WITH {_REPR},
{_SIG},
{_BANDS}
SELECT id AS doc_id, band_id, band_hash FROM _bands
""",
)
def lsh_band_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir)
    return lsh_op.band_hashes(p, CFG, "signature", "id").select(
        F.col("id").alias("doc_id"), "band_id", "band_hash"
    )


@register(
    "lsh_candidate_pairs",
    f"""
WITH {_REPR},
{_SIG},
{_BANDS}
SELECT DISTINCT least(a.id, b.id) AS id1, greatest(a.id, b.id) AS id2
FROM _bands a JOIN _bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
""",
)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir).select("id", "signature")
    bands = lsh_op.band_hashes(p, CFG, "signature", "id")
    return lsh_op.candidate_pairs(bands, CFG, materialize=True)


@register(
    "verify_candidate_pairs",
    verify_op.sql_verify_pairs(CFG),
)
def verify_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE kernel pass: the payload feeds banding AND both verify joins —
    # pinned so the plan holds one copy (was 44 MapInArrow nodes, r05)
    p = _pin(
        _docs_payload(spark, sf_dir).select(
            "id", "signature", "shingle_set", "fp"
        )
    )
    bands = lsh_op.band_hashes(p, CFG, "signature", "id")
    pairs = _pin(lsh_op.candidate_pairs(bands, CFG, materialize=True))
    return verify_op.verify_pairs(
        pairs, p.select("id", "shingle_set", "fp"), CFG
    )


@register(
    "simhash_fingerprints",
    f"""
WITH {_REPR},
_h AS (SELECT id, unnest(th) AS h FROM _th),
_bits AS (
  SELECT id, j.j,
         sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM _h CROSS JOIN (FROM range(0, 60) t(j)) j
  GROUP BY id, j.j
),
_fp AS (
  SELECT id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM _bits GROUP BY id
)
SELECT t.id AS doc_id, coalesce(f.simhash, 0)::BIGINT AS simhash
FROM _tok t LEFT JOIN _fp f ON t.id = f.id
""",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir)
    return p.select(F.col("id").alias("doc_id"), "simhash")


@register(
    "simhash_hamming_pairs",
    ham_op.sql_hamming_pairs(CFG),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir)
    return ham_op.hamming_candidate_pairs(
        p.select("id", "simhash"), CFG, nbits=60, materialize=True
    )


@register(
    "winnow_candidate_pairs",
    suffix_op.sql_winnowed_pairs(CFG),
)
def winnow_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _docs_payload(spark, sf_dir).select("id", "winnow_fps")
    return suffix_op.winnow_pairs_from_payload(p, materialize=True)


_EDGES_SQL = f"""
SELECT id1, id2 FROM ({verify_op.sql_verify_pairs(CFG)}) WHERE status = 'pass'
"""


@register(
    "lsh_dedup_clusters",
    cc_op.sql_connected_components(
        _EDGES_SQL, "SELECT doc_id AS id FROM documents"
    ),
)
def lsh_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH channel end-to-end: candidates → verify pass → CC.

    The payload is pinned (one kernel pass feeds banding, both verify
    joins AND the CC vertex universe — previously each reference re-ran
    the kernel); candidate members are pinned inside candidate_pairs."""
    p = _pin(
        _docs_payload(spark, sf_dir).select(
            "id", "signature", "shingle_set", "fp"
        )
    )
    bands = lsh_op.band_hashes(p, CFG, "signature", "id")
    pairs = _pin(lsh_op.candidate_pairs(bands, CFG, materialize=True))
    verified = verify_op.verify_pairs(
        pairs, p.select("id", "shingle_set", "fp"), CFG
    )
    edges = verify_op.duplicate_edges(verified)
    return cc_op.connected_components(edges, p.select("id"), CFG).select(
        F.col("node").alias("node"), "cluster_id"
    )


@register(
    "dedup_cluster_sizes",
    f"""
SELECT n_members,
       count(*)::BIGINT AS n_clusters,
       (n_members * count(*))::BIGINT AS n_docs
FROM (
  SELECT cluster_id, count(*)::BIGINT AS n_members
  FROM ({cc_op.sql_connected_components(
      _EDGES_SQL, "SELECT doc_id AS id FROM documents"
  )})
  GROUP BY cluster_id
)
GROUP BY n_members
""",
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the end-to-end LSH dedup output — the
    standard corpus-curation report (how much of the corpus is duplicated,
    and in how large groups): one row per cluster size with the number of
    clusters and docs at that size. Sum(n_docs) == corpus size; the
    retained corpus after dedup is sum(n_clusters). Two partial-
    aggregating shuffles over the (doc, cluster_id) assignment — nothing
    beyond the clustering itself, so 100 TB-safe wherever the clustering
    is."""
    asn = lsh_dedup_clusters(spark, sf_dir)
    per_cluster = asn.groupBy("cluster_id").agg(
        F.count("*").alias("n_members")
    )
    return per_cluster.groupBy("n_members").agg(
        F.count("*").alias("n_clusters"),
        (F.first("n_members") * F.count("*")).alias("n_docs"),
    )


@register(
    "decontaminate_vs_holdout",
    f"""
WITH {_REPR},
{_SIG},
{_BANDS},
{decon_op.sql_decontaminate(CFG, "{id} % 10 != 0", "{id} % 10 = 0")}
""",
)
def decontaminate_vs_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch decontamination (operators/decontaminate.py): every-10th doc
    plays the benchmark holdout; flag train docs that exactly or nearly
    match it — the keep-eval-out-of-training operation."""
    # pinned: train/ref filters and the operator's fp/band/shingle channels
    # each re-reference the payload (6 kernel copies in the r05 plan)
    p = _pin(_docs_payload(spark, sf_dir))
    train = p.where(F.col("id") % 10 != 0)
    ref = p.where(F.col("id") % 10 == 0)
    return decon_op.decontaminate(train, ref, CFG)


_NGRAM13_CFG = replace(CFG, shingle_k=13)


@register(
    "ngram_overlap_contamination",
    f"""
WITH {represent.sql_repr_ctes(_NGRAM13_CFG)},
{decon_op.sql_ngram_overlap_stats("{id} % 10 != 0", "{id} % 10 = 0")}
""",
)
def ngram_overlap_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-recipe n-gram overlap decontamination
    (operators/decontaminate.py ngram_overlap_stats): per train doc, the
    fraction of its distinct 13-grams occurring anywhere in the holdout
    (GPT-3 appendix C's n; PaLM's 0.7 flag fraction) — catches partial
    containment (a quoted eval question) that whole-doc channels miss."""
    # no _spread: the ref branch sits under a BroadcastExchange whose
    # subtree cannot reuse the train branch's repartition exchange, so a
    # spread runs twice and serializes the broadcast build (measured
    # 3.2 s vs 0.9 s at sf0.1, +0.8 s at sf1.0)
    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    ref = docs.where(F.col("doc_id") % 10 == 0)
    return decon_op.ngram_overlap_stats(
        train, ref, CFG, n=13, hash_strategy="md5"
    )


@register(
    "ngram_jaccard_pairs",
    f"WITH {_REPR},\n{setjoin_op.sql_ngram_jaccard_pairs(CFG)}",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup: prefix-filtered set-similarity self-join
    (operators/setjoin.py) — the brief's 'n-gram Jaccard' channel, exact
    where MinHash-LSH is approximate. Feeds on the ordered-shingle kernel
    (no MinHash/winnow/SimHash work — this channel doesn't use them)."""
    docs = _t(spark, sf_dir, "documents")
    # pins measured NEUTRAL here at sf1.0 (17.3 vs 17.5 s) and pure
    # overhead at sf0.1 — the cost is the candidate join + array_intersect
    # verify, not the kernel; three restructures (late distinct,
    # overlap-count verify, PPJoin positional filter) were measured and
    # rejected (OPTIMIZATION_r06.md)
    p = setjoin_op.shingle_sets(docs, CFG, "doc_id", "text", "md5")
    return setjoin_op.ngram_jaccard_pairs(p, CFG)


@register(
    "dedup_keep_best",
    f"""
WITH _cc AS ({cc_op.sql_connected_components(
        _EDGES_SQL, "SELECT doc_id AS id FROM documents"
    )}),
_j AS (
  SELECT c.node, c.cluster_id, d.n_chars
  FROM _cc c JOIN documents d ON c.node = d.doc_id
)
SELECT doc_id, cluster_id, n_members FROM (
  SELECT node AS doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id)::BIGINT AS n_members,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, node ASC) AS rn
  FROM _j
) WHERE rn = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection — the dedup OUTPUT a curation run
    keeps: longest doc per cluster (lowest id on ties), via a partial-
    aggregating max(struct) groupBy, never a per-cluster sort
    (operators/cluster.py cluster_representatives)."""
    asn = lsh_dedup_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return cc_op.cluster_representatives(asn, docs)


@register(
    "dedup_sample_weights",
    f"""
WITH _cc AS ({cc_op.sql_connected_components(
        _EDGES_SQL, "SELECT doc_id AS id FROM documents"
    )}),
_sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
        FROM _cc GROUP BY cluster_id)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       (1.0::DOUBLE / s.cluster_size::DOUBLE) AS weight
FROM _cc c JOIN _sz s USING (cluster_id)
""",
)
def dedup_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (operators/cluster.py cluster_sample_weights):
    per-doc training sampling weight 1/cluster_size over the end-to-end
    clustering — the reweight-don't-delete curation alternative; each
    distinct content contributes one unit of training mass."""
    asn = lsh_dedup_clusters(spark, sf_dir)
    return cc_op.cluster_sample_weights(asn)


@register(
    "dup_rate_by_source",
    f"""
WITH _cc AS ({cc_op.sql_connected_components(
        _EDGES_SQL, "SELECT doc_id AS id FROM documents"
    )}),
_sz AS (SELECT cluster_id, count(*) AS n FROM _cc GROUP BY cluster_id),
_j AS (
  SELECT d.source, (s.n > 1) AS is_dup
  FROM _cc c
  JOIN documents d ON c.node = d.doc_id
  JOIN _sz s ON c.cluster_id = s.cluster_id
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS dup_rate
FROM _j GROUP BY source
""",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report (the Common-Crawl per-crawl-slice
    audit): share of each source's docs that sit in a >1-member cluster.
    Cost beyond the clustering: one partial-agg cluster-size groupBy, one
    hash join back (a mega-cluster key is hot only against a 1-row build
    side), one partial-agg rollup by source."""
    asn = lsh_dedup_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    sizes = asn.groupBy("cluster_id").agg(F.count("*").alias("n"))
    j = (
        asn.join(sizes, "cluster_id")
        .join(docs.select("doc_id", "source"), asn["node"] == F.col("doc_id"))
        .select("source", (F.col("n") > 1).alias("is_dup"))
    )
    dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        dup.alias("n_dup_docs"),
        F.round(dup.cast("double") / F.count("*"), 6).alias("dup_rate"),
    )


@register(
    "url_dedup_stats",
    """
WITH _u AS (
  SELECT doc_id, (doc_id % 10)::VARCHAR AS b, source AS s,
         ((doc_id // 10) % 5) AS v
  FROM documents
),
_raw AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://www.' || s || '.example:80/page/' || b || '/'
      WHEN 1 THEN 'https://' || s || '.example:443/page/' || b
                  || '?utm_source=feed&ref=rss'
      WHEN 2 THEN 'http://' || s || '.example:8080/page/' || b || '?b=2&a=1'
      WHEN 3 THEN 'https://' || s || '.example/page/' || b
                  || '?a=1&gclid=z&b=2'
      ELSE 'HTTPS://WWW.' || upper(s) || '.example/page/' || b || '#frag'
    END AS url
  FROM _u
),
_q AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
      '^www\\.', '') AS h,
    coalesce(array_to_string(list_sort(list_filter(
      string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
      p -> p <> '' AND NOT regexp_matches(
        p, '^(utm_[^=]*|gclid|fbclid|ref|fb_action_ids)='))), '&'), '')
      AS qn
  FROM _raw
),
_k AS (
  SELECT doc_id,
    CASE scheme
      WHEN 'http' THEN regexp_replace(h, ':80$', '')
      WHEN 'https' THEN regexp_replace(h, ':443$', '')
      ELSE h
    END
    || regexp_replace(
         regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '')
    || CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS url_key
  FROM _q
)
SELECT url_key, count(*)::BIGINT AS n_pages, min(doc_id) AS kept_id
FROM _k GROUP BY 1 HAVING count(*) >= 2
""",
)
def url_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (operators/urldedup.py — the cheapest
    Common-Crawl channel, run before any content hashing) demonstrated
    cross-engine: deterministic recrawl/tracking-decorated URL variants
    are synthesized per doc (five shapes exercising every rule — www +
    trailing slash + an https URL on :80, which is not the https default
    and stays a DISTINCT key, :443 + utm/ref params, a NON-default :8080
    port with out-of-order params that must stay a DISTINCT key (ports
    other than the scheme's default are different services, not recrawls
    — pinned cross-engine by these variants), gclid injection, uppercase
    host + fragment; the variant index is
    ``(doc_id div 10) % 5`` — per source doc_ids step 20, so the modulus
    must be odd to cover every variant), canonicalized
    with the production `canonical_url_key` (JVM parse_url + array ops; the
    oracle replays the same rules with RE2 + list lambdas), and reduced to
    (url_key, n_pages, kept_id) via the production `url_dup_stats` +
    `dedup_by_url` operators. The first-crawl-wins rule here degenerates
    to min(doc_id) (the documents table carries no warc_ts).

    Reference parity: URL identity is the webtext analog of the
    reference's entity-URI identity (`EvaluateVariations.ipynb cell 2`
    extract_uuid); the canonicalization rules follow the documented
    Common-Crawl curation recipe, see operators/urldedup.py.

    Scale: one narrow projection + one partial-aggregating groupBy — the
    same skew-safe min(struct) shape as line dedup; no windows, no arrays.
    """
    b = (F.col("doc_id") % 10).cast("string")
    v = F.expr("doc_id div 10") % 5
    s = F.col("source")
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://www."), s, F.lit(".example:80/page/"), b,
                F.lit("/"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://"), s, F.lit(".example:443/page/"), b,
                F.lit("?utm_source=feed&ref=rss"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://"), s, F.lit(".example:8080/page/"), b,
                F.lit("?b=2&a=1"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://"), s, F.lit(".example/page/"), b,
                F.lit("?a=1&gclid=z&b=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://WWW."), F.upper(s), F.lit(".example/page/"),
                b, F.lit("#frag"),
            )
        )
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source").withColumn(
        "url", url
    )
    kept = urldedup_op.dedup_by_url(docs, ts_col=None).select(
        "url_key", F.col("doc_id").alias("kept_id")
    )
    stats = urldedup_op.url_dup_stats(docs)
    return stats.join(kept, "url_key").select("url_key", "n_pages", "kept_id")


# ===========================================================================
# B. Text analysis (training-data pipeline operators)
# ===========================================================================


@register(
    "lang_stopword_scores",
    f"""
SELECT doc_id,
       round({textstats.sql_stopword_ratio('text', 'en')}, 6) AS en_ratio,
       round({textstats.sql_stopword_ratio('text', 'de')}, 6) AS de_ratio,
       round({textstats.sql_stopword_ratio('text', 'fr')}, 6) AS fr_ratio,
       round({textstats.sql_stopword_ratio('text', 'es')}, 6) AS es_ratio,
       round({textstats.sql_stopword_ratio('text', 'nl')}, 6) AS nl_ratio
FROM documents
""",
)
def lang_stopword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.withColumn(
        "_toks", textstats.tokens_col(F.col("text"))
    ).select(
        "doc_id",
        *[
            F.round(textstats.stopword_ratio_from(F.col("_toks"), lg), 6).alias(
                f"{lg}_ratio"
            )
            for lg in ["en", "de", "fr", "es", "nl"]
        ],
    )


@register(
    "lang_distribution",
    "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang",
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


_SQL_TOKS = textnorm.sql_tokens(textnorm.sql_normalize("text"))


@register(
    "top_tokens_per_lang",
    f"""
WITH _tok AS (
  SELECT lang, unnest({_SQL_TOKS}) AS token FROM documents
),
_cnt AS (
  SELECT lang, token, count(*) AS n FROM _tok GROUP BY lang, token
),
_rk AS (
  SELECT lang, token, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
  FROM _cnt
)
SELECT lang, token, n, rank FROM _rk WHERE rank <= 5
""",
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 top-k per group over exploded tokens."""
    # no _spread: explode+groupBy is shuffle-bound; the spread was
    # measured pure overhead at both scales (r06)
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(textnorm.tokens(textnorm.normalize(F.col("text")))).alias(
            "token"
        ),
    )
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("lang", "token", "n", "rank")
    )


@register(
    "quality_scores",
    f"""
WITH _q AS (
  SELECT doc_id,
         {textstats.sql_token_count('text')} AS tc,
         {textstats.sql_distinct_token_count('text')} AS dtc,
         CASE WHEN length(text) > 0 THEN
           length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))::DOUBLE
             / length(text)
         ELSE 0.0 END AS pr,
         list_sum(list_transform({_SQL_TOKS}, t -> length(t))) AS tot_len
  FROM documents
)
SELECT doc_id,
       round((CASE WHEN tc > 0 THEN dtc::DOUBLE / tc ELSE 0.0 END)
             * (1.0 - pr)
             * (CASE WHEN tc > 0
                     AND tot_len::DOUBLE / tc >= 2
                     AND tot_len::DOUBLE / tc <= 12
                     THEN 1.0 ELSE 0.5 END), 6) AS quality
FROM _q
""",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "_toks", textstats.tokens_col(F.col("text"))
    ).select(
        "doc_id",
        textstats.quality_score_from(F.col("_toks"), F.col("text")).alias(
            "quality"
        ),
    )


@register("pack_plan_docs", packing_op.sql_pack_plan())
def pack_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing planner (operators/packing.py): per-doc
    coordinates in the hash-sharded concat-and-chunk token stream —
    the md5 twin of the xxhash64 production path (same plan shape)."""
    docs = _t(spark, sf_dir, "documents")
    return packing_op.pack_plan(docs, hash_strategy="md5")


@register("unigram_lm_scores", lm_fn.sql_unigram_scores())
def unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity gate (functions/lm.py): in-corpus unigram
    LM mean log-probability per doc + exact head/middle/tail terciles
    (the ntile oracle twin; production uses perplexity_buckets)."""
    # no _spread (measured worse at both scales: the vocab aggregation
    # repartitions anyway)
    docs = _t(spark, sf_dir, "documents")
    scored = lm_fn.unigram_logprob(docs)
    return lm_fn.perplexity_buckets_exact(scored)


_LANGS = ("en", "de", "fr", "es", "nl")


def _sql_curation_report() -> str:
    g = textstats.sql_gopher_quality("text")
    pii = pii_fn.sql_pii_count_exprs("text")
    n_pii = "(" + " + ".join(pii.values()) + ")"
    rat = ", ".join(
        f"round({textstats.sql_stopword_ratio('text', lg)}, 6) AS r_{lg}"
        for lg in _LANGS
    )
    fp = textstats.sql_fingerprint("text")
    return f"""
WITH _g AS (SELECT doc_id, {', '.join(g)} FROM documents),
_l AS (SELECT doc_id, {rat} FROM documents),
_p AS (
  SELECT doc_id, {n_pii}::BIGINT AS n_pii,
         {textstats.sql_token_count('text')}::BIGINT AS n_tokens
  FROM documents
),
_f AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY {fp}) AS n_fp,
         min(doc_id) OVER (PARTITION BY {fp}) AS rep
  FROM documents
)
SELECT d.doc_id, n_tokens,
       CASE WHEN r_en >= greatest(r_de, r_fr, r_es, r_nl) THEN 'en'
            WHEN r_de >= greatest(r_fr, r_es, r_nl) THEN 'de'
            WHEN r_fr >= greatest(r_es, r_nl) THEN 'fr'
            WHEN r_es >= r_nl THEN 'es' ELSE 'nl' END AS pred_lang,
       {textstats.SQL_GOPHER_QUALITY_PASS} AS gopher_pass,
       (n_fp > 1) AS is_exact_dup,
       (rep = d.doc_id) AS is_rep,
       n_pii,
       ({textstats.SQL_GOPHER_QUALITY_PASS} AND rep = d.doc_id) AS keep
FROM documents d
JOIN _g USING (doc_id) JOIN _l USING (doc_id)
JOIN _p USING (doc_id) JOIN _f USING (doc_id)
"""


@register("curation_report", _sql_curation_report())
def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision table — one row per doc composing the
    engine's signals the way a data curator ships them: token count,
    predicted language (first-max stopword-ratio chain), Gopher quality
    verdict, exact-dup membership + representative flag, PII match
    count, and the keep rule (quality pass AND exact-dup
    representative). Every signal reuses the individually-oracled
    operator; this query proves they compose in ONE plan (the window is
    fingerprint-partitioned; everything else is per-row JVM)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    d = docs.withColumn("_toks", textstats.tokens_col(F.col("text")))
    rat = {
        lg: F.round(textstats.stopword_ratio_from(F.col("_toks"), lg), 6)
        for lg in _LANGS
    }
    pred = (
        F.when(rat["en"] >= F.greatest(rat["de"], rat["fr"], rat["es"], rat["nl"]), "en")
        .when(rat["de"] >= F.greatest(rat["fr"], rat["es"], rat["nl"]), "de")
        .when(rat["fr"] >= F.greatest(rat["es"], rat["nl"]), "fr")
        .when(rat["es"] >= rat["nl"], "es")
        .otherwise("nl")
    )
    g = textstats.gopher_quality_cols(F.col("text"))
    gpass = textstats.gopher_quality_pass(g)
    counts = pii_fn.pii_count_cols(F.col("text"))
    n_pii = None
    for c in counts.values():
        n_pii = c if n_pii is None else n_pii + c
    w = Window.partitionBy(textstats.fingerprint(F.col("text")))
    is_rep = F.min("doc_id").over(w) == F.col("doc_id")
    return d.select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        pred.alias("pred_lang"),
        gpass.alias("gopher_pass"),
        (F.count("*").over(w) > 1).alias("is_exact_dup"),
        is_rep.alias("is_rep"),
        n_pii.cast("bigint").alias("n_pii"),
        (gpass & is_rep).alias("keep"),
    )


# ===========================================================================
# C. Relational operator coverage (TPC-H-ish tables)
# ===========================================================================


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) AS sum_qty,
       round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE, 2) AS sum_base_price,
       round((sum(l_extendedprice::DECIMAL(18,2)
                  * (1 - l_discount::DECIMAL(18,2))))::DOUBLE, 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style hash aggregation (A2/A3 analog) with exact decimal
    sums (double sums are summation-order-dependent; decimals are not)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
        F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
        F.round(F.sum(price * (1 - disc)).cast("double"), 2).alias(
            "sum_disc_price"
        ),
        F.count("*").alias("count_order"),
    )


@register(
    "top_orders_per_customer",
    """
WITH _rk AS (
  SELECT o_custkey, o_orderkey,
         round(o_totalprice::DECIMAL(18,2)::DOUBLE, 2) AS totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, totalprice, rank FROM _rk WHERE rank <= 3
""",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/W1: top-k per group with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2
            ).alias("totalprice"),
            "rank",
        )
    )


@register(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       round((sum(l.l_extendedprice::DECIMAL(18,2)
                  * (1 - l.l_discount::DECIMAL(18,2))))::DOUBLE, 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: broadcast dims, shuffle on the fact keys."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(price * (1 - disc)).cast("double"), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "customers_without_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN
  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 anti-join semantics (the eval FN set): customers with no
    high-value order. The filter pushes below the anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "events_hourly",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       event_type,
       count(*) AS n_events,
       round((sum(value::DECIMAL(18,4)))::DOUBLE, 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch aggregation over the event stream table."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    )


@register(
    "purchasers_without_errors",
    """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id FROM events
WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-24 00:00:00'
""",
)
def purchasers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3 except / set difference: purchasers with no recent error."""
    e = _t(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "purchase").select("user_id").distinct()
    b = (
        e.where(
            (F.col("event_type") == "error")
            & (F.col("ts") >= F.lit("2024-01-24 00:00:00").cast("timestamp"))
        )
        .select("user_id")
        .distinct()
    )
    return a.subtract(b)


@register(
    "similar_part_names",
    """
SELECT a.p_partkey AS id1, b.p_partkey AS id2,
       levenshtein(a.p_name, b.p_name) AS lev
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE abs(length(a.p_name) - length(b.p_name)) <= 4
  AND levenshtein(a.p_name, b.p_name) <= 4
""",
)
def similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 blocked string-similarity join (J1 block-then-compare).

    Blocking key = (brand, length): |len(a)-len(b)| > k ⟹ levenshtein > k,
    so one side explodes to its length ±4 and joins the other side's exact
    length — each qualifying pair matches exactly once (at b's length) and
    the length prefilter is implied by the key. vs blocking on brand alone
    (25 keys in TPC-H): key cardinality rises ~30× (≈775 at sf0.1), block
    sizes drop quadratically, and a shuffle join is no longer pinned to 25
    skew-prone partitions — the r01 scale-killer on this query. The
    round-robin repartition (sized to the session's core count, not a
    constant) spreads the probe side when the scan is a single small file
    (sf0.1 is one task otherwise — measured 9s → 1.4s); a key-partitioned
    shuffle join at cluster scale re-shuffles anyway."""
    # r06: decide on distinct names, expand to id pairs afterwards (guide
    # §8: make every expensive step operate on a lightweight proxy). The
    # levenshtein cost of the id-level block join is
    # Σ_block |a_block|·|b_block| — ~10⁹ candidate distances at sf1.0
    # (measured 35-45 s) even though the name column holds only tens of
    # DISTINCT values (3000+ copies each at sf1.0): every distance is
    # recomputed millions of times. Instead: (1) the same (brand,
    # length±4) blocked join, run over the DISTINCT (brand, name) table —
    # thousands of levenshteins, not billions; (2) the qualifying
    # (brand, n1, n2, lev) name pairs (bounded by the true result's name
    # pairs — broadcast-sized by construction) are attached back to the id
    # rows with two equi-joins and the id1 < id2 filter. Each unordered id
    # pair arrives exactly once (its ORDERED name pair (name(id1),
    # name(id2)) is unique, and name_pairs carries both orders plus the
    # n1 = n2 diagonal). Data with fully distinct names degrades to
    # exactly the old plan shape plus one cheap distinct — the rewrite is
    # semantically identical for any input.
    p = _t(spark, sf_dir, "part")
    dn = p.select("p_brand", "p_name").distinct()
    x = dn.select(
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("n1"),
        F.explode(
            F.sequence(F.length("p_name") - 4, F.length("p_name") + 4)
        ).alias("lb"),
    ).repartition(spark.sparkContext.defaultParallelism * 2)
    y = dn.select(
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("n2"),
        F.length("p_name").alias("lb"),
    )
    name_pairs = (
        x.join(y, ["brand", "lb"])
        .select("brand", "n1", "n2", F.levenshtein("n1", "n2").alias("lev"))
        .where(F.col("lev") <= 4)
    )
    # the probe stream emits the full ~10⁸-row expansion — spread the
    # single-file scan or the whole emit runs on one task
    a = _spread(spark, p).select(
        F.col("p_partkey").alias("id1"),
        F.col("p_name").alias("n1"),
        F.col("p_brand").alias("brand"),
    )
    b = p.select(
        F.col("p_partkey").alias("id2"),
        F.col("p_name").alias("n2"),
        F.col("p_brand").alias("brand"),
    )
    # both expansion joins broadcast (name_pairs is result-bounded; b is
    # one narrow row per part) so the ~10⁸-row expansion at sf1.0 is two
    # pipelined map-side BHJs emitting (id1, id2, lev) — never a
    # sort-merge shuffle of the fanned-out stream; names are projected
    # away as soon as each join consumes them (guide §2.3)
    return (
        a.join(F.broadcast(name_pairs), ["brand", "n1"])
        .select("id1", "brand", "n2", "lev")
        .join(F.broadcast(b), ["brand", "n2"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "lev")
    )


# --- entity verification (P6-P8 / C1-C3) oracle ---------------------------
# Record-linkage twin tables derived DETERMINISTICALLY from `customer` (+
# nation name): source A = the raw fields; source B = the same customers
# through a noisy channel (case change, one-char balance edit, dropped
# nation, an acronym-collapsed segment) — each perturbation keyed on
# c_custkey mod classes so both engines derive identical records. The
# balance field is rounded to a BIGINT before stringifying (float→string
# formatting differs across engines; integer strings do not). Pairs = the
# linkage self-pairs (k, k) plus adjacent (k, k+1) non-match probes.

_ENT_FIELDS = ["name", "nat", "bal", "seg"]


def _sql_populated(x: str) -> str:
    return f"({x} IS NOT NULL AND trim({x}) != '' AND lower({x}) != 'nan')"


def _entity_oracle_sql() -> str:
    from entity_deduplication_hack_main_spark.functions import (
        similarity as simfn,
    )

    sims, commons, pa, pb, exact_terms = [], [], [], [], []
    for f in _ENT_FIELDS:
        a, b = f"a_{f}", f"b_{f}"
        common = f"({_sql_populated(a)} AND {_sql_populated(b)})"
        base = f"({simfn.sql_norm_levenshtein_sim(a, b)})"
        boosted = (
            f"CASE WHEN {simfn.sql_acronym_match(a, b)} "
            f"THEN greatest({base}, 0.95) ELSE {base} END"
        )
        sims.append(f"CASE WHEN {common} THEN ({boosted}) END AS sim_{f}")
        commons.append(f"{common}::INT")
        pa.append(f"{_sql_populated(a)}::INT")
        pb.append(f"{_sql_populated(b)}::INT")
        exact_terms.append(f"coalesce(sim_{f}, -1.0) IN (1.0, -1.0)")
    total = " + ".join(f"coalesce(sim_{f}, 0.0)" for f in _ENT_FIELDS)
    thr = simfn.sql_adaptive_threshold("n_common")
    return f"""
WITH _r AS (
  SELECT c_custkey, c_name, n_name,
         round(c_acctbal)::BIGINT::VARCHAR AS bal_s, c_mktsegment
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
_a AS (
  SELECT c_custkey AS id, c_name AS name, n_name AS nat,
         bal_s AS bal, c_mktsegment AS seg
  FROM _r
),
_b AS (
  SELECT c_custkey AS id,
         CASE WHEN c_custkey % 7 = 0 THEN '' ELSE upper(c_name) END AS name,
         CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE n_name END AS nat,
         CASE WHEN c_custkey % 9 = 0 THEN bal_s ELSE bal_s || '7' END AS bal,
         CASE WHEN c_custkey % 4 = 0 THEN substr(c_mktsegment, 1, 1)
              ELSE c_mktsegment END AS seg
  FROM _r
),
_p AS (
  SELECT id AS id1, id AS id2 FROM _a
  UNION ALL
  SELECT a1.id, a2.id FROM _a a1 JOIN _a a2 ON a2.id = a1.id + 1
),
_j AS (
  SELECT p.id1, p.id2,
         {", ".join(f"a.{f} AS a_{f}, b.{f} AS b_{f}" for f in _ENT_FIELDS)}
  FROM _p p JOIN _a a ON a.id = p.id1 JOIN _b b ON b.id = p.id2
),
_s AS (
  SELECT id1, id2, {", ".join(sims)},
         {" + ".join(commons)} AS n_common,
         {" + ".join(pa)} AS n_pop_a,
         {" + ".join(pb)} AS n_pop_b
  FROM _j
),
_v AS (
  SELECT id1, id2, n_common,
         {", ".join(f"sim_{f}" for f in _ENT_FIELDS)},
         round(CASE WHEN n_common > 0 THEN ({total}) / n_common END, 9)
           AS avg_sim,
         {thr} AS threshold,
         (n_common > 0 AND n_pop_a = n_common AND n_pop_b = n_common
          AND {" AND ".join(exact_terms)}) AS is_exact
  FROM _s
),
_c AS (
  SELECT id1, id2, n_common,
         {", ".join(f"round(sim_{f}, 6) AS sim_{f}" for f in _ENT_FIELDS)},
         round(avg_sim, 6) AS avg_sim, threshold, is_exact,
         CASE WHEN avg_sim >= threshold THEN 'pass' ELSE 'fail' END AS status,
         CASE WHEN is_exact THEN 'true_duplicate'
              WHEN avg_sim >= 0.9 THEN 'near-exact duplicate'
              WHEN avg_sim >= 0.7 THEN 'similar entity'
              ELSE 'conflicting entry' END AS dup_type
  FROM _v
)
SELECT * FROM _c
WHERE n_common > 0 AND NOT (status = 'fail' AND n_common >= 3)
"""


@register("entity_verify_pairs", _entity_oracle_sql())
def entity_verify_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6-P8/C1-C3 end-to-end through operators/entity.verify_entity_pairs
    — per-field lowercased Levenshtein similarity, acronym boost to 0.95,
    adaptive threshold by common-field count, exactness, taxonomy, and
    filter-mode drops — over the deterministic customer-linkage twin
    tables described above (the one SURVEY operator family that was
    pytest-only before r05)."""
    from entity_deduplication_hack_main_spark.operators import (
        entity as entity_op,
    )

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rec = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).select(
        "c_custkey",
        "c_name",
        "n_name",
        F.round("c_acctbal").cast("bigint").cast("string").alias("bal_s"),
        "c_mktsegment",
    )
    k = F.col("c_custkey")
    a = rec.select(
        k.alias("id"),
        F.col("c_name").alias("name"),
        F.col("n_name").alias("nat"),
        F.col("bal_s").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    b = rec.select(
        k.alias("id"),
        F.when(k % 7 == 0, F.lit("")).otherwise(F.upper("c_name")).alias("name"),
        F.when(k % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("n_name"))
        .alias("nat"),
        F.when(k % 9 == 0, F.col("bal_s"))
        .otherwise(F.concat(F.col("bal_s"), F.lit("7")))
        .alias("bal"),
        F.when(k % 4 == 0, F.substring("c_mktsegment", 1, 1))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    ids = a.select(F.col("id"))
    pairs = ids.select(
        F.col("id").alias("id1"), F.col("id").alias("id2")
    ).unionByName(
        ids.select(F.col("id").alias("id1"), (F.col("id") + 1).alias("id2"))
        .join(ids.select(F.col("id").alias("id2")), "id2", "left_semi")
    )
    # Both record sides broadcast (15k rows at sf0.1), so the per-field
    # Levenshtein + acronym work runs on `pairs`'s partitioning — which
    # descends from the single-file customer scan (ONE task). Round-robin
    # spread before the compute-heavy join, same reasoning (and measured
    # effect) as similar_part_names above; a real cluster's multi-file
    # scan already arrives spread.
    pairs = pairs.repartition(spark.sparkContext.defaultParallelism * 2)
    # a/b are customer⋈nation projections — post-join stats are unknown to
    # Catalyst, so without the hint both record joins plan as SMJ (three
    # extra Exchange+Sort stages for two ~15k-row sides; measured 3.0 →
    # 1.3 s). At cluster scale the record sides of a verification join are
    # the candidate-pair *payload* lookup — broadcastable whenever the
    # record table fits, else the SMJ fallback is the right plan anyway.
    out = entity_op.verify_entity_pairs(
        pairs, F.broadcast(a), F.broadcast(b), _ENT_FIELDS, filter_mode=True
    )
    return out.select(
        "id1",
        "id2",
        "n_common",
        *[F.round(f"sim_{f}", 6).alias(f"sim_{f}") for f in _ENT_FIELDS],
        F.round("avg_sim", 6).alias("avg_sim"),
        "threshold",
        "is_exact",
        "status",
        "dup_type",
    )


@register(
    "exact_dup_group_count",
    """
SELECT count(*) AS n_groups, coalesce(sum(n), 0)::BIGINT AS n_docs_in_groups
FROM (
  SELECT md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))) AS fp,
         count(*) AS n
  FROM documents GROUP BY 1 HAVING count(*) > 1
)
""",
)
def exact_dup_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 match counting over exact-dup groups."""
    docs = _t(spark, sf_dir, "documents")
    groups = (
        docs.groupBy(textstats.fingerprint(F.col("text")).alias("fp"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_docs_in_groups"),
    )


@register(
    "event_sessions",
    """
WITH _lag AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
_marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM _lag
),
_sess AS (
  -- event_id tiebreak keeps the prefix sum total-ordered: rows tied on ts
  -- would otherwise sum in engine-dependent order and flake the oracle
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM _marked
)
SELECT user_id, session_id::BIGINT AS session_id,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM _sess GROUP BY user_id, session_id
""",
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — lag + running-sum
    windows, the batch shape of stateful streaming sessionization."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # event_id tiebreak: a total order makes the running sum deterministic
    # for rows tied on ts (oracle-flake fix, ADVICE r01)
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = marked.select(
        "user_id", "ts", F.sum("new_s").over(ws).alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


# ===========================================================================
# D. Embedding similarity (E6/E7 analog + ANN)
# ===========================================================================


_KNN_SQL = """
WITH _p AS (SELECT * FROM embeddings WHERE vec_id % 10 = 0),
_s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
  FROM _p p CROSS JOIN embeddings c
  WHERE p.vec_id != c.vec_id
),
_rk AS (
  SELECT probe_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM _s
)
SELECT probe_id, neighbor_id, cosine, rank FROM _rk WHERE rank <= 5
"""


@register("knn_matmul", _KNN_SQL)
@register("knn_bruteforce", _KNN_SQL)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per probe (every 10th vector); also
    registered as ``knn_matmul``, its throughput name."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 10 == 0)
    return knn_op.brute_force_knn(probes, emb, k=5)


@register(
    "embedding_near_dup_matmul",
    """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
""",
)
def embedding_near_dup_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label-blocked near-dup channel under its throughput name: the
    same :func:`knn.embedding_near_dup_pairs` call and oracle as
    ``embedding_near_dup_pairs``."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn_op.embedding_near_dup_pairs(emb, threshold=0.3)


@register(
    "knn_ivf",
    knn_op.sql_ivf_knn(dim=64, k=5, n_cells=16, nprobe=4),
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the task brief's inverted-file variant next to the
    hyperplane-LSH path): seeded data-independent unit anchors as the
    coarse quantizer, one cell per corpus vector, nprobe=4 of 16 cells
    per probe, exact cosine + rank on the candidates. The oracle runs
    the IDENTICAL algorithm (same anchor literals, same rounded-dot
    argmax + tie-break), so this checks the index structure itself, not
    just a recall bound — the recall-vs-bruteforce gates live in pytest
    (`test_ivf_knn_full_probe_equals_bruteforce_and_recall_monotone`);
    `tests/test_optim.py` checks the operator against `knn.sql_ivf_knn`
    directly."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    probes = base.where(F.col("vec_id") % 10 == 0)
    # single-file testdata scan = ONE task; the probes go through the
    # driver, so the corpus side does all cell-assignment + cosine work —
    # spread it
    # (same rationale + sizing as similar_part_names)
    corpus = base.repartition(spark.sparkContext.defaultParallelism)
    return knn_op.ivf_knn(
        probes, corpus, dim=64, k=5, n_cells=16, nprobe=4,
        id_col="vec_id", vec_col="v",
    )


@register(
    "embedding_near_dup_pairs",
    """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
""",
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup channel, blocked by label."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn_op.embedding_near_dup_pairs(
        emb, threshold=0.3, block_col="label"
    )


@register(
    "part_types_by_brand",
    """
SELECT p_brand,
       array_to_string(list_sort(list_distinct(list(p_type))), ',') AS types,
       count(DISTINCT p_type) AS n_types
FROM part GROUP BY p_brand
""",
)
def part_types_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-type field-schema discovery: the distinct value set observed
    per group (the reference discovers per-entity-type predicate sets by
    scanning literals; the relational analog is collect_set per key).
    Map-side partial collect_set keeps the shuffle at set-size, not
    row-count."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.array_join(F.array_sort(F.collect_set("p_type")), ",").alias(
            "types"
        ),
        F.count_distinct(F.col("p_type")).alias("n_types"),
    )


_SPAN_MIN = 50  # k + WINNOW_WINDOW - 1 for the testdata config (3 + 48 - 1)


def _sql_span_side(side: int) -> str:
    """Marked shingle positions of one direction: position i of doc a whose
    shingle occurs anywhere in doc b (grp_i is 0-based). The position and
    membership flag are computed inside ONE indexed list_transform and
    unnested as a struct (DuckDB's lateral range() rejects column
    arguments, and unnest(range(len(..))) + a sibling array index trips
    its binder)."""
    a, b = ("id1", "id2") if side == 1 else ("id2", "id1")
    return f"""
SELECT id1, id2, side, (u.i - 1)::INT AS grp_i,
       row_number() OVER (PARTITION BY id1, id2 ORDER BY u.i) AS rn
FROM (
  SELECT p.id1 AS id1, p.id2 AS id2, {side} AS side,
         unnest(list_transform(sa.sh,
                (x, i) -> {{'i': i, 'm': list_contains(sb.sh, x)}})) AS u
  FROM _wpairs p
  JOIN _sh sa ON sa.id = p.{a}
  JOIN _sh sb ON sb.id = p.{b}
)
WHERE u.m
"""


@register(
    "winnow_containment_spans",
    f"""
WITH {_REPR},
_f AS (SELECT id, unnest(wn) AS wfp FROM _wn),
_keep AS (
  SELECT wfp FROM _f GROUP BY wfp
  HAVING count(*) BETWEEN 2 AND {CFG.winnow_max_df}
),
_m AS (SELECT _f.id, _f.wfp FROM _f JOIN _keep USING (wfp)),
_wpairs AS (
  SELECT a.id AS id1, b.id AS id2
  FROM _m a JOIN _m b ON a.wfp = b.wfp AND a.id < b.id
  GROUP BY a.id, b.id HAVING count(*) >= 2
),
_mark AS ({_sql_span_side(1)} UNION ALL {_sql_span_side(2)}),
_isl AS (
  SELECT id1, id2, side, grp_i, grp_i - rn AS grp FROM _mark
),
_runs AS (
  SELECT id1, id2, side,
         min(grp_i)::INT AS start_tok,
         (max(grp_i) + {CFG.shingle_k - 1})::INT AS end_tok
  FROM _isl GROUP BY id1, id2, side, grp
)
SELECT id1, id2, side, start_tok, end_tok FROM _runs
WHERE end_tok - start_tok + 1 >= {_SPAN_MIN}
""",
)
def winnow_containment_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-emitting substring dedup end-to-end: winnow candidate pairs →
    exact token offsets of every maximal shared shingle run, both
    directions (Lee et al. 2021-style span output). Oracle = gaps-and-
    islands SQL over the ordered shingle arrays."""
    docs = _t(spark, sf_dir, "documents")
    p = _docs_payload(spark, sf_dir)
    pairs = suffix_op.winnow_pairs_from_payload(p)
    spans = suffix_op.containment_spans(
        pairs, docs, CFG, "doc_id", "text", "md5", min_tokens=_SPAN_MIN
    )

    def side(col: str, n: int) -> DataFrame:
        return spans.select(
            "id1",
            "id2",
            F.lit(n).alias("side"),
            F.explode(col).alias("s"),
        ).select(
            "id1",
            "id2",
            "side",
            F.col("s.start").alias("start_tok"),
            F.col("s.end").alias("end_tok"),
        )

    return side("spans1", 1).unionByName(side("spans2", 2))


@register(
    "exact_substring_spans",
    suffix_op.sql_substring_spans(CFG, span_k=20),
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-free exact-substring pass (the north-star "suffix-array
    pass"): every maximal verbatim run >= 20 tokens shared between any two
    docs, with token offsets in both — no candidate pairs in. Catches the
    20-50-token verbatim runs below the winnow channel's 52-token
    guarantee (see operators/suffix.py substring_spans_exact)."""
    docs = _t(spark, sf_dir, "documents")
    return suffix_op.substring_spans_exact(
        docs, CFG, span_k=20, hash_strategy="md5", materialize=True
    )


@register(
    "substring_cut_docs",
    suffix_op.sql_cut_spans(suffix_op.sql_substring_spans(CFG, span_k=20)),
)
def substring_cut_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span CUTTING (Lee et al. 2021's dedup action): the corpus with each
    duplicated >= 20-token run removed from the higher-id doc — the
    downstream product of exact_substring_spans a training-data pipeline
    actually consumes."""
    docs = _t(spark, sf_dir, "documents")
    spans = suffix_op.substring_spans_exact(
        docs, CFG, span_k=20, hash_strategy="md5", materialize=True
    )
    return suffix_op.cut_spans(docs, spans)


@register(
    "substring_cut_docs_raw",
    suffix_op.sql_cut_spans_raw(suffix_op.sql_substring_spans(CFG, span_k=20)),
)
def substring_cut_docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW-text span cutting (r03 verdict #1): each duplicated >= 20-token
    run spliced out of the higher-id doc's ORIGINAL bytes — casing,
    punctuation and whitespace outside the cut ranges are untouched, so the
    output can substitute for the corpus as training data. The normalized-
    token variant (`substring_cut_docs`) remains for diffing."""
    docs = _t(spark, sf_dir, "documents")
    spans = suffix_op.substring_spans_exact(
        docs, CFG, span_k=20, hash_strategy="md5", materialize=True
    )
    return suffix_op.cut_spans_raw(docs, spans)


@register(
    "embedding_near_dup_lsh",
    """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pert AS (SELECT vec_id + 10000000 AS vec_id, [v[1] + 0.015625] || v[2:] AS v
         FROM base),
allv AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM pert)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99
""",
)
def embedding_near_dup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION embedding near-dup: hyperplane-bucket blocking, no label
    column, no crossJoin (VERDICT r01 missing #1).

    Testdata embeddings have no natural near-dups (max pairwise cosine
    0.513), so the query plants one: each vector unioned with a copy whose
    first coordinate is shifted by 2^-6 (exact in binary — bit-identical
    across engines). The planted pairs sit at cosine ≈ 1; the oracle is the
    exact all-pairs SQL, which the LSH path must reproduce in full — at
    12 planes × 16 tables the analytic miss probability per planted pair
    is ~1e-23, so set equality is deterministic in practice; the recall
    gate on clustered synthetic vectors lives in pytest."""
    # allv stays LAZY — its transform is cheap and the banding is pinned
    # inside candidate_pairs, so re-evaluating allv per verify join is
    # cheaper than an extra eager checkpoint job.
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    pert = base.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.015625)),
            F.slice("v", 2, 63),
        ).alias("v"),
    )
    allv = base.unionByName(pert)
    return knn_op.embedding_near_dup_lsh(
        allv, dim=64, threshold=0.99, id_col="vec_id", vec_col="v",
        materialize=True,
    )


# ===========================================================================
# G. Line-level dedup + Gopher repetition signals (C4/RefinedWeb/Gopher)
# ===========================================================================
# The driver's `documents` texts are single-line token streams, so these
# queries derive a deterministic multi-line view — every 5th space becomes
# a newline — IDENTICALLY in both engines (same left-to-right
# non-overlapping regex replace in Java regex and RE2). The operators
# themselves consume any text with newlines (the synthetic web corpus'
# extracted text is naturally multi-line; tests/test_linededup.py runs
# them there too).

_LINE_PAT = r"((\S+ ){4}\S+) "
_SQL_TEXT_NL = (
    "regexp_replace(text, '((\\S+ ){4}\\S+) ', '\\1' || chr(10), 'g')"
)


def _docs_nl(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """spread=True for per-row-compute-bound consumers (the Gopher
    kernels: measured 5.45 → 1.54 s at sf1.0); spread=False for the
    line-dedup family, whose explode + groupBy repartitions anyway and
    whose dual-branch join-back re-runs the spread exchange (measured
    pure overhead at both scales)."""
    docs = _t(spark, sf_dir, "documents")
    if spread:
        docs = _spread(spark, docs)
    return docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), _LINE_PAT, "$1\n").alias("text"),
    )


@register(
    "gopher_repetition_scores",
    repetition_fn.sql_repetition_scores("documents", "doc_id", _SQL_TEXT_NL),
)
def gopher_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-quality signals (Rae et al. 2021 A1.1): duplicate
    line fracs + top-{2,3,4} / dup-{5..10} n-gram char fracs + pass flag.
    One projection + one Arrow kernel pass, no shuffle
    (functions/repetition.py)."""
    scored = repetition_fn.repetition_scores(
        _docs_nl(spark, sf_dir), "doc_id", "text", "md5"
    )
    return scored.withColumnRenamed("id", "doc_id")


@register(
    "duplicate_line_stats",
    linededup_op.sql_duplicate_line_stats("documents", "doc_id", _SQL_TEXT_NL),
)
def duplicate_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-line inventory (the boilerplate report):
    (line, n_docs, n_occurrences) for every line occurring >= 2 times.
    Partial-aggregating groupBy on the raw line — hot-key safe."""
    return linededup_op.duplicate_line_stats(
        _docs_nl(spark, sf_dir, spread=False)
    )


@register(
    "line_dedup_docs",
    "SELECT id AS doc_id, text, n_lines, n_kept, n_removed FROM ("
    + linededup_op.sql_dedup_lines(
        "documents", "doc_id", _SQL_TEXT_NL, keep_first=True
    )
    + ") _",
)
def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style corpus line dedup, keep-first semantics: every
    line occurrence after the globally first (by (doc_id, line_no)) is
    removed; docs are preserved (possibly emptied). groupBy min-occurrence
    + join-back — no per-key arrays (operators/linededup.py)."""
    out = linededup_op.dedup_lines(_docs_nl(spark, sf_dir, spread=False))
    return out.withColumnRenamed("id", "doc_id")


_SAMPLE_BUDGET = 15000  # tokens — ~half the sf0.01 corpus


@register(
    "token_budget_sample",
    sampling_op.sql_proportional_token_sample(_SAMPLE_BUDGET),
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget subsample: keep docs with
    md5_long(id) below the budget/total fraction of the hash space —
    stable across partitionings, nested across budgets, NO global sort
    (operators/sampling.py). The oracle checks the exact kept id set."""
    return sampling_op.proportional_token_sample(
        _t(spark, sf_dir, "documents"), _SAMPLE_BUDGET
    )


@register(
    "balanced_source_sample",
    sampling_op.sql_balanced_source_sample(),
)
def balanced_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-balancing sampler: every source downsampled to the
    smallest source's token mass (expected), per-group fractions
    broadcast back — the mixture-equalization primitive."""
    return sampling_op.balanced_source_sample(
        _t(spark, sf_dir, "documents")
    )


@register(
    "gopher_quality_marks",
    f"""
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
       {textstats.SQL_GOPHER_QUALITY_PASS} AS quality_pass
FROM (SELECT doc_id,
             {', '.join(textstats.sql_gopher_quality(_SQL_TEXT_NL))}
      FROM documents) _
""",
)
def gopher_quality_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-repetition half of the Gopher quality suite (word count,
    mean word length, symbol/bullet/ellipsis ratios, alpha-word fraction,
    stopword presence) + the composite pass flag — pure JVM expressions
    (functions/textstats.py gopher_quality_cols)."""
    docs = _docs_nl(spark, sf_dir)
    cols = textstats.gopher_quality_cols(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in cols.items()],
        textstats.gopher_quality_pass(cols).alias("quality_pass"),
    )


@register(
    "doc_chunks",
    chunking_op.sql_chunk_docs(max_tokens=40, overlap=8),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-doc chunking (operators/chunking.py): token-windowed chunks
    (40-token window, 8-token overlap) over the RAW-byte decomposition —
    chunk_text is original bytes, and at overlap=0 the chunks concatenate
    back to the document byte-exactly (fuzz-tested). The curation →
    training handoff for docs exceeding a context budget."""
    return chunking_op.chunk_docs(
        _t(spark, sf_dir, "documents"), max_tokens=40, overlap=8
    )


_PARETO_U, _PARETO_KEPT = sampling_op.sql_pareto_quality_sample_predicate(
    "quality_score", alpha=9
)


@register(
    "quality_pareto_sample",
    f"""
WITH _g AS (SELECT doc_id,
                   {', '.join(textstats.sql_gopher_quality('text'))}
            FROM documents),
_d AS (SELECT doc_id,
              CASE WHEN len(toks) > 0
                   THEN len(list_distinct(toks))::DOUBLE / len(toks)
                   ELSE 0.0 END AS dtf
       FROM (SELECT doc_id,
                    {textnorm.sql_tokens(textnorm.sql_normalize('text'))}
                      AS toks
             FROM documents) _),
_s AS (SELECT g.doc_id,
              0.25 * g.alpha_word_frac
                + 0.25 * (g.n_stop_hits::DOUBLE / 8.0)
                + 0.25 * d.dtf
                + 0.25 * least(g.n_words::DOUBLE / 100.0, 1.0)
                AS quality_score
       FROM _g g JOIN _d d USING (doc_id))
SELECT doc_id, quality_score, {_PARETO_U} AS pareto_u,
       {_PARETO_KEPT} AS kept
FROM _s
""",
)
def quality_pareto_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3's quality-weighted Pareto keep rule (operators/sampling.py
    pareto_quality_sample) over a FIXED literal quality score (equal-weight
    blend of alpha-word/stopword/distinct-token fractions and a capped
    length term — a documented reference model, so the oracle replays the
    exact keep set; the learned operators/quality.py score is the
    production input). Deterministic u from the md5 sampler hash; the
    Pareto power is a multiplication tree, never libm pow."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    cols = textstats.gopher_quality_cols(F.col("text"))
    toks = textnorm.tokens(textnorm.normalize(F.col("text")))
    nt = F.size(toks)
    dtf = (
        F.when(nt > 0, F.size(F.array_distinct(toks)).cast("double") / nt)
        .otherwise(F.lit(0.0))
    )
    score = (
        F.lit(0.25) * cols["alpha_word_frac"]
        + F.lit(0.25) * (cols["n_stop_hits"].cast("double") / F.lit(8.0))
        + F.lit(0.25) * dtf
        + F.lit(0.25)
        * F.least(cols["n_words"].cast("double") / F.lit(100.0), F.lit(1.0))
    )
    scored = docs.select("doc_id", score.alias("quality_score"))
    return sampling_op.pareto_quality_sample(scored, "quality_score")


@register(
    "dup_ngram_stats",
    f"""
SELECT id AS doc_id, n_shingles, n_dup_shingles, dup_frac FROM (
WITH {_REPR},
{setjoin_op.sql_dup_shingle_stats()}
) _""",
)
def dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-n-gram fraction (Dolma-style cross-doc novelty
    signal): share of each doc's distinct k-shingles occurring in >= 2
    docs. Partial-agg df count + postings join — never a window over the
    gram key (operators/setjoin.py dup_shingle_stats)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    p = setjoin_op.shingle_sets(docs, CFG, "doc_id", "text", "md5")
    return setjoin_op.dup_shingle_stats(
        p, materialize=True
    ).withColumnRenamed("id", "doc_id")


_BM25_TERMS = ["spark", "customer", "vector"]


@register(
    "bm25_search",
    search_op.sql_bm25_topk(_BM25_TERMS, k=20),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over the corpus for a fixed probe query —
    ranked lexical retrieval on the engine's own tokenizer
    (operators/search.py; sorted-term fold so the float sum is
    bit-stable cross-engine)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return search_op.bm25_topk(docs, _BM25_TERMS, k=20)


# ===========================================================================
# PII + semantic dedup (curation passes)
# ===========================================================================

# The synthetic corpus text carries no natural PII, so the query augments
# each doc with DETERMINISTIC synthetic PII derived from doc_id — the SAME
# expression in both engines (docs with doc_id % 3 == 2 stay clean, so the
# zero path is exercised too). The operators themselves run on any text.
def _pii_aug():  # lazy: Column construction needs an active SparkContext
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 != 2,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 192.168."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 250).cast("string"),
                F.lit(" call (4"),
                ((F.col("doc_id") % 90) + 10).cast("string"),
                F.lit(") 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )

_SQL_PII_AUG = (
    "text || CASE WHEN doc_id % 3 != 2 THEN"
    " ' contact user' || doc_id::VARCHAR || '@example.com or 192.168.'"
    " || (doc_id % 200)::VARCHAR || '.' || ((doc_id * 7) % 250)::VARCHAR"
    " || ' call (4' || ((doc_id % 90) + 10)::VARCHAR || ') 555-'"
    " || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    " ELSE '' END"
)

_PII_COUNT_SQL = pii_fn.sql_pii_count_exprs("t")


@register(
    "pii_redaction_stats",
    f"""
SELECT doc_id,
       {_PII_COUNT_SQL["n_email"]} AS n_email,
       {_PII_COUNT_SQL["n_ipv4"]} AS n_ipv4,
       {_PII_COUNT_SQL["n_phone"]} AS n_phone,
       md5({pii_fn.sql_redact_expr("t")}) AS redacted_fp
FROM (SELECT doc_id, {_SQL_PII_AUG} AS t FROM documents) _
""",
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (C4/Dolma curation pass, functions/pii.py):
    per-category match counts in redaction order + md5 of the redacted
    text (byte-exact cross-engine). Pure JVM regex chain — no shuffle,
    no Python."""
    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", _pii_aug().alias("t")
    )
    counts = pii_fn.pii_count_cols(F.col("t"))
    return docs.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_ipv4"].alias("n_ipv4"),
        counts["n_phone"].alias("n_phone"),
        F.md5(pii_fn.redact(F.col("t"))).alias("redacted_fp"),
    )


@register(
    "semantic_dedup_flags",
    semdedup_op.sql_semantic_dedup(64, threshold=0.35),
)
def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup decision per vector:
    IVF-cell assignment (seeded data-free quantizer — oracle precedent of
    knn_ivf) → chunked within-cell matmul pairs → greedy lowest-id keep
    (operators/semdedup.py). τ=0.35 matches this synthetic corpus's
    cosine scale (near-dup channel uses 0.3); real encoder embeddings
    would run ~0.95."""
    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_op.semantic_dedup(
        emb, dim=64, threshold=0.35, materialize=True
    )


# ===========================================================================
# driver contract
# ===========================================================================


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in REGISTRY.items() if q.sql is not None}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full multi-channel dedup pipeline on sf0.001 documents →
    (doc_id, cluster_id, cluster_size)."""
    from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    res = run_pipeline(spark, docs, CFG, id_col="doc_id", text_col="text")
    sizes = res.assignments.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        res.assignments.join(sizes, "cluster_id")
        .select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            "cluster_size",
        )
        .orderBy("doc_id")
    )
