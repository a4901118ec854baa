"""In-corpus unigram language-model scoring (CCNet-style perplexity gate).

CCNet (Wenzek et al. 2020, public paper) buckets web documents by
language-model perplexity — well-formed prose is high-probability under a
reference LM, boilerplate/gibberish is low — and keeps the head/middle
buckets as training data. A production deployment scores against a
pretrained KenLM artifact; this container ships none, so the engine
provides the self-contained bootstrap variant: a unigram LM fit on the
corpus itself (token relative frequency) scored as the mean token
log-probability per document. Higher = more typical of the corpus. The
reference repo has no LM gate (its filters are similarity-driven,
``similarity_utils.py``); this is one of the beyond-reference
training-data operators the brief asks for.

Scale shape (100 TB):

- :func:`unigram_logprob`: one explode + ``groupBy(token)`` for the vocab
  (partial aggregation collapses hot tokens map-side, so the shuffle is
  vocab-sized, not corpus-sized), the 1-row grand total broadcast onto
  the vocab, one token→vocab join, one ``groupBy(doc)`` mean — no global
  window, no driver materialization. By Heaps' law the vocab grows
  ~O(corpus^0.6), so at web scale pass ``broadcast_vocab=True`` only if
  a df-capped vocab is used; the default shuffle join is always safe.
- :func:`perplexity_buckets`: the PRODUCTION bucketer — (n_buckets − 1)
  quantile cutoffs via ``approxQuantile`` (driver cost: a few doubles),
  then a comparison map. No shuffle beyond the score input.
- :func:`perplexity_buckets_exact`: the oracle/testdata twin — exact
  equal-size ``ntile`` over a GLOBAL window (single-partition sort;
  fine at oracle scale, documented non-scalable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.functions import textnorm, textstats

#: score assigned to empty documents (no tokens): worse than any real
#: mean-log-probability, so they land in the tail bucket deterministically
#: in BOTH engines (avoids NULL-ordering divergence: Spark DESC puts NULLs
#: last, DuckDB's default puts them first).
EMPTY_DOC_SCORE = -1.0e9


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = False,
) -> DataFrame:
    """(id, n_tokens, mean_logprob) per document under the in-corpus
    unigram LM. ``mean_logprob`` is ``avg(ln(count(tok)/total_tokens))``
    rounded to 6 (absorbing summation-order ulps so the DuckDB oracle is
    bit-identical); empty docs get :data:`EMPTY_DOC_SCORE`.

    The vocab aggregation and the scoring join each tokenize + explode
    the corpus; a pinned token table measured no faster at sf0.1 on 4
    cores, so nothing is pinned."""
    toks = docs.select(
        F.col(id_col),
        F.explode(textstats.tokens_col(F.col(text_col))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # grand total: 1-row aggregate, broadcast onto the vocab (never a
    # driver collect in the plan; ANSI-safe double accumulation)
    total = vocab.agg(F.sum(F.col("cnt").cast("double")).alias("total"))
    vocab = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("cnt").cast("double") / F.col("total")).alias("lp")
    )
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    scored = (
        toks.join(vocab, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
        )
    )
    # keep empty docs (left join back) with the sentinel score
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("mean_logprob", F.lit(EMPTY_DOC_SCORE)).alias(
                "mean_logprob"
            ),
        )
    )


def perplexity_buckets_exact(
    scored: DataFrame, id_col: str = "doc_id", n_buckets: int = 3
) -> DataFrame:
    """Exact equal-size buckets: ``ntile(n)`` ordered by
    ``(mean_logprob DESC, id)`` so bucket 1 = head (most corpus-typical),
    bucket n = tail. GLOBAL single-partition window — the oracle/testdata
    twin of :func:`perplexity_buckets`, not the 100 TB path."""
    w = Window.orderBy(F.desc("mean_logprob"), F.col(id_col))
    return scored.withColumn("ppl_bucket", F.ntile(n_buckets).over(w))


def perplexity_buckets(
    scored: DataFrame, id_col: str = "doc_id", n_buckets: int = 3
) -> DataFrame:
    """Production bucketer: (n_buckets − 1) ``approxQuantile`` cutoffs on
    ``mean_logprob`` (bounded driver transfer: a few doubles), bucket by
    comparison — no global sort. Bucket 1 = head. Boundary docs may land
    one bucket off vs :func:`perplexity_buckets_exact` (approx quantiles
    + ties); interior docs agree (pytest-gated)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = sorted(
        scored.approxQuantile("mean_logprob", qs, 1.0e-4), reverse=True
    )
    if not cuts:  # empty input: approxQuantile returns [] (r05 advice)
        return scored.withColumn("ppl_bucket", F.lit(1))
    # cuts descending: cuts[0] gates bucket 1 (the head slice)
    expr = F.lit(n_buckets)
    for i in range(n_buckets - 1, 0, -1):
        expr = F.when(
            F.col("mean_logprob") >= F.lit(cuts[i - 1]), F.lit(i)
        ).otherwise(expr)
    return scored.withColumn("ppl_bucket", expr)


def sql_unigram_scores(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB rendering of :func:`unigram_logprob` +
    :func:`perplexity_buckets_exact` (n=3): identical tokenizer, ln of the
    same double division, round-6 before the ntile ordering."""
    toks = textnorm.sql_tokens(textnorm.sql_normalize(text_col))
    return f"""
WITH _toks AS (
  SELECT {id_col}, unnest({toks}) AS tok FROM {table}
),
_vocab AS (SELECT tok, count(*)::DOUBLE AS cnt FROM _toks GROUP BY tok),
_tot AS (SELECT sum(cnt) AS total FROM _vocab),
_scored AS (
  SELECT t.{id_col}, count(*)::BIGINT AS n_tokens,
         round(avg(ln(v.cnt / _tot.total)), 6) AS mean_logprob
  FROM _toks t JOIN _vocab v USING (tok) CROSS JOIN _tot
  GROUP BY t.{id_col}
),
_all AS (
  SELECT d.{id_col},
         coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
         coalesce(s.mean_logprob, {EMPTY_DOC_SCORE}) AS mean_logprob
  FROM {table} d LEFT JOIN _scored s USING ({id_col})
)
SELECT {id_col}, n_tokens, mean_logprob,
       ntile(3) OVER (ORDER BY mean_logprob DESC, {id_col}) AS ppl_bucket
FROM _all
"""
