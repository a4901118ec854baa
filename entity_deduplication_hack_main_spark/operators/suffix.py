"""Exact-substring duplicate pass via winnowing fingerprints.

Reference parity: the reference finds containment-style duplicates through
literal-field comparison (``similarity_utils.py:58-104``); the webtext
analog (FIXTURES.md `substring_containment`) is doc B ⊂ doc A — pairs whose
*symmetric* Jaccard can sit below the LSH threshold while containment is ~1.

Algorithm (distributed suffix-fingerprint, the scalable stand-in for a
global suffix array à la Lee et al. 2021 "Deduplicating Training Data Makes
Language Models Better"):
1. ordered k-word shingle hashes per doc (representation kernel,
   functions/represent.py — rolling polynomial over token hashes);
2. winnowing (Schleimer et al. 2003, MOSS): min hash of every window of
   ``w`` consecutive shingles → any shared token run of length
   >= k + w - 1 words GUARANTEES a shared fingerprint;
3. explode fingerprints, drop globally hot ones (document-frequency cap —
   boilerplate), self-join on fingerprint → candidate pairs;
4. verify containment: |S1 ∩ S2| / min(|S1|, |S2|) on exact shingle sets
   plus a verbatim substring check on normalized text.

Candidate generation is JVM joins over kernel output — no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import represent, textnorm
from entity_deduplication_hack_main_spark.operators import candidates as cand


def winnow_pairs_from_payload(
    payload: DataFrame,
    min_df: int = 2,
    max_df: int | None = None,
    min_shared: int = cand.WINNOW_MIN_SHARED,
    materialize: bool = False,
) -> DataFrame:
    """Distinct (id1, id2) sharing >= min_shared winnowed fingerprints.

    payload: (id, winnow_fps, ...) from the representation kernel.
    max_df: fingerprints in more than this many docs are boilerplate —
    skipped (documented coverage cap; callers should log the drop count).
    Defaults to ``DedupConfig.winnow_max_df`` — ONE source of truth for the
    knob across pipeline, standalone operator, and SQL oracle (r02 nit).
    min_shared: a single shared fingerprint is weak evidence — runs of a
    repeated common token hash identically across unrelated docs (measured:
    2.8M coincidental 1-fp pairs at 100k docs); true containment pairs
    share most of the contained doc's fingerprints, so >= 2 keeps them
    while cutting coincidence quadratically.

    Fingerprint df is the bucket size of :func:`candidates.bucket_pairs`
    (one partial aggregate, salted self-join), which emits one row per
    shared fingerprint so the pair's count is exact. materialize: pin the
    posting table, re-referenced by the df count and both join sides.
    """
    config = DedupConfig()
    if max_df is None:
        max_df = config.winnow_max_df
    fps = payload.select(
        "id", F.lit(0).alias("kid"), F.explode("winnow_fps").alias("wfp")
    )
    if materialize:
        fps = fps.localCheckpoint()
    n = F.col("n")
    return (
        cand.bucket_pairs(
            cand.one_channel(fps, "kid", "wfp"),
            config,
            (n >= min_df) & (n <= max_df),
        )
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
        .select("id1", "id2")
    )


def _span_runs(mark, k: int, min_tokens: int) -> list[dict]:
    """Maximal True-runs of `mark` (shingle positions) → token spans
    [start, end] inclusive; shingle i covers tokens [i, i+k-1]."""
    if mark.size == 0:
        return []
    edges = np.flatnonzero(
        np.diff(np.concatenate(([0], mark.astype(np.int8), [0])))
    )
    out = []
    for s, e in zip(edges[::2], edges[1::2]):  # e exclusive in shingle idx
        te = int(e) - 1 + k - 1
        if te - int(s) + 1 >= min_tokens:
            out.append({"start": int(s), "end": te})
    return out


def containment_spans(
    pairs: DataFrame,
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    min_tokens: int | None = None,
) -> DataFrame:
    """(id1, id2, spans1, spans2): maximal shared token runs per direction —
    spansN = array<struct<start,end>> of token offsets (inclusive) in doc N
    whose every k-shingle also occurs in the other doc. This is the
    Lee et al. 2021 output a training-data user needs to CUT the duplicated
    span instead of dropping the whole doc.

    min_tokens defaults to k + WINNOW_WINDOW - 1 — the winnowing detection
    guarantee, so every candidate pair from the winnow channel reports the
    span that produced it. Runs on candidate pairs only (a verification
    step, not the hot path): ordered shingles come from the Arrow kernel;
    the run extraction is a pandas UDF doing one vectorized np.isin per
    pair."""
    from entity_deduplication_hack_main_spark.functions import represent as rep

    k = config.shingle_k
    mt = min_tokens if min_tokens is not None else k + rep.WINNOW_WINDOW - 1

    @F.pandas_udf("array<struct<start:int,end:int>>")
    def _spans(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for a_lists, b_lists in it:
            res = []
            for sa, sb in zip(a_lists, b_lists):
                a = np.asarray(sa, dtype=np.int64)
                mark = np.isin(a, np.asarray(sb, dtype=np.int64))
                res.append(_span_runs(mark, k, mt))
            yield pd.Series(res)

    sh = rep.with_ordered_shingles(docs, config, id_col, text_col, hash_strategy)
    a = sh.select(F.col("id").alias("id1"), F.col("shingles").alias("sh1"))
    b = sh.select(F.col("id").alias("id2"), F.col("shingles").alias("sh2"))
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            _spans("sh1", "sh2").alias("spans1"),
            _spans("sh2", "sh1").alias("spans2"),
        )
    )


# --- DuckDB oracle -------------------------------------------------------


def sql_winnowed_pairs(
    config: DedupConfig,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_df: int | None = None,
    min_shared: int = 2,
) -> str:
    """DuckDB SELECT matching :func:`winnow_pairs_from_payload` over the
    md5-strategy representation kernel."""
    if max_df is None:
        max_df = config.winnow_max_df
    return f"""
WITH {represent.sql_repr_ctes(config, doc_table, id_col, text_col)},
_f AS (SELECT id, unnest(wn) AS wfp FROM _wn),
_keep AS (
  SELECT wfp FROM _f GROUP BY wfp
  HAVING count(*) BETWEEN {min_df} AND {max_df}
),
_m AS (SELECT _f.id, _f.wfp FROM _f JOIN _keep USING (wfp))
SELECT a.id AS id1, b.id AS id2
FROM _m a JOIN _m b ON a.wfp = b.wfp AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= {min_shared}
"""


# ==========================================================================
# Reference-free exact-substring spans (the north-star "suffix-array pass")
# ==========================================================================


def substring_spans_exact(
    docs: DataFrame,
    config: DedupConfig,
    span_k: int = 20,
    max_df: int | None = None,
    min_span: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    materialize: bool = False,
) -> DataFrame:
    """(id1, id2, start1, start2, span_len): every maximal verbatim token
    run of >= min_span tokens shared between two docs — REFERENCE-FREE
    (no candidate pairs in; the pass discovers them), the distributed
    rendering of Lee et al. 2021's corpus suffix-array substring dedup.

    A suffix array finds repeats by indexing every suffix; this pass
    indexes every POSITION's span_k-token rolling gram instead: any shared
    run of >= span_k tokens shares an aligned gram at every offset, so
    consecutive anchors on a (id1, id2, pos1-pos2) diagonal reconstruct the
    maximal run exactly — start offsets and length in token units, both
    docs. Sensitivity starts at span_k tokens (default 20), well below the
    winnow channel's k + w - 1 = 52-token guarantee.

    vs the winnow channel: winnowing keeps ~2/w of positions (cheap,
    coverage floor 52 tokens); this pass keeps ALL positions (one gram row
    per token — the same O(n) index volume a suffix array pays) for exact
    >= span_k sensitivity. Run it as its own stage over the corpus, like
    Lee et al. run their suffix-array pass.

    Scale shape: gram rows are (id, pos, hash) — 20 bytes; one window
    count over gram (df cap: grams in more than max_df positions are
    boilerplate, skipped — the documented coverage cap shared with the
    winnow channel), one self-join keyed on gram (bucket-bounded by
    max_df²), one gaps-and-islands window keyed by (id1, id2, diagonal).
    No per-row Python anywhere. Caveats: a df-capped gram mid-run splits
    the reported span in two (same caveat as winnowing); 64-bit gram
    hashes collide at ~n²/2^64 — at 10^12-doc scale set
    min_span >= span_k + 1 so a span needs >= 2 consecutive anchor
    collisions, which kills singletons.
    """
    from dataclasses import replace

    from pyspark.sql import Window

    if max_df is None:
        max_df = config.winnow_max_df
    if min_span is None:
        min_span = span_k
    cfg_k = replace(config, shingle_k=span_k)
    # docs shorter than span_k tokens emit one DEGENERATE whole-text gram
    # (kernel contract) — they can never hold a >= span_k-token span, so
    # filter them before gram generation (oracle mirrors: len(th) >= k).
    # The token-hash column is MATERIALIZED once and fed straight into the
    # shingle kernel — filtering on the expression and re-tokenizing inside
    # with_ordered_shingles would run normalize+tokenize+hash twice over
    # the corpus (r03 advice).
    hashed = docs.select(
        F.col(id_col).alias("id"),
        represent.token_hashes(F.col(text_col), hash_strategy).alias("_th"),
    )
    eligible = hashed.where(F.size("_th") >= span_k)
    sh = represent.with_ordered_shingles(
        eligible, cfg_k, id_col="id", token_hash_col="_th"
    )
    g = sh.select("id", F.posexplode("shingles").alias("pos", "g"))
    if materialize:
        # the hot-gram count and the anti-joined cold side below both
        # re-reference `g` — without pinning, the tokenize + shingle kernel
        # and the posexplode run twice over the corpus (one gram row per
        # token, the largest intermediate in this pass). One invocation-
        # scoped localCheckpoint halves the pass; off by default for
        # callers (pipeline StageCommitter) that already cache upstream.
        g = g.localCheckpoint()
    # ONE kernel + gram pass: bucket members per gram (bounded by max_df,
    # so the array is <= max_df structs), then pair within the bucket via
    # two narrow explodes. A count-window + self-join formulation would
    # tokenize/shingle/explode the whole corpus TWICE and shuffle it twice
    # — at corpus scale the gram table is the largest intermediate there
    # is (one row per token), so the single groupBy is the plan to want.
    #
    # Hot-gram guard: the df cap is enforced BEFORE the collect_list. A
    # globally hot boilerplate gram (cookie banner, license header — df
    # 10^6+ at corpus scale) must otherwise materialize its full member
    # array on ONE reducer before a post-agg filter can discard it — a
    # multi-GB single-key buffer. groupBy().count() partial-aggregates
    # (hot keys collapse to one long per map partition), the over-cap set
    # is tiny by construction (at most total_grams/max_df keys, in
    # practice a handful of boilerplate grams) and is broadcast, and the
    # anti join drops its rows map-side — no reducer ever sees a hot
    # gram's members. The >= 2 filter stays post-agg: singleton grams
    # build size-1 arrays, bounded by definition.
    hot = (
        g.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_df)
        .select("g")
    )
    cold = g.join(F.broadcast(hot), "g", "left_anti")
    memb = (
        cold.groupBy("g")
        .agg(F.collect_list(F.struct("id", "pos")).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    anchors = (
        memb.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("a.pos").alias("pos1"),
            F.col("b.id").alias("id2"),
            F.col("b.pos").alias("pos2"),
        )
    )
    diag = F.col("pos1") - F.col("pos2")
    w = Window.partitionBy("id1", "id2", diag).orderBy("pos1")
    isl = anchors.withColumn("diag", diag).withColumn(
        "grp", F.col("pos1") - F.row_number().over(w)
    )
    return (
        isl.groupBy("id1", "id2", "diag", "grp")
        .agg(
            F.min("pos1").alias("start1"),
            F.min("pos2").alias("start2"),
            (F.count("*") + F.lit(span_k - 1)).cast("int").alias("span_len"),
        )
        .where(F.col("span_len") >= min_span)
        .select("id1", "id2", "start1", "start2", "span_len")
    )


def sql_substring_spans(
    config: DedupConfig,
    span_k: int = 20,
    max_df: int | None = None,
    min_span: int | None = None,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SELECT matching :func:`substring_spans_exact` (md5)."""
    from dataclasses import replace

    if max_df is None:
        max_df = config.winnow_max_df
    if min_span is None:
        min_span = span_k
    cfg_k = replace(config, shingle_k=span_k)
    return f"""
WITH {represent.sql_repr_ctes(cfg_k, doc_table, id_col, text_col)},
_g AS (
  SELECT id, (u.i - 1)::INT AS pos, u.g AS g
  FROM (
    SELECT _sh.id AS id,
           unnest(list_transform(sh, (x, i) -> {{'i': i, 'g': x}})) AS u
    FROM _sh JOIN _th USING (id)
    WHERE len(th) >= {span_k}
  )
),
_keep AS (SELECT g FROM _g GROUP BY g HAVING count(*) BETWEEN 2 AND {max_df}),
_m AS (SELECT id, pos, g FROM _g JOIN _keep USING (g)),
_anchor AS (
  SELECT a.id AS id1, a.pos AS pos1, b.id AS id2, b.pos AS pos2
  FROM _m a JOIN _m b ON a.g = b.g AND a.id < b.id
),
_isl AS (
  SELECT id1, id2, pos1 - pos2 AS diag, pos1, pos2,
         pos1 - row_number() OVER (
             PARTITION BY id1, id2, pos1 - pos2 ORDER BY pos1) AS grp
  FROM _anchor
)
SELECT id1, id2,
       min(pos1)::INT AS start1, min(pos2)::INT AS start2,
       (count(*) + {span_k - 1})::INT AS span_len
FROM _isl GROUP BY id1, id2, diag, grp
HAVING (count(*) + {span_k - 1}) >= {min_span}
"""


def _span_ranges(spans: DataFrame) -> DataFrame:
    """(_cid, _ranges): cut ranges grouped per higher-id doc, BROADCAST.

    The hint is explicit for the same reason as verify.verify_pairs' semi
    reduce (operators/verify.py): the docs side of the left join carries
    the full text/token arrays, and a plan-chosen sort-merge join would
    shuffle that payload on id — the single heaviest column in the corpus
    — instead of shipping the tiny span table to it. Span-bearing docs are
    a small fraction of the corpus by construction (they passed the span
    pass's >= span_k verbatim-run filter), so the grouped range table is
    broadcast-sized; workloads where it is not should pre-partition both
    sides on id instead."""
    return F.broadcast(
        spans.groupBy(F.col("id2").alias("_cid")).agg(
            F.collect_list(F.struct("start2", "span_len")).alias("_ranges")
        )
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, n_cut, text_cut): the corpus with duplicated spans
    REMOVED — Lee et al. 2021's actual dedup action (drop one occurrence
    of each duplicated substring, keep the other).

    Policy: the lower-id doc (spans.id1) keeps its text; the higher-id doc
    (spans.id2) loses tokens [start2, start2 + span_len). Output text is
    the doc's NORMALIZED tokens minus the cut ranges, space-joined — spans
    are defined over kernel tokenization, so cutting happens in the same
    coordinate system (byte-level splicing of raw text would need raw
    offsets the hash kernel never sees).

    All-expression: ranges broadcast-grouped per doc, token filter is one
    indexed lambda over the token array with an `exists` over the (few)
    ranges — no shuffle beyond the ranges groupBy, no Python. Docs without
    spans pass through with n_cut = 0.
    """
    ranges = _span_ranges(spans)
    toks = textnorm.tokens(textnorm.normalize(F.col(text_col)))
    base = docs.select(
        F.col(id_col).alias("id"), toks.alias("_toks")
    ).join(ranges, F.col("id") == F.col("_cid"), "left")
    keep = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_ranges"),
            lambda r: (i >= r["start2"])
            & (i < r["start2"] + r["span_len"]),
        ),
    )
    kept = F.when(F.col("_ranges").isNull(), F.col("_toks")).otherwise(keep)
    return base.select(
        "id",
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("int").alias("n_cut"),
        F.array_join(kept, " ").alias("text_cut"),
    )


def sql_cut_spans(
    spans_select: str,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SELECT matching :func:`cut_spans`; ``spans_select`` is a
    SELECT yielding (id1, id2, start1, start2, span_len) — e.g.
    :func:`sql_substring_spans` minus its WITH (CTEs are inlined here)."""
    toks = textnorm.sql_tokens(textnorm.sql_normalize(text_col))
    return f"""
WITH _spans AS ({spans_select}),
_ranges AS (
  SELECT id2 AS cid, list({{'s': start2, 'l': span_len}}) AS rs
  FROM _spans GROUP BY id2
),
_docs AS (SELECT {id_col} AS id, {toks} AS toks FROM {doc_table})
SELECT id, len(toks)::INT AS n_tokens,
       (len(toks) - len(kept))::INT AS n_cut,
       coalesce(array_to_string(kept, ' '), '') AS text_cut
FROM (
  SELECT id, toks,
         CASE WHEN rs IS NULL THEN toks ELSE
           list_transform(
             list_filter(list_transform(toks, (t, i) -> {{'t': t, 'i': i - 1}}),
                         p -> len(list_filter(rs,
                                r -> p.i >= r.s AND p.i < r.s + r.l)) = 0),
             p -> p.t)
         END AS kept
  FROM _docs LEFT JOIN _ranges ON id = cid
)
"""


#: maximal alphanumeric runs — the RAW-text rendering of textnorm.tokens:
#: normalize() lowercases then maps [^\p{L}\p{N}]+ to spaces, so every
#: normalized token is a maximal [\p{L}\p{N}]+ run of the lowercased text,
#: and (case-exotic Unicode aside — see cut_spans_raw's `aligned`) the SAME
#: run of the ORIGINAL text. Identical semantics in Java regex and RE2.
_RAW_TOKEN_PAT = r"[\p{L}\p{N}]+"


def cut_spans_raw(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, n_cut, aligned, text_cut): the corpus with duplicated
    spans cut out of the ORIGINAL text — bytes outside the cut ranges are
    untouched (casing, punctuation, whitespace all survive). This is the
    output a training-data pipeline actually substitutes for the corpus
    (Lee et al. 2021 cut raw text; the engine's own byte-identical
    extraction gate exists because byte fidelity matters — r03 verdict #1).

    Mechanics: spans are token ranges over the NORMALIZED tokenization, so
    the raw text is decomposed into the same coordinate system without a
    second kernel pass:  text = sep[0] + tok[0] + sep[1] + … + tok[n-1]
    + sep[n], where tok[i] = i-th maximal [\\p{L}\\p{N}]+ run (byte-exact,
    original case) and sep[i] = the separator bytes around it (split on
    the same pattern keeps leading/trailing empties, so the decomposition
    reconstructs the input exactly — property-tested). Cutting range
    [s, s+len) splices out tok[s]..sep[s+1]..tok[s+len-1]+sep[s+len]; the
    separator BEFORE the range stays, so surrounding text keeps its
    original spacing.

    ``aligned``: raw runs map 1:1 onto normalized tokens unless
    lowercasing changes a character's alphanumeric category or length
    (e.g. U+0130 İ → i + combining dot) — then counts diverge and token
    indices would mis-splice. Misaligned docs pass through UNCUT
    (n_cut = 0, aligned = false) rather than corrupting bytes; the oracle
    applies the same rule.

    All-expression (one regexp pass for runs, one for separators, one
    indexed filter over the zipped pieces); ranges broadcast per
    :func:`_span_ranges`. Docs without spans return their text verbatim.
    """
    ranges = _span_ranges(spans)
    text = F.col(text_col)
    base = docs.select(
        F.col(id_col).alias("id"),
        text.alias("_text"),
        F.regexp_extract_all(text, F.lit(_RAW_TOKEN_PAT), 0).alias("_rt"),
        F.split(text, _RAW_TOKEN_PAT).alias("_seps"),
        F.size(textnorm.tokens(textnorm.normalize(text))).alias("_nt"),
    ).join(ranges, F.col("id") == F.col("_cid"), "left")
    aligned = F.size("_rt") == F.col("_nt")
    # piece i = tok[i] + sep[i+1]; seps has size(_rt)+1 entries by the split
    # contract, so the slice is always in range
    pieces = F.zip_with(
        F.col("_rt"),
        F.slice(F.col("_seps"), 2, F.size("_rt")),
        lambda t, s: F.concat(t, s),
    )
    kept = F.filter(
        pieces,
        lambda p, i: ~F.exists(
            F.col("_ranges"),
            lambda r: (i >= r["start2"]) & (i < r["start2"] + r["span_len"]),
        ),
    )
    do_cut = F.col("_ranges").isNotNull() & aligned
    spliced = F.concat(F.element_at("_seps", 1), F.array_join(kept, ""))
    return base.select(
        "id",
        F.col("_nt").cast("int").alias("n_tokens"),
        F.when(do_cut, F.size("_rt") - F.size(kept))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("n_cut"),
        aligned.alias("aligned"),
        F.when(do_cut, spliced).otherwise(F.col("_text")).alias("text_cut"),
    )


def sql_cut_spans_raw(
    spans_select: str,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SELECT matching :func:`cut_spans_raw` byte-for-byte.

    Same decomposition: regexp_extract_all for the runs,
    string_split_regex for the separators (both keep leading/trailing
    empties, verified identical to Spark's split), indexed list_filter
    against the grouped ranges. array_to_string of an empty list is NULL
    in DuckDB (vs '' in Spark) — coalesced."""
    ntoks = textnorm.sql_tokens(textnorm.sql_normalize(text_col))
    pat = "[\\p{L}\\p{N}]+"
    return f"""
WITH _spans AS ({spans_select}),
_ranges AS (
  SELECT id2 AS cid, list({{'s': start2, 'l': span_len}}) AS rs
  FROM _spans GROUP BY id2
),
_docs AS (
  SELECT {id_col} AS id, {text_col} AS txt,
         regexp_extract_all({text_col}, '{pat}') AS rt,
         string_split_regex({text_col}, '{pat}') AS seps,
         len({ntoks})::INT AS nt
  FROM {doc_table}
),
_cut AS (
  SELECT id, txt, nt, rs,
         (len(rt)::INT = nt) AS aligned,
         len(rt)::INT AS n_rt,
         seps[1] AS sep0,
         list_transform(
           list_filter(
             list_transform(rt, (t, i) -> {{'p': t || seps[i + 1], 'i': i - 1}}),
             p -> len(list_filter(rs, r -> p.i >= r.s AND p.i < r.s + r.l)) = 0),
           p -> p.p) AS kept
  FROM _docs LEFT JOIN _ranges ON id = cid
)
SELECT id, nt AS n_tokens,
       (CASE WHEN rs IS NOT NULL AND aligned
             THEN n_rt - len(kept) ELSE 0 END)::INT AS n_cut,
       aligned,
       CASE WHEN rs IS NOT NULL AND aligned
            THEN coalesce(sep0, '') || coalesce(array_to_string(kept, ''), '')
            ELSE txt END AS text_cut
FROM _cut
"""
