"""Gopher-style repetition signals: one Arrow pass per document batch.

Implements the repetition-quality family of Rae et al. 2021 (Gopher,
appendix A1.1 — public paper) as used by open training-data pipelines:

- ``dup_line_frac`` / ``dup_line_char_frac``: fraction of line occurrences
  beyond the first occurrence of their value within the document, and the
  character mass of those occurrences (per-row JVM expressions — no
  kernel needed).
- ``top{2,3,4}_gram_char_frac``: max over n-grams of
  ``count(gram) * chars(gram) / total_token_chars`` — the "fraction of
  characters in the most frequent n-gram" signal. Overlapping occurrences
  are counted (the published open implementations do the same), so the
  value can exceed 1.0 on degenerate repetition; thresholds are far below.
- ``dup{5..10}_gram_char_frac``: fraction of token characters covered by
  at least one occurrence of an n-gram that occurs >= 2 times in the
  document (coverage union — overlapping duplicated grams do NOT double
  count, matching the paper's "characters contained in duplicate n-grams").

Engine split: line signals are pure JVM array expressions; the n-gram
signals need per-document gram frequency counting, which nested SQL
lambdas make O(n^2)-per-row (the round-1 measured pitfall — see
functions/represent.py), so they run in ONE vectorized numpy pass per
Arrow batch: rolling-polynomial gram hashes, lexsort run-length counts,
shifted-mask coverage union. Zero per-row Python. The kernel emits exact
INTEGER numerators (char masses); the fraction + rounding happen JVM-side
(``F.round``) so float behavior matches the DuckDB oracle, which computes
the same integers relationally over string grams (gram-hash collisions
are the only possible asymmetry: ~n^2/2^64, negligible).

Thresholds in :data:`GOPHER_THRESHOLDS` are the published Gopher filter
values; ``gopher_pass`` flags a document that clears all of them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.functions import textnorm

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

#: Published Gopher repetition-filter thresholds (Rae et al. 2021 A1.1):
#: a document FAILS if the signal exceeds the value.
GOPHER_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top2_gram_char_frac": 0.20,
    "top3_gram_char_frac": 0.18,
    "top4_gram_char_frac": 0.16,
    "dup5_gram_char_frac": 0.15,
    "dup6_gram_char_frac": 0.14,
    "dup7_gram_char_frac": 0.13,
    "dup8_gram_char_frac": 0.12,
    "dup9_gram_char_frac": 0.11,
    "dup10_gram_char_frac": 0.10,
}

_U64 = np.uint64


def gram_coeffs(g: int, seed: int = 69) -> np.ndarray:
    """g deterministic rolling-polynomial coefficients in [1, 2^62)."""
    rng = np.random.default_rng([seed, 881, g])
    return rng.integers(1, 1 << 62, size=g, dtype=np.uint64)


# --------------------------------------------------------------------------
# Line / paragraph duplication signals — pure JVM expressions
# --------------------------------------------------------------------------


def _seg_stats(segs: Column):
    """(n, n_dup, chars, dup_chars) over a string-array column: duplicate
    occurrences = occurrences beyond the first of each distinct value."""
    dist = F.array_distinct(segs)
    chars = F.aggregate(F.transform(segs, F.length), F.lit(0), lambda a, x: a + x)
    chars_first = F.aggregate(
        F.transform(dist, F.length), F.lit(0), lambda a, x: a + x
    )
    return F.size(segs), F.size(segs) - F.size(dist), chars, chars - chars_first


def _frac(num: Column, den: Column) -> Column:
    return F.round(
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
    )


# --------------------------------------------------------------------------
# n-gram repetition kernel (numpy over Arrow batches)
# --------------------------------------------------------------------------


def _gram_kernel(
    flat_th: np.ndarray,  # uint64 token hashes, flattened
    flat_tl: np.ndarray,  # int64 token char lengths, flattened
    offsets: np.ndarray,  # int64, len n_rows+1
    seed: int,
) -> dict[str, np.ndarray]:
    """Exact integer numerators per row: total chars, top-gram products,
    dup-gram covered chars. One vectorized pass per gram size."""
    n_rows = len(offsets) - 1
    total = int(offsets[-1])
    lengths = np.diff(offsets)
    out: dict[str, np.ndarray] = {
        "c": np.zeros(n_rows, dtype=np.int64),
    }
    for g in TOP_NS:
        out[f"top{g}_v"] = np.zeros(n_rows, dtype=np.int64)
    for g in DUP_NS:
        out[f"dup{g}_ch"] = np.zeros(n_rows, dtype=np.int64)
    if total == 0:
        return out
    row_of = np.repeat(np.arange(n_rows, dtype=np.int64), lengths)
    out["c"] = np.bincount(row_of, weights=flat_tl, minlength=n_rows).astype(
        np.int64
    )
    pos_in_row = np.arange(total, dtype=np.int64) - np.repeat(
        offsets[:-1], lengths
    )
    row_len = lengths[row_of]
    # prefix sums: window chars for start i, size g = P[i+g] - P[i]
    pref = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(flat_tl, out=pref[1:])
    for g in TOP_NS + DUP_NS:
        valid = pos_in_row + g <= row_len
        vidx = np.nonzero(valid)[0]
        if len(vidx) == 0:
            continue
        # rolling polynomial gram hash at every position (tail garbage is
        # masked out by `valid`, which never lets a window cross a row)
        coeffs = gram_coeffs(g, seed)
        gh = np.zeros(total, dtype=np.uint64)
        for j, cj in enumerate(coeffs):
            gh[: total - j] += cj * flat_th[j:]
        krow, kg = row_of[vidx], gh[vidx]
        order = np.lexsort((kg, krow))
        sr, sg = krow[order], kg[order]
        new_grp = np.empty(len(order), dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (sr[1:] != sr[:-1]) | (sg[1:] != sg[:-1])
        gid = np.cumsum(new_grp) - 1
        cnt_sorted = np.bincount(gid)[gid]
        occ_cnt = np.empty(len(order), dtype=np.int64)
        occ_cnt[order] = cnt_sorted
        if g in TOP_NS:
            val = occ_cnt * (pref[vidx + g] - pref[vidx])
            np.maximum.at(out[f"top{g}_v"], krow, val)
        else:
            dup_starts = vidx[occ_cnt >= 2]
            covered = np.zeros(total, dtype=bool)
            for j in range(g):
                covered[dup_starts + j] = True
            out[f"dup{g}_ch"] = np.bincount(
                row_of[covered], weights=flat_tl[covered], minlength=n_rows
            ).astype(np.int64)
    return out


KERNEL_COLS = (
    ["c"] + [f"top{g}_v" for g in TOP_NS] + [f"dup{g}_ch" for g in DUP_NS]
)


def repetition_counts_map(
    df: DataFrame, seed: int = 69
) -> DataFrame:
    """mapInArrow kernel: (id, _th array<bigint>, _tl array<int>, *extras)
    → (id, c, top{2,3,4}_v, dup{5..10}_ch bigint, *extras). Extra columns
    after the third ride through the batch untouched."""
    import pyarrow as pa

    in_schema = df.schema
    extra = [(f.name, f.dataType.simpleString()) for f in in_schema[3:]]
    id_t = in_schema[0].dataType.simpleString()
    out_schema = ", ".join(
        [f"id {id_t}"]
        + [f"{c} bigint" for c in KERNEL_COLS]
        + [f"{n} {t}" for n, t in extra]
    )

    def fn(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            th = batch.column(1)
            tl = batch.column(2)
            off = th.offsets.to_numpy().astype(np.int64)
            flat_th = (
                th.values.to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
                .view(np.uint64)
            )
            flat_tl = tl.values.to_numpy(zero_copy_only=False).astype(np.int64)
            res = _gram_kernel(flat_th, flat_tl, off, seed)
            arrays = [batch.column(0)]
            arrays += [pa.array(res[c], type=pa.int64()) for c in KERNEL_COLS]
            arrays += [batch.column(3 + i) for i in range(len(extra))]
            yield pa.RecordBatch.from_arrays(
                arrays, ["id"] + KERNEL_COLS + [n for n, _ in extra]
            )

    return df.mapInArrow(fn, out_schema)


def repetition_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    seed: int = 69,
    include_paragraphs: bool = False,
) -> DataFrame:
    """Per-document Gopher repetition signals + ``gopher_pass`` flag.

    Output: (id, dup_line_frac, dup_line_char_frac, top{2,3,4} and
    dup{5..10} gram char fracs — all rounded 6 — and gopher_pass boolean).
    Embarrassingly parallel: one projection + one Arrow kernel pass, no
    shuffle — the 100 TB shape for a per-document quality scorer.
    """
    from entity_deduplication_hack_main_spark.functions import represent

    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = textnorm.tokens(textnorm.normalize(text))
    nl, ndl, lc, dlc = _seg_stats(F.split(text, "\n"))
    cols = [
        F.col(id_col).alias("id"),
        represent.token_hashes(text, hash_strategy).alias("_th"),
        F.transform(toks, F.length).alias("_tl"),
        nl.alias("_nl"),
        ndl.alias("_ndl"),
        lc.alias("_lc"),
        dlc.alias("_dlc"),
    ]
    if include_paragraphs:
        np_, ndp, pc, dpc = _seg_stats(F.split(text, "\n\n"))
        cols += [
            np_.alias("_np"),
            ndp.alias("_ndp"),
            pc.alias("_pc"),
            dpc.alias("_dpc"),
        ]
    counted = repetition_counts_map(docs.select(*cols), seed)
    fracs = [
        _frac(F.col("_ndl"), F.col("_nl")).alias("dup_line_frac"),
        _frac(F.col("_dlc"), F.col("_lc")).alias("dup_line_char_frac"),
    ]
    if include_paragraphs:
        fracs += [
            _frac(F.col("_ndp"), F.col("_np")).alias("dup_para_frac"),
            _frac(F.col("_dpc"), F.col("_pc")).alias("dup_para_char_frac"),
        ]
    fracs += [
        _frac(F.col(f"top{g}_v"), F.col("c")).alias(f"top{g}_gram_char_frac")
        for g in TOP_NS
    ]
    fracs += [
        _frac(F.col(f"dup{g}_ch"), F.col("c")).alias(f"dup{g}_gram_char_frac")
        for g in DUP_NS
    ]
    scored = counted.select(F.col("id"), *fracs)
    passed = None
    for name, thr in GOPHER_THRESHOLDS.items():
        flag = F.col(name) <= F.lit(thr)
        passed = flag if passed is None else (passed & flag)
    return scored.withColumn("gopher_pass", passed)


def gopher_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    seed: int = 69,
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Drop documents failing the Gopher repetition thresholds; the
    surviving rows keep the input schema unchanged.

    Zero-shuffle shape: every original column rides through the Arrow
    kernel batch as a pass-through extra, so the filter is a pure map —
    no join back on id, no exchange (plan-asserted in
    tests/test_repetition.py). That is the difference between a quality
    gate that costs one corpus scan and one that costs a corpus-wide
    shuffle at 100 TB.
    """
    thresholds = thresholds or GOPHER_THRESHOLDS
    orig = docs.columns
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = textnorm.tokens(textnorm.normalize(text))
    nl, ndl, lc, dlc = _seg_stats(F.split(text, "\n"))
    from entity_deduplication_hack_main_spark.functions import represent

    cols = [
        F.col(id_col).alias("id"),
        represent.token_hashes(text, hash_strategy).alias("_th"),
        F.transform(toks, F.length).alias("_tl"),
        nl.alias("_nl"),
        ndl.alias("_ndl"),
        lc.alias("_lc"),
        dlc.alias("_dlc"),
    ] + [F.col(c).alias(f"_x_{i}") for i, c in enumerate(orig)]
    counted = repetition_counts_map(docs.select(*cols), seed)
    fr = {
        "dup_line_frac": _frac(F.col("_ndl"), F.col("_nl")),
        "dup_line_char_frac": _frac(F.col("_dlc"), F.col("_lc")),
    }
    for g in TOP_NS:
        fr[f"top{g}_gram_char_frac"] = _frac(F.col(f"top{g}_v"), F.col("c"))
    for g in DUP_NS:
        fr[f"dup{g}_gram_char_frac"] = _frac(F.col(f"dup{g}_ch"), F.col("c"))
    keep = F.lit(True)
    for name, thr in thresholds.items():
        keep = keep & (fr[name] <= F.lit(thr))
    return counted.where(keep).select(
        *[F.col(f"_x_{i}").alias(c) for i, c in enumerate(orig)]
    )


# --------------------------------------------------------------------------
# DuckDB oracle
# --------------------------------------------------------------------------


def sql_repetition_scores(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """Relational DuckDB rendering of :func:`repetition_scores` (string
    grams instead of hashes; same integer numerators, same rounding)."""
    toks = textnorm.sql_tokens(textnorm.sql_normalize("t0.txt"))
    lines = "string_split(t0.txt, chr(10))"
    ctes = [
        f"t0 AS (SELECT {id_col} AS id, coalesce({text_expr}, '') AS txt FROM {table})",
        f"""tok AS (
  SELECT id, toks, list_transform(toks, t -> len(t)) AS lens, len(toks) AS n,
         coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS c
  FROM (SELECT id, {toks} AS toks, txt FROM t0) _
)""",
        f"""ln AS (
  SELECT id,
         len(ls) AS nl, len(ls) - len(list_distinct(ls)) AS ndl,
         coalesce(list_sum(list_transform(ls, t -> len(t))), 0) AS lc,
         coalesce(list_sum(list_transform(ls, t -> len(t))), 0)
           - coalesce(list_sum(list_transform(list_distinct(ls), t -> len(t))), 0) AS dlc
  FROM (SELECT id, {lines} AS ls FROM t0) _
)""",
        """pos AS (
  SELECT id, u.p AS p, u.ch AS ch
  FROM (SELECT id, unnest(list_transform(lens, (v,i) -> {'p': i, 'ch': v})) AS u FROM tok) _
)""",
    ]
    joins = []
    sel = [
        "ln.id AS doc_id",
        "CASE WHEN ln.nl > 0 THEN round(ln.ndl::DOUBLE / ln.nl, 6) ELSE 0.0 END AS dup_line_frac",
        "CASE WHEN ln.lc > 0 THEN round(ln.dlc::DOUBLE / ln.lc, 6) ELSE 0.0 END AS dup_line_char_frac",
    ]
    for g in TOP_NS + DUP_NS:
        ctes.append(
            f"""g{g}s AS (
  SELECT id, u.i AS i, array_to_string(toks[u.i : u.i + {g - 1}], ' ') AS gram,
         list_sum(lens[u.i : u.i + {g - 1}]) AS wch
  FROM (SELECT id, toks, lens, n,
               unnest(list_transform(toks, (v,i) -> {{'i': i}})) AS u FROM tok) _
  WHERE u.i + {g} - 1 <= n
)"""
        )
        ctes.append(
            f"g{g}c AS (SELECT id, gram, count(*) AS cnt FROM g{g}s GROUP BY 1, 2)"
        )
        if g in TOP_NS:
            ctes.append(
                f"""g{g}t AS (
  SELECT s.id, max(c.cnt * s.wch) AS v
  FROM g{g}s s JOIN g{g}c c ON s.id = c.id AND s.gram = c.gram
  GROUP BY s.id
)"""
            )
            joins.append(f"LEFT JOIN g{g}t ON g{g}t.id = ln.id")
            sel.append(
                f"CASE WHEN tok.c > 0 THEN round(coalesce(g{g}t.v, 0)::DOUBLE / tok.c, 6) "
                f"ELSE 0.0 END AS top{g}_gram_char_frac"
            )
        else:
            ctes.append(
                f"""g{g}cv AS (
  SELECT DISTINCT s.id, s.i + j.j AS p
  FROM g{g}s s
  JOIN g{g}c c ON s.id = c.id AND s.gram = c.gram AND c.cnt >= 2
  CROSS JOIN (SELECT unnest(range(0, {g})) AS j) j
)"""
            )
            ctes.append(
                f"""g{g}d AS (
  SELECT cv.id, sum(pos.ch) AS v
  FROM g{g}cv cv JOIN pos ON pos.id = cv.id AND pos.p = cv.p
  GROUP BY cv.id
)"""
            )
            joins.append(f"LEFT JOIN g{g}d ON g{g}d.id = ln.id")
            sel.append(
                f"CASE WHEN tok.c > 0 THEN round(coalesce(g{g}d.v, 0)::DOUBLE / tok.c, 6) "
                f"ELSE 0.0 END AS dup{g}_gram_char_frac"
            )
    pass_terms = []
    for name, thr in GOPHER_THRESHOLDS.items():
        # recompute the rounded frac expressions by alias reference via a
        # wrapping SELECT so the flag compares the SAME rounded values
        pass_terms.append(f"{name} <= {thr}")
    inner = (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT "
        + ",\n       ".join(sel)
        + "\nFROM ln JOIN tok ON tok.id = ln.id\n"
        + "\n".join(joins)
    )
    return (
        f"SELECT *, ({' AND '.join(pass_terms)}) AS gopher_pass "
        f"FROM ({inner}) scored"
    )
