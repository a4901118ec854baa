"""The document-representation kernel: ONE Arrow-batched numpy pass.

Motivation (measured, local[8], 1000 docs): building k-shingles with nested
SQL higher-order lambdas is O(n²) per row because Catalyst re-evaluates
captured subtrees per lambda element — winnowing alone cost 551 s. The fix:
keep only per-token hashing JVM-side (one flat ``transform``, 0.4 s) and
compute everything derived from it in one vectorized kernel per Arrow batch:

  token hashes ──► shingle hashes (rolling polynomial mod 2^64)
              ├──► distinct shingle set           (exact-Jaccard verify)
              ├──► MinHash-128 signature          (LSH channel)
              ├──► winnowed fingerprints          (substring channel)
              └──► SimHash fingerprint            (Hamming channel)

Design decisions, all measured:
- Shingle identity is a degree-(k-1) polynomial of the k consecutive token
  hashes with natural uint64 wraparound — integer-only, exact in numpy
  uint64 AND in DuckDB HUGEINT (% 2^64), so the oracle SQL reproduces every
  value bit-identically (md5 token-hash strategy).
- The hash space is 64-bit, not 31-bit: winnowing and MinHash both select
  *minima*, and order statistics of a 31-bit space collide across unrelated
  docs at corpus scale (measured: 1.5M false candidate pairs at 100k docs).
- MinHash uses multiply-shift permutations mod 2^64 (no prime-mod division:
  hardware div made the kernel memory+ALU bound — 8.8 s per 4096-doc batch).
  Signature value = int64 view of ((a_i*h + b_i mod 2^64) XOR 2^63), the
  standard order-preserving unsigned→signed map, = (… mod 2^64) - 2^63 in
  the DuckDB oracle.
- Zero per-row Python: loops run over permutations / bit chunks /
  coefficient shifts only; row boundaries use offsets + ``reduceat`` /
  masks. Per-permutation buffers are reused (no (perms × batch) matrix).

Reference parity: this kernel replaces the reference's batched
``model.encode(texts)`` embedding matrix (``dedup_pipeline.py:34-46``) as
the content representation (SURVEY.md §2.7 E1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import hashes, textnorm

_BIT_CHUNK = 16
_U64 = 18446744073709551616  # 2^64
_I64 = 9223372036854775808  # 2^63
_TOP = np.uint64(_I64)

# Shingles per winnowing window (substring channel). Detection guarantee:
# any shared token run >= shingle_k + WINNOW_WINDOW - 1 (~52 words at k=5)
# shares a fingerprint — matching Lee et al. 2021's 50-token substring-dup
# threshold. Fingerprint density ~2/(w+1): small windows flood candidate
# generation (w=4 meant ~40% of shingles became fingerprints → a 1255
# CPU-second self-join at 100k docs).
WINNOW_WINDOW = 48


def shingle_coeffs64(config: DedupConfig) -> np.ndarray:
    """k coefficients in [1, 2^62), seeded. 2^62 bound keeps the DuckDB
    HUGEINT oracle sum under 2^127 for k <= 8."""
    rng = np.random.default_rng([config.seed, 778])
    return rng.integers(1, 1 << 62, size=config.shingle_k, dtype=np.uint64)


def minhash_perms64(config: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """(a, b): a odd in [1, 2^62), b 64-bit — multiply-shift permutations.
    The 2^62 bound keeps a*h < 2^126 inside DuckDB's INT128 oracle."""
    rng = np.random.default_rng([config.seed, 779])
    a = (
        rng.integers(0, 1 << 61, size=config.num_perms, dtype=np.uint64)
        << np.uint64(1)
    ) | np.uint64(1)
    b = rng.integers(0, _U64, size=config.num_perms, dtype=np.uint64)
    return a, b


def token_hashes(text_col: Column, hash_strategy: str = "xxhash64") -> Column:
    """Per-occurrence token hashes (JVM, one flat transform): array<bigint>."""
    toks = textnorm.tokens(textnorm.normalize(text_col))
    if hash_strategy == "xxhash64":
        return F.transform(toks, lambda t: F.xxhash64(t))
    return F.transform(toks, lambda t: hashes.md5_long(t))


# --------------------------------------------------------------------------
# numpy kernel
# --------------------------------------------------------------------------


def _shingle_hashes(
    flat_th: np.ndarray,
    lengths: np.ndarray,
    offsets: np.ndarray,
    coeffs64: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Rolling-polynomial shingle hashes per row (uint64 wraparound).

    Returns (flat_sh, sh_lengths, sh_offsets): row r contributes
    m_r = max(1, n_r - k + 1) shingles; rows with n_r < k get ONE shingle
    = sum_{j<n_r} c_j * th_j (empty rows → the 0 shingle).
    """
    k = coeffs64.shape[0]
    n_rows = lengths.shape[0]
    total = flat_th.shape[0]

    m = np.maximum(lengths - k + 1, 1)
    sh_offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(m[:-1], out=sh_offsets[1:])
    flat_sh = np.zeros(int(m.sum()), dtype=np.uint64)

    n_win = total - k + 1
    if n_win > 0:
        acc = np.zeros(n_win, dtype=np.uint64)
        for j in range(k):
            acc += coeffs64[j] * flat_th[j : j + n_win]  # wraps mod 2^64
        # window starting at global token index i belongs to row r iff
        # offsets[r] <= i <= offsets[r] + lengths[r] - k
        row_of = np.repeat(np.arange(n_rows), lengths)[:n_win]
        pos_in_row = np.arange(n_win) - offsets[row_of]
        valid = pos_in_row <= (lengths[row_of] - k)
        dst = sh_offsets[row_of[valid]] + pos_in_row[valid]
        flat_sh[dst] = acc[valid]
        del row_of, pos_in_row, valid, acc, dst

    short = (lengths > 0) & (lengths < k)
    if short.any():
        j_in_row = np.arange(total) - np.repeat(offsets, lengths)
        terms = coeffs64[np.minimum(j_in_row, k - 1)] * flat_th
        # One zero pad element so offsets stay UNCLAMPED: a zero-length row
        # at the tail has offsets == total, which indexes the pad (value 0)
        # instead of stealing the previous row's last term (clamping to
        # total-1 silently truncated the preceding row's segment). Rows with
        # length 0 mid-batch read the next segment's first term — harmless,
        # only rows flagged `short` (length >= 1) are read back.
        terms = np.concatenate([terms, np.zeros(1, dtype=np.uint64)])
        row_sums = np.add.reduceat(terms, offsets)
        flat_sh[sh_offsets[short]] = row_sums[short]
    return flat_sh, m, sh_offsets


def _minhash(
    flat_sh: np.ndarray, sh_offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(rows, num_perms) int64 signatures.

    Per-perm buffer reuse; value = int64 view of ((a*h + b) ^ 2^63), which
    orders identically to the unsigned hash (top-bit flip trick).
    """
    num_perms = a.shape[0]
    n_rows = sh_offsets.shape[0]
    out = np.empty((num_perms, n_rows), dtype=np.int64)
    tmp = np.empty_like(flat_sh)
    for i in range(num_perms):
        np.multiply(flat_sh, a[i], out=tmp)
        tmp += b[i]
        tmp ^= _TOP
        out[i] = np.minimum.reduceat(tmp.view(np.int64), sh_offsets)
    return out.T


def _winnow(
    flat_sh: np.ndarray,
    sh_lengths: np.ndarray,
    sh_offsets: np.ndarray,
    window: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct sliding-window minima per row → (row_ids, int64 values).

    Selection order is SIGNED int64 (matches the SQL oracle's BIGINT
    list_min) — winnowing only needs a canonical per-window choice.
    """
    flat = flat_sh.view(np.int64)
    total = flat.shape[0]
    n_rows = sh_lengths.shape[0]
    row_of = np.repeat(np.arange(n_rows), sh_lengths)
    n_win = total - window + 1
    parts_rows = []
    parts_vals = []
    if n_win > 0:
        # sparse-table sliding min: O(n log w) contiguous passes
        # (direct pairwise loop is O(n·w) — 16x slower at w=48)
        p = 1
        m = flat.copy()
        while (p << 1) <= window:
            np.minimum(m[:-p], m[p:], out=m[: m.shape[0] - p])
            m = m[: m.shape[0] - p]
            p <<= 1
        # m[i] = min(flat[i : i+p]); window min = min(m[i], m[i+window-p])
        mins = np.minimum(m[:n_win], m[window - p : window - p + n_win])
        pos_in_row = np.arange(n_win) - sh_offsets[row_of[:n_win]]
        valid = pos_in_row <= (sh_lengths[row_of[:n_win]] - window)
        r0 = row_of[:n_win][valid]
        v0 = mins[valid]
        # consecutive windows usually share their min — drop adjacent dups
        # before the (expensive) global lexsort in _distinct_pairs
        if r0.shape[0]:
            keep = np.empty(r0.shape[0], dtype=bool)
            keep[0] = True
            np.logical_or(r0[1:] != r0[:-1], v0[1:] != v0[:-1], out=keep[1:])
            r0, v0 = r0[keep], v0[keep]
        parts_rows.append(r0)
        parts_vals.append(v0)
    shorties = sh_lengths < window
    if shorties.any():
        # sh_offsets are strictly increasing and < total (every row emits
        # >= 1 shingle: m = max(len-k+1, 1)), so no clamping/padding issues
        # here — unlike the token-level offsets in _shingle_hashes/_simhash.
        mins_all = np.minimum.reduceat(flat, sh_offsets)
        parts_rows.append(np.arange(n_rows)[shorties])
        parts_vals.append(mins_all[shorties])
    rows = np.concatenate(parts_rows) if parts_rows else np.zeros(0, np.int64)
    vals = np.concatenate(parts_vals) if parts_vals else np.zeros(0, np.int64)
    return _distinct_pairs(rows, vals)


def _distinct_pairs(
    row_ids: np.ndarray, values: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (row, value), sorted by row then SIGNED value.

    lexsort + adjacent-dup mask — ~7x faster than structured np.unique.
    """
    if row_ids.shape[0] == 0:
        return row_ids, values
    order = np.lexsort((values, row_ids))
    r = row_ids[order]
    v = values[order]
    keep = np.empty(r.shape[0], dtype=bool)
    keep[0] = True
    np.logical_or(r[1:] != r[:-1], v[1:] != v[:-1], out=keep[1:])
    return r[keep], v[keep]


def _simhash(
    flat_th: np.ndarray, lengths: np.ndarray, offsets: np.ndarray, nbits: int
) -> np.ndarray:
    n_rows = lengths.shape[0]
    fp = np.zeros(n_rows, dtype=np.uint64)
    if flat_th.shape[0] == 0:
        return fp.astype(np.int64)
    # bit j of the fingerprint is 1 iff ones-count(j) * 2 > tokens in row
    # (sum of ±1 > 0) — one reusable buffer per bit, contiguous ops only.
    # The buffer carries one zero pad element so reduceat offsets stay
    # UNCLAMPED: trailing zero-length rows (offsets == total) index the pad
    # instead of truncating the previous row's segment at total-1.
    tmp = np.zeros(flat_th.shape[0] + 1, dtype=np.uint64)
    for j in range(nbits):
        np.right_shift(flat_th, np.uint64(j), out=tmp[:-1])
        tmp[:-1] &= np.uint64(1)
        ones = np.add.reduceat(tmp, offsets)
        ones[lengths == 0] = 0
        fp |= (2 * ones > lengths.astype(np.uint64)).astype(np.uint64) << np.uint64(j)
    return fp.astype(np.int64)


# Rows per kernel tile are capped so the flattened token-hash slice (and
# its same-sized scratch buffer) stay L2-resident: the MinHash loop makes
# ~4 passes per permutation and the SimHash loop ~3 per bit, so RAM traffic
# drops ~100x when the working set fits in cache. Measured: 2x faster
# single-threaded, and decisive under multi-core contention — this box's
# shared memory bus is the scaling ceiling (BENCH.md).
TILE_TOKENS = 60_000  # ~480 KB of uint64 per buffer


def _kernel_tile(
    flat_th: np.ndarray,
    lengths: np.ndarray,
    offsets: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    coeffs64: np.ndarray,
    nbits: int,
    window: int,
):
    """Run the full kernel on one flattened (cache-sized) tile."""
    n_rows = lengths.shape[0]
    flat_sh, sh_len, sh_off = _shingle_hashes(flat_th, lengths, offsets, coeffs64)
    sig = _minhash(flat_sh, sh_off, a, b)
    ss_rows, ss_vals = _distinct_pairs(
        np.repeat(np.arange(n_rows), sh_len), flat_sh.view(np.int64)
    )
    wn_rows, wn_vals = _winnow(flat_sh, sh_len, sh_off, window)
    sim = _simhash(flat_th, lengths, offsets, nbits)
    return ss_rows, ss_vals, sig, wn_rows, wn_vals, sim


def _kernel_batch(
    flat_th: np.ndarray,
    lengths: np.ndarray,
    offsets: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    coeffs64: np.ndarray,
    nbits: int,
    window: int,
):
    """Tile the batch by token count (TILE_TOKENS) and concatenate the
    per-tile kernel outputs — identical results, cache-resident passes."""
    n_rows = lengths.shape[0]
    total = flat_th.shape[0]
    if total <= TILE_TOKENS:
        return _kernel_tile(
            flat_th, lengths, offsets, a, b, coeffs64, nbits, window
        )
    parts = []
    s = 0
    while s < n_rows:
        e = s + 1
        tok = int(lengths[s])
        while e < n_rows and tok + lengths[e] <= TILE_TOKENS:
            tok += int(lengths[e])
            e += 1
        f0 = int(offsets[s])
        f1 = int(offsets[e - 1] + lengths[e - 1])
        parts.append(
            (
                s,
                _kernel_tile(
                    flat_th[f0:f1],
                    lengths[s:e],
                    offsets[s:e] - f0,
                    a,
                    b,
                    coeffs64,
                    nbits,
                    window,
                ),
            )
        )
        s = e
    ss_rows = np.concatenate([p[0] + r0 for r0, p in parts])
    ss_vals = np.concatenate([p[1] for _, p in parts])
    sig = np.vstack([p[2] for _, p in parts])
    wn_rows = np.concatenate([p[3] + r0 for r0, p in parts])
    wn_vals = np.concatenate([p[4] for _, p in parts])
    sim = np.concatenate([p[5] for _, p in parts])
    return ss_rows, ss_vals, sig, wn_rows, wn_vals, sim


def _list_array(values: np.ndarray, row_ids: np.ndarray, n_rows: int):
    """Zero-copy Arrow list<int64> from row-major (row_ids, values)."""
    import pyarrow as pa

    counts = np.bincount(row_ids, minlength=n_rows)
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(values.astype(np.int64), type=pa.int64()),
    )


def representation_map(
    df: DataFrame, config: DedupConfig, hash_strategy: str = "xxhash64"
) -> DataFrame:
    """mapInArrow kernel: input (id, fp, th array<bigint>) → payload.

    Arrow list offsets ARE the kernel's (flat, offsets) layout — input and
    output cross the boundary zero-copy (measured 4x cheaper than the
    pandas_udf path, which pays to_pandas + DataFrame→Arrow per batch).
    """
    import pyarrow as pa

    a, b = minhash_perms64(config)
    coeffs64 = shingle_coeffs64(config)
    nbits = 64 if hash_strategy == "xxhash64" else 60
    window = WINNOW_WINDOW

    def fn(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            th = batch.column(2)
            off = th.offsets.to_numpy().astype(np.int64)
            flat_th = th.values.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            ).view(np.uint64)
            lengths = np.diff(off)
            ss_rows, ss_vals, sig, wn_rows, wn_vals, sim = _kernel_batch(
                flat_th, lengths, off[:-1], a, b, coeffs64, nbits, window
            )
            sig_flat = np.ascontiguousarray(sig).reshape(-1)
            sig_off = (
                np.arange(n_rows + 1, dtype=np.int32) * np.int32(sig.shape[1])
            )
            sig_arr = pa.ListArray.from_arrays(
                pa.array(sig_off, type=pa.int32()),
                pa.array(sig_flat, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    _list_array(ss_vals, ss_rows, n_rows),
                    sig_arr,
                    _list_array(wn_vals, wn_rows, n_rows),
                    pa.array(sim, type=pa.int64()),
                ],
                ["id", "fp", "shingle_set", "signature", "winnow_fps", "simhash"],
            )

    # id passes through untouched — emit whatever type came in (bigint doc
    # ids in the batch pipeline, string urls in streaming ingest)
    id_t = df.schema[df.columns[0]].dataType.simpleString()
    return df.mapInArrow(
        fn,
        f"id {id_t}, fp string, shingle_set array<bigint>, "
        "signature array<bigint>, winnow_fps array<bigint>, simhash bigint",
    )


def with_ordered_shingles(
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    token_hash_col: str | None = None,
) -> DataFrame:
    """(id, shingles): POSITION-ORDERED shingle hashes (not the distinct
    set) — shingle i covers tokens [i, i+k-1]. Used by the span-emitting
    containment verifier (operators/suffix.py), which needs positions to
    report matched token runs à la Lee et al. 2021. Same rolling-polynomial
    identity as the payload kernel, so values are interchangeable with
    shingle_set entries.

    token_hash_col: a pre-computed ``array<bigint>`` token-hash column on
    ``docs`` — when given, ``text_col`` is ignored and the normalize +
    tokenize + hash expression is NOT re-evaluated. Callers that already
    filtered on token count (operators/suffix.py substring_spans_exact)
    pass the materialized column so the corpus is tokenized once, not
    twice (r03 advice)."""
    import pyarrow as pa

    coeffs64 = shingle_coeffs64(config)

    def fn(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            th = batch.column(1)
            off = th.offsets.to_numpy().astype(np.int64)
            flat_th = th.values.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            ).view(np.uint64)
            lengths = np.diff(off)
            flat_sh, m, _ = _shingle_hashes(
                flat_th, lengths, off[:-1], coeffs64
            )
            sh_row_ids = np.repeat(np.arange(n_rows), m)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _list_array(flat_sh.view(np.int64), sh_row_ids, n_rows)],
                ["id", "shingles"],
            )

    if token_hash_col is not None:
        base = docs.select(
            F.col(id_col).alias("id"), F.col(token_hash_col).alias("_th")
        )
    else:
        th = token_hashes(F.col(text_col), hash_strategy)
        base = docs.select(F.col(id_col).alias("id"), th.alias("_th"))
    id_t = base.schema["id"].dataType.simpleString()
    return base.mapInArrow(fn, f"id {id_t}, shingles array<bigint>")


def with_representation(
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, fp, shingle_set, signature, winnow_fps, simhash [, extras])."""
    from entity_deduplication_hack_main_spark.functions import textstats

    th = token_hashes(F.col(text_col), hash_strategy)
    base = docs.select(
        F.col(id_col).alias("id"),
        textstats.fingerprint(F.col(text_col)).alias("fp"),
        th.alias("_th"),
    )
    if extra_cols:
        # mapInArrow maps the whole batch schema; extras ride along by join
        rep = representation_map(base, config, hash_strategy)
        return rep.join(
            docs.select(F.col(id_col).alias("id"), *extra_cols), "id"
        )
    return representation_map(base, config, hash_strategy)


# --------------------------------------------------------------------------
# DuckDB oracle: identical integers via md5 token hashes (60-bit)
# --------------------------------------------------------------------------


def _signed64(x: str) -> str:
    """HUGEINT expr (>= 0) → the kernel's int64 view (wrap at 2^63)."""
    return (
        f"(CASE WHEN (({x}) % {_U64}) >= {_I64} "
        f"THEN (({x}) % {_U64}) - {_U64} "
        f"ELSE (({x}) % {_U64}) END)::BIGINT"
    )


def sql_repr_ctes(
    config: DedupConfig,
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """CTE chain defining _tok, _th (token hashes), _sh (ordered signed
    shingle hashes), _ss (distinct shingle set), _wn (winnow fps).
    Append your SELECT."""
    coeffs64 = [int(c) for c in shingle_coeffs64(config)]
    k = config.shingle_k
    w = WINNOW_WINDOW
    toks = textnorm.sql_tokens(textnorm.sql_normalize(text_col))
    full_terms = " + ".join(
        f"({coeffs64[j]}::HUGEINT * th[i+{j}])" for j in range(k)
    )
    short_terms = (
        f"list_sum(list_transform(range(1, len(th)+1), "
        f"j -> [{', '.join(str(c) for c in coeffs64)}][j]::HUGEINT * th[j]))"
    )
    return f"""
_tok AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {doc_table}
),
_th AS (
  SELECT id,
         list_transform(toks, t -> {hashes.sql_md5_long('t')}) AS th
  FROM _tok
),
_sh AS (
  SELECT id,
         CASE
           WHEN len(th) = 0 THEN [0::BIGINT]
           WHEN len(th) >= {k} THEN
             list_transform(range(1, len(th) - {k} + 2),
                            i -> {_signed64(full_terms)})
           ELSE [{_signed64(short_terms)}]
         END AS sh
  FROM _th
),
_ss AS (
  SELECT id, list_sort(list_distinct(sh)) AS ss FROM _sh
),
_wn AS (
  SELECT id, list_distinct(
    CASE WHEN len(sh) >= {w} THEN
      list_transform(range(1, len(sh) - {w} + 2),
                     i -> list_min(sh[i:i+{w - 1}]))
    ELSE [list_min(sh)] END) AS wn
  FROM _sh
)"""


def sql_signature_cte(config: DedupConfig) -> str:
    """CTEs _mh (id, pid, v) and _sig (id, sig list) from _sh.

    Mirrors the kernel: v = min over shingles of
    int64-view((a*h_unsigned + b) mod 2^64) with unsigned h recovered from
    the signed sh values.
    """
    a, b = minhash_perms64(config)
    rows = ", ".join(
        f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)"
        for i in range(config.num_perms)
    )
    hu = f"(CASE WHEN _u.h < 0 THEN _u.h::HUGEINT + {_U64} ELSE _u.h::HUGEINT END)"
    # kernel value = int64 view of ((a*h+b mod 2^64) XOR 2^63) = v - 2^63
    val = f"(((perms.a * {hu} + perms.b) % {_U64}) - {_I64})::BIGINT"
    return f"""
_u AS (SELECT id, unnest(sh) AS h FROM _sh),
_mh AS (
  SELECT _u.id, perms.pid, min({val}) AS v
  FROM _u CROSS JOIN (VALUES {rows}) AS perms(pid, a, b)
  GROUP BY _u.id, perms.pid
),
_sig AS (
  SELECT id, list(v ORDER BY pid) AS sig FROM _mh GROUP BY id
)"""
