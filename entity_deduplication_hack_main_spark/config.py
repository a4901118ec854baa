"""Dedup pipeline configuration.

The reference hard-codes its knobs in driver scripts
(``Run_Sembedding.py:25-33``: threshold=0.6, top_k=5, filter_literals=True;
adaptive thresholds ``similarity_utils.py:49-54``). We centralize them in one
dataclass so the same config drives the batch pipeline, the SQL-oracle
queries, and the pytest golden suite — the BASELINE.json north_rule requires
"the same shingle/signature config" across engine and reference comparison.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    """Knobs for the MinHash/SimHash/suffix-array dedup pipeline."""

    # --- shingling -------------------------------------------------------
    shingle_k: int = 5          # words per shingle (web pages)
    # --- MinHash ---------------------------------------------------------
    num_perms: int = 128        # signature length (north_star: 128)
    bands: int = 32             # LSH bands
    rows_per_band: int = 4      # rows per band; bands*rows == num_perms
    seed: int = 69              # reference's global seed (embedding_utils.py:94)
    # --- verification thresholds (duplicate taxonomy, output_utils.py:60-73)
    jaccard_near_exact: float = 0.9   # near-exact if J >= 0.9
    jaccard_similar: float = 0.7      # similar if J >= 0.7
    jaccard_candidate: float = 0.5    # below this a candidate is "conflict"
    # --- SimHash channel -------------------------------------------------
    simhash_blocks: int = 4     # Hamming-ball block index (4 x 16-bit keys)
    hamming_radius: int = 3     # near-exact if Hamming distance <= r
    # --- skew handling ---------------------------------------------------
    max_bucket_size: int = 2000   # LSH buckets larger than this are salted
    salt_chunk: int = 256         # member-chunk size for salted pair gen
    winnow_max_df: int = 200      # winnow fps in more docs = boilerplate,
    #                               skipped (documented coverage cap)
    # --- exact-substring span pass (the north-star "suffix-array pass") --
    substring_span_k: int | None = None  # gram length in tokens; None = the
    #                               span-cutting stage is off. When set, the
    #                               pipeline also emits (id1, id2, start1,
    #                               start2, span_len) maximal verbatim runs
    #                               >= span_k tokens (operators/suffix.py
    #                               substring_spans_exact) for span CUTTING
    #                               à la Lee et al. 2021 — spans don't merge
    #                               clusters (two long docs sharing one
    #                               quote are not duplicates).
    substring_cut: bool = False  # when True (and substring_span_k is set),
    #                               the pipeline adds a committed
    #                               `substring_cut` stage consuming the SAME
    #                               span result — one gram pass feeds both
    #                               spans and raw-byte cut docs
    #                               (operators/suffix.py cut_spans_raw).
    # --- clustering ------------------------------------------------------
    max_cc_iterations: int = 50   # union-find safety cap (O(log n) expected)

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal num_perms ({self.num_perms})"
            )

    # The MinHash permutation table itself lives next to the kernel that
    # consumes it (functions/represent.py minhash_perms64): 64-bit
    # multiply-shift permutations mod 2^64, seeded off (seed, 779).


DEFAULT_CONFIG = DedupConfig()

# Smaller config for word-salad driver testdata (documents.parquet texts are
# ~30-80 tokens; 3-word shingles give usable Jaccard resolution there).
TESTDATA_CONFIG = DedupConfig(shingle_k=3, num_perms=32, bands=8, rows_per_band=4)
