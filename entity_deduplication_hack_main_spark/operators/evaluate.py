"""Golden-standard evaluation: pair-set P/R/F1 with the reference's FP
carve-out, per-type breakdowns, cluster-assignment recall.

Reference parity (``EvaluateVariations.ipynb cell 2`` ``evaluate_matches``):
- pair keys are order-insensitive (sorted tuples → least/greatest, J7);
- TP = matched ∩ golden, FN = golden − matched (anti join);
- FP = matched − golden, EXCLUDING pairs the engine classified
  ``true_duplicate`` (exact) — the reference forgives exact duplicates the
  golden file missed; our analog forgives dup_type = 'exact';
- per-entity-type PRF (cell 5) and matched-% per variation type (cell 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm_pairs(df: DataFrame, c1: str, c2: str) -> DataFrame:
    return df.select(
        F.least(F.col(c1), F.col(c2)).alias("p1"),
        F.greatest(F.col(c1), F.col(c2)).alias("p2"),
    ).distinct()


def pair_metrics(
    matched: DataFrame,
    golden: DataFrame,
    matched_cols: tuple[str, str] = ("id1", "id2"),
    golden_cols: tuple[str, str] = ("original_id", "duplicate_id"),
    exact_pairs: DataFrame | None = None,
) -> dict[str, float]:
    """{tp, fp, fn, precision, recall, f1} over normalized pair sets.

    exact_pairs: optional (id1, id2) the engine calls 'exact' — excluded
    from FP like the reference's true_duplicate carve-out.
    """
    m = _norm_pairs(matched, *matched_cols).cache()
    g = _norm_pairs(golden, *golden_cols).cache()
    try:
        tp = m.join(g, ["p1", "p2"], "left_semi").count()
        fp_df = m.join(g, ["p1", "p2"], "left_anti")
        if exact_pairs is not None:
            fp_df = fp_df.join(
                _norm_pairs(exact_pairs, *matched_cols),
                ["p1", "p2"],
                "left_anti",
            )
        fp = fp_df.count()
        fn = g.join(m, ["p1", "p2"], "left_anti").count()
    finally:
        m.unpersist()
        g.unpersist()
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "tp": tp, "fp": fp, "fn": fn,
        "precision": precision, "recall": recall, "f1": f1,
    }


def pair_metrics_by_type(
    matched: DataFrame,
    golden: DataFrame,
    doc_types: DataFrame,
    id_col: str = "id",
    type_col: str = "type",
    matched_cols: tuple[str, str] = ("id1", "id2"),
    golden_cols: tuple[str, str] = ("original_id", "duplicate_id"),
    exact_pairs: DataFrame | None = None,
) -> DataFrame:
    """(type, tp, fp, fn, precision, recall, f1) — per-entity-type P/R/F1
    (``EvaluateVariations.ipynb cell 5`` computes both per type; r01 only
    had the recall side). A pair's type comes from its min-id member via
    ``doc_types`` (pairs are within-type in the reference); the exact-dup
    FP carve-out matches :func:`pair_metrics`."""
    m = _norm_pairs(matched, *matched_cols)
    g = _norm_pairs(golden, *golden_cols)
    mm = m.join(g.withColumn("_g", F.lit(1)), ["p1", "p2"], "left")
    tp = mm.where(F.col("_g") == 1).select("p1", F.lit("tp").alias("_k"))
    fp_pool = mm.where(F.col("_g").isNull())
    if exact_pairs is not None:
        fp_pool = fp_pool.join(
            _norm_pairs(exact_pairs, *matched_cols), ["p1", "p2"], "left_anti"
        )
    fp = fp_pool.select("p1", F.lit("fp").alias("_k"))
    fn = g.join(m, ["p1", "p2"], "left_anti").select(
        "p1", F.lit("fn").alias("_k")
    )
    t = doc_types.select(
        F.col(id_col).alias("p1"), F.col(type_col).alias("type")
    )
    counts = (
        tp.unionByName(fp)
        .unionByName(fn)
        .join(t, "p1", "left")
        .groupBy("type")
        .agg(
            F.sum((F.col("_k") == "tp").cast("long")).alias("tp"),
            F.sum((F.col("_k") == "fp").cast("long")).alias("fp"),
            F.sum((F.col("_k") == "fn").cast("long")).alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    ).otherwise(0.0)
    rec = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    ).otherwise(0.0)
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return counts.select(
        "type",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def recall_by_type(
    matched: DataFrame,
    golden: DataFrame,
    type_col: str = "variation_type",
    matched_cols: tuple[str, str] = ("id1", "id2"),
    golden_cols: tuple[str, str] = ("original_id", "duplicate_id"),
) -> DataFrame:
    """(variation_type, n_golden, n_matched, recall) — cell 6 analog."""
    g = golden.select(
        F.least(F.col(golden_cols[0]), F.col(golden_cols[1])).alias("p1"),
        F.greatest(F.col(golden_cols[0]), F.col(golden_cols[1])).alias("p2"),
        F.col(type_col),
    )
    m = _norm_pairs(matched, *matched_cols).withColumn("matched", F.lit(1))
    return (
        g.join(m, ["p1", "p2"], "left")
        .groupBy(type_col)
        .agg(
            F.count("*").alias("n_golden"),
            F.sum(F.coalesce("matched", F.lit(0))).alias("n_matched"),
            F.round(
                F.sum(F.coalesce("matched", F.lit(0))) / F.count("*"), 6
            ).alias("recall"),
        )
    )


def error_analysis(
    matched: DataFrame,
    golden: DataFrame,
    matched_cols: tuple[str, str] = ("id1", "id2"),
    golden_cols: tuple[str, str] = ("original_id", "duplicate_id"),
    exact_pairs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(predicted_not_in_golden, missed_matches): the reference's
    regression-diff artifacts (``data/error_analysis/
    *_predicted_not_in_golden.json`` and the per-run missed set behind
    ``common_missed_matches.csv``) as pair DataFrames (p1, p2).

    predicted_not_in_golden = matched − golden, after the same exact-dup
    FP carve-out as :func:`pair_metrics` (pairs the engine proved
    byte-identical are not errors just because the golden file missed
    them); missed_matches = golden − matched. Persist with
    ``sources.sinks.write_matches_json`` to diff across runs."""
    m = _norm_pairs(matched, *matched_cols)
    g = _norm_pairs(golden, *golden_cols)
    fp_df = m.join(g, ["p1", "p2"], "left_anti")
    if exact_pairs is not None:
        fp_df = fp_df.join(
            _norm_pairs(exact_pairs, *matched_cols), ["p1", "p2"], "left_anti"
        )
    fn_df = g.join(m, ["p1", "p2"], "left_anti")
    return fp_df, fn_df


def common_missed_matches(*missed: DataFrame) -> DataFrame:
    """Pairs missed by EVERY run — ``common_missed_matches.csv``'s
    cross-model intersection (the reference diffs its models' missed sets
    to find structurally-hard pairs). Input: >= 1 (p1, p2) missed sets
    from :func:`error_analysis`."""
    if not missed:
        raise ValueError("need at least one missed-pair set")
    out = missed[0].select("p1", "p2").distinct()
    for df in missed[1:]:
        out = out.intersect(df.select("p1", "p2").distinct())
    return out


def cluster_recall(
    assignments: DataFrame,
    golden: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    golden_cols: tuple[str, str] = ("original_id", "duplicate_id"),
) -> float:
    """Fraction of golden pairs whose two docs share a cluster — the
    north_rule's dup-pair recall vs cluster assignments (>= 0.99 gate)."""
    a1 = assignments.select(
        F.col(id_col).alias(golden_cols[0]), F.col(cluster_col).alias("c1")
    )
    a2 = assignments.select(
        F.col(id_col).alias(golden_cols[1]), F.col(cluster_col).alias("c2")
    )
    j = golden.join(a1, golden_cols[0]).join(a2, golden_cols[1])
    row = j.select(
        F.avg((F.col("c1") == F.col("c2")).cast("double")).alias("r")
    ).collect()[0]
    return float(row["r"]) if row["r"] is not None else 1.0
