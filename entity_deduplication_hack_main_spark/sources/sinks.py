"""Sources & sinks covering the reference's I/O surface (SURVEY.md §2.1).

| ref | reference mechanism | here |
|-----|--------------------|------|
| S1  | Turtle graph scan (rdflib)        | parquet/Iceberg-contract scan |
| S2  | graph union                       | unionByName                   |
| S3  | CSV scan (golden standard)        | read_golden_csv               |
| S4  | JSON matches sink (json.dump)     | write_matches_json            |
| S5  | JSON scan (eval input)            | read_matches_json             |
| S6  | dict export                       | DataFrame → columns (native)  |
| S7  | append-only runtime log           | plans/lineage.py              |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_golden_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3: golden-standard pair CSV with header, all-string columns
    (reference schema: original_id, duplicate_id, entity_type,
    variation_type, field_name, original_value, varied_value)."""
    return spark.read.csv(path, header=True, inferSchema=False)


def write_matches_json(matches: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4: match report sink (dedup_pipeline.py:81-83 json.dump analog)."""
    matches.write.mode(mode).json(path)


def read_matches_json(spark: SparkSession, path: str) -> DataFrame:
    """S5: match report scan (EvaluateVariations.ipynb cell 2 analog)."""
    return spark.read.json(path)


def write_corpus_partitioned(
    docs: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Corpus sink partitioned by days(warc_ts) — the north_star's Iceberg
    `days(warc_ts)` partition transform rendered as a parquet partition
    column. Readers filtering on warc_ts get partition pruning
    (PartitionFilters in the scan; tests/test_plans.py asserts it)."""
    from pyspark.sql import functions as F

    (
        docs.withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode(mode)
        .partitionBy("warc_day")
        .parquet(path)
    )


def read_corpus_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
