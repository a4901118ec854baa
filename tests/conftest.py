"""Shared fixtures: one Spark session per pytest run (sessions cost
~10 s), and a DuckDB connection over the sf0.001 tables for oracle
references."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest

from entity_deduplication_hack_main_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=8, shuffle_partitions=8, app_name="spark-dedup-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01() -> str:
    return "/root/testdata/sf0.01"


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def duck(sf001):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf001}/{t}.parquet')"
        )
    return con


def _value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    if len(df) == 0:
        rows = []
    else:
        rows = sorted(df.apply(lambda r: "|".join(r), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()
