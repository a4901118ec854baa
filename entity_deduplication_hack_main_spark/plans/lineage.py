"""Stage commit protocol + per-partition lineage rows (resumability).

North_rule requirement: "every stage writes per-partition lineage rows
(input count, signature bytes, pair count, wall time) so any run resumes
from the last committed checkpoint."

Contract (Iceberg-style atomic commits, parquet fallback — the sandbox has
no Iceberg runtime jar; the interface is the commit/resume semantics, and an
Iceberg writer can be slotted in behind ``StageCommitter`` unchanged):

- each stage writes its output DataFrame to ``<workdir>/<stage>/`` via
  Spark's committed parquet write (the ``_SUCCESS`` marker IS the atomic
  commit record);
- after commit, per-output-file byte counts (the written partition
  layout), the stage's observed row counts and its wall time land in
  ``<workdir>/_lineage/`` as append-only parquet. The driver serializes
  those few rows with ``pyarrow`` and writes one file per stage through
  the Hadoop FileSystem (temp name, then rename) — no Spark job, and the
  same ``s3a://``/``hdfs://`` workdirs as the stage outputs;
- on re-run, a stage whose ``_SUCCESS`` exists is *skipped* and its output
  read back — resume from last committed checkpoint for free.

The reference's analog is the append-only ``runtimes.txt`` log
(``Run_TransE.py:71-72``) — ours is queryable and per-partition.
"""

from __future__ import annotations

import io
import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from entity_deduplication_hack_main_spark.plans import fsutil

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("file", StringType()),
        StructField("input_rows", LongType()),
        StructField("rows", LongType()),
        StructField("bytes", LongType()),
        StructField("wall_ms", LongType()),
        StructField("resumed", BooleanType()),
        StructField("committed_at", TimestampType()),
    ]
)
# committed_at becomes a UTC-adjusted timestamp, which Spark reads back as
# `timestamp` (older, Spark-written files hold INT96; both read the same)
_ARROW_LINEAGE_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA)
# Existence/listing checks and lineage writes go through the Hadoop
# FileSystem (plans/fsutil) so resume works on s3a://-style workdirs, not
# just local paths.


class StageCommitter:
    """Commit/resume wrapper around stage builds.

    With ``workdir=None`` every stage runs lazily in-memory (no commits) —
    used by unit tests and the SQL-oracle queries.
    """

    def __init__(
        self, spark: SparkSession, workdir: str | None = None, run_id: str = "run"
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self.events: list[dict] = []
        self._prev_rows: int | None = None  # previous stage's observed rows
        #                                     = this stage's input count

    def _path(self, stage: str) -> str:
        assert self.workdir is not None
        return os.path.join(self.workdir, stage)

    def _committed(self, stage: str) -> bool:
        return fsutil.exists(
            self.spark, os.path.join(self._path(stage), "_SUCCESS")
        )

    def stage(self, name: str, build) -> DataFrame:
        """Run (or resume) a stage. ``build`` is a zero-arg fn → DataFrame.

        Without a workdir the stage output is cached instead of committed —
        downstream stages (and the iterative union-find) must not recompute
        the whole upstream lineage per action.

        Committed path: the row count comes from the ``Observation`` API —
        collected DURING the write job, zero extra pass over the data (the
        previous per-file groupBy re-read every stage output — an extra
        full scan per stage, prohibitive at 100 TB); per-file bytes come
        from filesystem metadata only.

        Jobs started by the build and the write carry the description
        ``<run_id>/<name>``; the caller's description is restored after.
        The job group is left alone: callers own it.
        """
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{self.run_id}/{name}")
        try:
            if self.workdir is None:
                return build().cache()
            t0 = time.monotonic()
            resumed = self._committed(name)
            rows = None
            if not resumed:
                obs = Observation(f"lineage_{name}")
                df = build().observe(obs, F.count(F.lit(1)).alias("rows"))
                df.write.mode("overwrite").parquet(self._path(name))
                rows = obs.get["rows"]
        finally:
            sc.setJobDescription(caller)
        out = self.spark.read.parquet(self._path(name))
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._write_lineage(name, rows, wall_ms, resumed)
        self._prev_rows = int(rows) if rows is not None else None
        return out

    def _list_files(self, stage: str) -> list[tuple[str, int]]:
        return fsutil.list_files(self.spark, self._path(stage), ".parquet")

    def _write_lineage(
        self, stage: str, rows: int | None, wall_ms: int, resumed: bool
    ) -> None:
        files = self._list_files(stage)
        now = datetime.now(timezone.utc)
        recs = [
            (self.run_id, stage, f, None, None, int(sz), wall_ms, resumed, now)
            for f, sz in files
        ]
        # `_total` row carries observed input/output row counts (None on
        # resume) so empty stages still appear in lineage
        recs.append(
            (
                self.run_id,
                stage,
                "_total",
                self._prev_rows,
                int(rows) if rows is not None else None,
                sum(sz for _, sz in files),
                wall_ms,
                resumed,
                now,
            )
        )
        table = pa.Table.from_arrays(
            [list(col) for col in zip(*recs)], schema=_ARROW_LINEAGE_SCHEMA
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        fsutil.write_atomic(
            self.spark,
            os.path.join(
                self.workdir, "_lineage", f"part-{uuid.uuid4().hex}.parquet"
            ),
            buf.getvalue(),
        )
        self.events.append(
            {"stage": stage, "rows": rows, "wall_ms": wall_ms, "resumed": resumed}
        )

    def lineage(self) -> DataFrame | None:
        if self.workdir is None:
            return None
        path = os.path.join(self.workdir, "_lineage")
        if not fsutil.exists(self.spark, path):
            return None
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(path)
