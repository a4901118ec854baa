"""Pinned frames and their release.

A frame is pinned by ``localCheckpoint(eager=True)`` (lineage cut, blocks
on the executors) or by ``persist()``. ``DataFrame.unpersist()`` does not
free a local checkpoint's blocks on Spark 4.1, so a checkpoint is released
through the checkpointed RDD its plan scans. A pin is released only once
nothing will read a frame derived from it: a released checkpoint fails
every later read with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.

A checkpoint also carries the size estimate of the plan it ran. A join's
estimate is the product of its inputs', so a loop that joins each
round's checkpoint with itself doubles the estimate's bit length every
round; after ~25 rounds planning alone stalls in big-integer products.
``unsized`` drops the carried estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class Pins:
    """The frames one unit of work pins, each with its release."""

    def __init__(self) -> None:
        self._pinned: list = []  # (frame, release)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint(eager=True)``, released through the
        checkpointed RDD its plan scans."""
        out = df.localCheckpoint(eager=True)
        rdd = out._jdf.logicalPlan().rdd()
        self._pinned.append((out, lambda: rdd.unpersist(False)))
        return out

    def persist(self, df: DataFrame) -> DataFrame:
        out = df.persist()
        self._pinned.append((out, out.unpersist))
        return out

    def release(self, *frames: DataFrame) -> None:
        """Release the pins of ``frames`` (frames this object returned),
        or every pin when none is given, newest first: a pin released
        under a still-cached dependent makes Spark re-plan the dependent."""
        kept = []
        for out, release in reversed(self._pinned):
            if not frames or any(out is f for f in frames):
                release()
            else:
                kept.append((out, release))
        self._pinned = kept[::-1]


def unsized(df: DataFrame) -> DataFrame:
    """The rows of the checkpointed ``df``, planned without the size
    estimate its checkpoint carried over."""
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            df._jdf.logicalPlan().rdd(), df._jdf.schema(), False
        ),
        spark,
    )
