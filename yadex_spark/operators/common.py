"""Shared operator utilities."""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame


@contextlib.contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df.persist()`` for the duration of the ``with`` block, released
    on every exit path — an exception mid-block must not leave the
    frame pinned in the executors' storage for the session's life."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Pin the downstream stage's parallelism to the cluster's cores.

    AQE sizes shuffle stages by BYTES, so work that is tiny by bytes but
    heavy by CPU (seeded md5 per shingle/word row, per-pair dot products
    and hamming verifies) gets coalesced to ONE partition and runs
    serial — measured: every stage of dedup_simhash_pairs at sf0.1 ran
    as a single task.  An explicit numPartitions disables coalescing for
    exactly this exchange; ``defaultParallelism`` scales with the
    cluster, so the same statement is right at 1000 executors."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)
