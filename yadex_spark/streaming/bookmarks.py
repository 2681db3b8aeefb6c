"""Resume-state inspection + retention validation (SURVEY.md C3/C4, F3).

Structured Streaming's checkpoint is the bookmark store (offsets written
before each epoch, commits after — exactly the reference's
pending-list + bookmark upsert, /root/reference/msync/changecoll.go:9-87
and bookmark.go:31-54, minus its leaky error path).  This module gives
the operational views the reference exposes:

- ``resume_points``   per-table applied high-watermark from lineage
                      (getCollBookMarks, bookmark.go:64-97)
- ``validate_retention`` can the feed still serve the resume point, or
                      must we fall back to a snapshot clone?
                      (updateCollBookmarks, bookmark.go:99-146)
- ``catchup_filter``  replay-overlap skip: drop events at or below the
                      per-table applied watermark (run.go:175-185)
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def resume_points(spark: SparkSession, lake_dir: str) -> DataFrame:
    """(table, applied_hi) — max applied op_seq per table, from lineage."""
    from yadex_spark.streaming.pipeline import read_lineage

    lin = read_lineage(spark, lake_dir)
    return lin.groupBy("table").agg(F.max("offset_hi").alias("applied_hi"))


def checkpoint_epochs(checkpoint_dir: str) -> tuple[int | None, int | None]:
    """(last_offset_epoch, last_committed_epoch) from the checkpoint WAL.
    A gap between them means an epoch is mid-flight (the reference's
    'pending' state; IsClean ≡ no gap)."""
    def last(kind: str) -> int | None:
        files = [
            os.path.basename(p)
            for p in glob.glob(os.path.join(checkpoint_dir, kind, "*"))
            if not p.endswith((".tmp", ".crc"))
        ]
        nums = [int(f) for f in files if f.isdigit()]
        return max(nums) if nums else None

    return last("offsets"), last("commits")


def is_clean(checkpoint_dir: str) -> bool:
    """The reference's quiescence signal (msync/generics.go:30-64):
    every started epoch has committed."""
    off, com = checkpoint_epochs(checkpoint_dir)
    return off is None or off == com


def feed_seq_bounds(oplog_dir: str) -> dict[str, list]:
    """{data file: [min op_seq, max op_seq]} for every feed file that
    holds an op_seq, read on the driver (no Spark job) from footers by
    the lake's one bounds reader, ``_file_key_bounds``.  A file whose
    footer proves no bounds (written without statistics) falls back to
    reading its op_seq column.  Lists the files Spark's file index
    reads: ``_``/``.``-prefixed names (``_SUCCESS``, ``.crc``, temp
    dirs) are skipped."""
    import pyarrow.parquet as pq

    from yadex_spark.lake.table import _file_key_bounds

    out = {}
    for root, dirs, names in os.walk(oplog_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            b = _file_key_bounds(p, "op_seq")
            if b is None:
                try:
                    seqs = pq.read_table(p, columns=["op_seq"])["op_seq"].drop_null().to_pylist()
                except (OSError, ValueError, KeyError):  # not a readable feed file
                    continue
                b = [min(seqs), max(seqs)] if seqs else []
            if b:
                out[p] = b
    return out


def feed_min_offset(oplog_dir: str) -> int | None:
    """Oldest op_seq the feed can still serve (its 'oplog retention');
    None for an empty or missing feed."""
    return min((lo for lo, _ in feed_seq_bounds(oplog_dir).values()), default=None)


def validate_retention(spark: SparkSession, lake_dir: str, oplog_dir: str) -> DataFrame:
    """Per table: can the stream resume, or is a re-clone needed?
    (bookmark purge semantics: a resume point older than the feed's
    oldest offset is unusable → full snapshot reload, bookmark.go:99-146)."""
    fmin = feed_min_offset(oplog_dir)
    rp = resume_points(spark, lake_dir)
    return rp.select(
        "table",
        "applied_hi",
        F.lit(fmin).alias("feed_min"),
        (F.col("applied_hi") + 1 >= F.lit(fmin)).alias("resumable"),
    )


def catchup_filter(events: DataFrame, resume: DataFrame) -> DataFrame:
    """F3: during replay from a global position, skip events already
    applied per-table (op_seq <= that table's applied watermark)."""
    return (
        events.join(F.broadcast(resume), "table", "left")
        .where(F.col("applied_hi").isNull() | (F.col("op_seq") > F.col("applied_hi")))
        .drop("applied_hi")
    )
