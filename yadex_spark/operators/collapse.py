"""Per-micro-batch dedup + terminal-op collapse (SURVEY.md T1/T3).

The reference preserves effect-order by applying every event one by one
through ordered BulkWrites (/root/reference/msync/bulkwrite.go:91-96);
a set-based MERGE cannot apply two ops for one key in one statement, so
each micro-batch is collapsed to the *last* op per (table, doc_id) —
final state is identical under last-writer-wins because update/replace
carry the full post-image (ReplaceOne upsert,
/root/reference/msync/oploggetters.go:99-104).

Both implementations rank by ``op_seq`` ALONE (resume-token arrival
order — the order the reference applies events in), so the winner is
identical across impls and micro-batch boundaries.

- ``impl="narrow"`` (default, the pipeline's): aggregate only the
  ordering key (8-byte agg buffers instead of the whole post-image — a
  plain BIGINT max stays a codegen'd HashAggregate, where a struct-max
  over the payload falls back to SortAggregate), then join the winners
  back to fetch payloads; the join-back broadcasts when the winner set
  is small.  Map-side partial aggregation pre-collapses a hot doc_id
  (skew) to one row per input partition before the shuffle —
  LWW-max is associative & commutative, so no salting is needed.

- ``impl="arrow"``: salted two-phase grouped-map ``applyInPandas``
  (vectorized Arrow, no per-row Python).  First phase groups on
  (table, doc_id, salt) so a hot key is split across ``n_salt``
  groups; second phase collapses the ≤ n_salt survivors.  Exists to
  keep a general-purpose vectorized collapse surface for payloads
  whose "merge" is not expressible as a struct-max (e.g. custom
  conflict resolution), per BASELINE.json north_star.

Drop barrier (T1 'drop' + B1 rule (c), /root/reference/msync/input.go:
113-123): a collection drop discards everything before it for that
table.  ``split_drops`` returns the surviving events plus a per-table
truncate watermark the sink applies *before* merging the batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ordering key of the change feed.  op_seq alone: the resume-token
#: order IS the order the reference applies events in
#: (/root/reference/msync/oploggetters.go:89-91 — _id._data is totally
#: ordered), and it is the SOLE LWW/barrier key everywhere (collapse,
#: drop barriers, lake _seq) so the winner never depends on impl choice
#: or micro-batch boundaries.  op_ts is metadata (expiry windows only).
ORDER_COL = "op_seq"


def split_drops(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (non-drop events past the last drop barrier,
    per-table truncate watermarks).

    Returns ``(events', truncates)`` where ``truncates`` has columns
    (table, trunc_seq) — the max drop position per table.  Events for a
    table at or before its barrier are dead (the reference discards the
    buffered batch when a drop arrives)."""
    drops = events.where(F.col("op") == "drop")
    truncates = drops.groupBy("table").agg(F.max(ORDER_COL).alias("trunc_seq"))

    live = events.where(F.col("op") != "drop")
    # anti-filter: drop events that precede the barrier for their table
    live = (
        live.join(F.broadcast(truncates), "table", "left")
        .where(F.col("trunc_seq").isNull() | (F.col(ORDER_COL) > F.col("trunc_seq")))
        .drop("trunc_seq")
    )
    return live, truncates


def collapse(events: DataFrame, impl: str = "narrow", n_salt: int = 16,
             broadcast_winners: bool = False) -> DataFrame:
    """Collapse to one terminal op per (table, doc_id).

    Input:  oplog rows (op != 'drop', doc_id non-null).
    Output: one row per key — (table, doc_id, op_ts, op_seq, op, after).

    ``broadcast_winners`` (narrow impl): hint the winner set for a
    broadcast join-back.  Catalyst's static size estimate for an
    aggregate output routinely exceeds autoBroadcastJoinThreshold, so
    without the hint the join-back becomes a SortMergeJoin that shuffles
    AND sorts the full-width batch — measured 2.2× slower for the whole
    epoch write at 2M events.  The pipeline sets this from a key-count
    estimate (see CdcPipeline.broadcast_keys_max); callers who can't
    bound the key count leave it False and get the shuffle join.
    """
    payload_cols = [c for c in events.columns if c not in ("table", "doc_id")]
    if impl == "narrow":
        # a plain BIGINT max runs as a codegen'd HashAggregate (a struct
        # max falls back to SortAggregate, no codegen —
        # scripts/explain_audit.py caught it); op_seq is unique so the
        # join-back returns exactly one row per key
        winners = events.groupBy("table", "doc_id").agg(F.max(ORDER_COL).alias("_w"))
        if broadcast_winners:
            winners = F.broadcast(winners)
        out = events.join(winners, ["table", "doc_id"]).where(F.col(ORDER_COL) == F.col("_w"))
        return out.select("table", "doc_id", *payload_cols)
    if impl == "arrow":
        return _collapse_arrow(events, n_salt)
    raise ValueError(f"unknown impl {impl!r}")


def _collapse_arrow(events: DataFrame, n_salt: int) -> DataFrame:
    """Salted two-phase grouped-map collapse (vectorized Arrow UDF)."""
    schema = events.schema

    def _last_per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized: sort by the arrival-order key, keep last row per key
        pdf = pdf.sort_values(ORDER_COL, kind="stable")
        return pdf.groupby(["table", "doc_id"], as_index=False, sort=False).tail(1)

    salted = events.withColumn(
        "_salt", F.pmod(F.xxhash64("op_seq"), F.lit(n_salt)).cast("int")
    )
    phase1 = (
        salted.groupBy("table", "doc_id", "_salt")
        .applyInPandas(
            lambda pdf: _last_per_key(pdf.drop(columns=["_salt"])), schema
        )
    )
    phase2 = phase1.groupBy("table", "doc_id").applyInPandas(_last_per_key, schema)
    order = ["table", "doc_id"] + [c for c in events.columns if c not in ("table", "doc_id")]
    return phase2.select(*order)


def batch_stats(events: DataFrame) -> DataFrame:
    """Per-(table, partition) lineage inputs: offset range + op counts
    (SURVEY.md C1/M1 — the north_rule's per-partition lineage)."""
    return (
        events.withColumn("partition_id", F.spark_partition_id())
        .groupBy("table", "partition_id")
        .agg(
            F.min("op_seq").alias("offset_lo"),
            F.max("op_seq").alias("offset_hi"),
            F.sum(F.when(F.col("op") == "insert", 1).otherwise(0)).alias("n_insert"),
            F.sum(F.when(F.col("op").isin("update", "replace"), 1).otherwise(0)).alias("n_update"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_delete"),
        )
    )
