"""The epoch-commit core every streaming ingest-family member runs on.

yadex earns exactly-once through one mechanism: a persisted resume
bookmark per collection, against which every bulk apply is idempotent.
The ingest family (``dedup_ingest``, ``neardup_ingest``,
``embdedup_ingest``, ``spandedup_ingest``, ``clean_ingest``,
``boiler_ingest`` and the four counting members of ``fold_ingest``)
earns it the same way, through this one class:

- **checkpoint scope** — a stable per-checkpoint id (Delta's txnAppId
  analogue): epoch numbers restart at 0 under a fresh checkpoint, so
  un-scoped ids would make a new run against an existing lake skip
  real batches as already committed;
- **scoped batch id** ``"{scope}/{TAG}-e{epoch}"`` on every commit of
  the epoch, and the **replay skip**: a member commits its registry
  (``seen``) LAST, so that commit's batch id is the epoch's
  fully-applied marker.  A crash-replayed epoch whose marker landed
  no-ops on entry; one that crashed between commits recomputes the
  identical earlier deltas (the registry still lacks this epoch), which
  the lake no-ops by batch id, then lands the marker.  The batch id
  commits atomically with the table manifest, so it is the family's
  only idempotence mechanism — and for multiplicity-counting state
  (the CMS member) it is load-bearing;
- the **AvailableNow drain loop** over ``FEED_SCHEMA`` parquet chunks
  (``CdcPipeline.run_available_now`` drains through the same
  function);
- **maintenance** — compact + vacuum (or the cheap minor tier) +
  manifest-log fold of every table the member keeps
  (:func:`maintain_table`, the CDC pipeline's per-table step too),
  under the shared nonce-confirmed lease (run with the stream stopped;
  at scale, Iceberg rewrite_data_files + expire_snapshots).

A member supplies its ``TAG``, its tables and the epoch body
``_apply(batch, epoch_id, batch_id)``.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable, _publish_json

#: feed schema: arrival order + document.  ingest_seq is the feed's
#: UNIQUE arrival offset (the op_seq analogue of the CDC feed): the
#: first-arrival collapse keys on it, so two arrivals never share one.
INGEST_SCHEMA = "ingest_seq long, doc_id string, text string"


def checkpoint_scope(checkpoint_dir: str) -> str:
    """Read-or-create the checkpoint's stable scope id (O_EXCL: one
    winner under concurrent creation).  Shared by every checkpointed
    pipeline that namespaces batch ids (CdcPipeline, EpochIngest)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, "_yadex_scope.json")
    if not os.path.exists(path):
        _publish_json(path, {"scope": uuid.uuid4().hex[:12]})
    with open(path) as f:
        return json.load(f)["scope"]


def drain_available_now(stream: DataFrame, apply_batch, checkpoint_dir: str,
                        timeout_s: int) -> None:
    """Run ``apply_batch`` over everything currently in ``stream``, then
    stop — the analogue of the reference's WaitJobDone quiescence
    barrier (msync/debug.go:37-63)."""
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError("stream did not drain in time")
    if q.exception() is not None:
        raise q.exception()


def insert_delta(df: DataFrame, key: str | Column, seq: str | Column,
                 *after: str | Column) -> DataFrame:
    """``df`` as an insert-only lake delta: (doc_id = ``key``, op,
    op_seq = ``seq``, after = struct(``after``))."""
    col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    return df.select(
        col(key).cast("string").alias("doc_id"),
        F.lit("insert").alias("op"),
        col(seq).cast("long").alias("op_seq"),
        F.struct(*after).alias("after"),
    )


def maintain_table(tbl: LakeTable, version_key: str, rewrite, vacuum: bool = True,
                   retain_last: int = 0, vacuum_unchanged: bool = True) -> dict:
    """The one per-table maintenance step of :meth:`EpochIngest.maintain`
    and ``CdcPipeline.maintain``/``maintain_minor``, run under the
    caller's lease: ``rewrite(tbl)`` (the compaction; its version lands
    under ``version_key``), the vacuum (skipped for a table the rewrite
    left unchanged unless ``vacuum_unchanged``), then the manifest-log
    fold (:meth:`LakeTable.compact_meta`), which keeps every later
    operation's log parse bounded however many epochs the table took."""
    v = rewrite(tbl)
    removed = (tbl.vacuum(retain_last=retain_last)
               if vacuum and (vacuum_unchanged or v is not None) else [])
    return {
        version_key: v,
        "data_dirs_removed": len(removed),
        "manifests_folded": tbl.compact_meta()["folded"],
    }


@dataclass
class EpochIngest:
    """Base of every ingest-family member (see the module docstring): a
    member sets ``TAG``/``REGISTRY_DIR`` and implements ``_apply``."""

    spark: SparkSession
    feed_dir: str        # parquet dir of FEED_SCHEMA chunks
    lake_dir: str        # root of every table the member keeps
    checkpoint_dir: str
    max_files_per_trigger: int = 4

    #: batch-id tag: ``"{scope}/{TAG}-e{epoch}"``
    TAG = "dedup"
    #: feed read schema — members with extra feed columns override
    FEED_SCHEMA = INGEST_SCHEMA
    #: subdir of the registry — the table committed LAST each epoch,
    #: whose batch ids are the replay-skip markers
    REGISTRY_DIR = "_seen_hashes"
    #: driver-side probe budget for zone-map pruning: a batch with more
    #: distinct keys than this (possible for the span/band variants,
    #: whose key count is chunks/bands per doc, not docs) skips the
    #: driver collect and falls back to an unpruned registry read — the
    #: pre-pruning shape, still O(batch) shuffle.  At that batch size the
    #: probes blanket the key space anyway, so range pruning could not
    #: skip files.
    MAX_PRUNE_PROBES = 100_000

    def _table(self, subdir: str) -> LakeTable:
        return LakeTable(self.spark, os.path.join(self.lake_dir, subdir))

    @property
    def seen(self) -> LakeTable:
        return self._table(self.REGISTRY_DIR)

    @property
    def accepted_table(self) -> LakeTable:
        return self._table("accepted")

    def _maintained(self) -> dict[str, LakeTable]:
        """maintain() report key -> table."""
        return {"seen": self.seen, "accepted": self.accepted_table}

    def _scope(self) -> str:
        return checkpoint_scope(self.checkpoint_dir)

    def _preprocess(self, batch: DataFrame) -> DataFrame:
        """Per-batch stateless pre-pass hook, applied before the epoch
        body.  Must be deterministic and per-row (no cross-epoch state)
        so crash replay recomputes the identical batch."""
        return batch

    def _apply(self, batch: DataFrame, epoch_id: int, batch_id: str) -> None:
        raise NotImplementedError

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch_id = f"{self._scope()}/{self.TAG}-e{epoch_id}"
        if batch_id in self.seen.committed_batch_ids():
            return  # crash-replayed epoch: already fully applied
        self._apply(self._preprocess(batch), epoch_id, batch_id)

    def run_available_now(self, timeout_s: int = 600) -> None:
        stream = (
            self.spark.readStream.schema(self.FEED_SCHEMA)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.feed_dir)
        )
        drain_available_now(stream, self.apply_batch, self.checkpoint_dir, timeout_s)

    def maintain(self, minor: bool = False) -> dict:
        """Compact + vacuum + fold the manifest log of every table of
        the member (:func:`maintain_table`) under the shared
        nonce-confirmed maintenance lease: a cron'd run racing a manual
        one must not interleave compact and vacuum.  Compaction
        range-clusters each table on its key, giving every file a tight
        min/max footer for the zone-map-pruned probes.

        ``minor=True`` runs the cheap tier instead
        (:meth:`LakeTable.compact_minor`): the registries grow one
        small delta per epoch — exactly the L0 shape — and their keys
        are unique across epochs (content hashes / band keys inserted
        once; ``e<epoch>|``-prefixed partial keys), so the trailing-run
        merge is a plain union that keeps the per-epoch footer-probe
        count flat at O(trailing deltas) cost between full compacts."""
        from yadex_spark.lake.lease import maintenance_lease

        version_key = "minicompacted_version" if minor else "compacted_version"
        rewrite = (lambda t: t.compact_minor()) if minor else (lambda t: t.compact())
        with maintenance_lease(self.lake_dir):
            return {name: maintain_table(tbl, version_key, rewrite, vacuum_unchanged=not minor)
                    for name, tbl in self._maintained().items()}
