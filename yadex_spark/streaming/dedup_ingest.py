"""Streaming dedup-on-ingest: exact dedup of documents AS THEY ARRIVE.

The composition a training-data lake actually runs: the epoch-commit
core (``ingest_core.EpochIngest`` — checkpointed feed, exactly-once
commits, crash replay) around the dedup suite's content hashing.  Each epoch:

1. hash the batch's documents (md5 of text — the exact-dedup key),
2. collapse the batch to its FIRST arrival per hash (min ingest_seq —
   the dedup analogue of the CDC LWW collapse, with first-wins instead
   of last-wins),
3. drop hashes the corpus has already seen — a PRE-FILTERED anti-join
   against the persistent seen-hash registry (the initial-clone
   existing-key anti-join, /root/reference/msync/syncst.go:11-28,
   applied to content hashes), and
4. commit the accepted documents, then the newly-seen hashes — both
   idempotent by scoped batch id, so a crash-replayed epoch cannot
   double-accept.

First-arrival-wins holds across epochs by construction: an epoch only
accepts hashes absent from the seen registry, and epochs apply in feed
order.

Scale shape (10^9+ docs, the part round 3 flagged as O(corpus) per
epoch):

- **The anti-join never shuffles the corpus.**  The batch's candidate
  hashes (bounded by the trigger: maxFilesPerTrigger) are BROADCAST
  into a left-semi join against a narrow scan of the seen registry —
  a map-side hash probe per registry row, no exchange of registry data
  — whose output (``matched``: hashes of this batch that already
  exist, ≤ batch size) is itself broadcast into the final anti-join.
  This is the exact-set form of the Bloom pre-filter the round-3
  docstring promised: same plan role, zero false positives.  Per-epoch
  shuffle cost is O(batch); the registry contributes only a narrow
  single-column scan.
- **The registry read skips LWW.**  Hashes are insert-only (a hash
  commits at most once, enforced by the anti-join + idempotent batch
  ids), so the scan is ``LakeTable.read_keys`` — a column-pruned union
  of the active files with NO per-key aggregate and NO join-back (the
  round-3 path materialized the full LWW chain every epoch).
- **The registry scan is zone-map FILE-PRUNED** (round-3's last
  O(corpus) term, now closed): the batch's probe hashes are checked
  driver-side against each registry file's parquet footer [min, max]
  (``LakeTable.read_keys(probes=...)`` — the Iceberg manifest
  column-bounds skip, no Spark job for the bounds), so after
  ``maintain()`` range-clusters the registry an epoch READS
  O(min(batch, n_files)) registry files, not all of them.  Files with
  unusable stats fall back to being scanned — pruning only skips files
  proven probe-free.  On real Iceberg the same statement becomes
  MERGE ... WHEN NOT MATCHED INSERT with the engine's own
  metadata/Bloom file-skipping — mapped in DEPLOY.md.
- **Accepted output is a LakeTable too** (keyed by content hash, which
  is unique per accepted row), so it compacts/vacuums under the same
  maintenance pass instead of accreting one directory per epoch
  forever, and its per-epoch row count rides the write job as an
  Observation — no separate count() job (round-3 wart).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.common import persisted
from yadex_spark.streaming.ingest_core import EpochIngest, insert_delta

#: accepted() output schema
ACCEPTED_SCHEMA = "doc_id string, text string, ingest_seq long"


@dataclass
class DedupIngest(EpochIngest):
    def _first_arrivals(self, batch: DataFrame) -> DataFrame:
        """Batch-local first arrival per content hash: min ingest_seq —
        a narrow BIGINT agg + join-back, the CDC collapse shape.  The
        8-byte agg buffer keeps the aggregate a codegen'd HashAggregate
        (a min(struct(seq, doc_id)) buffer forced a SortAggregate); the
        join-back returns exactly one row because ingest_seq is the
        feed's unique arrival offset (INGEST_SCHEMA invariant)."""
        hashed = batch.select(
            "ingest_seq", "doc_id", "text", F.md5("text").alias("h")
        )
        winners = hashed.groupBy("h").agg(F.min("ingest_seq").alias("ingest_seq"))
        return winners.join(hashed, ["h", "ingest_seq"]).select(
            "h", "ingest_seq", F.col("doc_id").alias("first_doc_id"), "text"
        )

    def _registry_matched(self, batch_keys: DataFrame, key: str,
                          registry: LakeTable | None = None) -> DataFrame:
        """Registry keys that appear in this batch — the cross-epoch
        dedup probe every ingest-family member runs.  The batch's
        distinct keys (trigger-bounded, so broadcast-sized by
        construction) are collected ONCE driver-side and used twice:

        - to ZONE-MAP-PRUNE the registry scan (``read_keys(probes=...)``
          — parquet footer [min, max] per file, the Iceberg
          manifest-bounds file skip): after ``maintain()``
          range-clusters the registry, an epoch touches
          O(min(batch, n_files)) registry files, not all of them;
        - as a broadcast local relation on the executor side, semi-
          joining the surviving registry rows map-side.

        No registry row is ever shuffled; per-epoch prune counters land
        in ``self.last_prune``.  Batches with more than
        ``MAX_PRUNE_PROBES`` distinct keys skip the driver collect and
        fall back to the executor-side broadcast semi-join over the
        unpruned scan (pruning could not skip files for a batch that
        large anyway)."""
        registry = registry if registry is not None else self.seen
        distinct_keys = batch_keys.distinct()
        sample = distinct_keys.limit(self.MAX_PRUNE_PROBES + 1).collect()
        if len(sample) > self.MAX_PRUNE_PROBES:
            self.last_prune = {"fallback": "probe_budget_exceeded"}
            seen_keys = registry.read_keys("doc_id").select(
                F.col("doc_id").alias(key)
            )
            return seen_keys.join(F.broadcast(distinct_keys), key, "left_semi")
        probes = sorted(r[0] for r in sample)
        stats: dict = {}
        seen_keys = registry.read_keys(
            "doc_id", probes=probes, prune_stats=stats
        ).select(F.col("doc_id").alias(key))
        self.last_prune = stats
        probe_df = self.spark.createDataFrame(
            [(p,) for p in probes], f"{key} string"
        )
        return seen_keys.join(F.broadcast(probe_df), key, "left_semi")

    def _not_seen(self, first: DataFrame, registry: LakeTable) -> DataFrame:
        """Cross-epoch dedup with the broadcast-semi pre-filter: rows of
        ``first`` whose hash the registry has never recorded.  The
        registry side is a narrow insert-only, zone-map-pruned scan
        (``_registry_matched``); its output (``matched``: hashes of
        this batch that already exist, ≤ batch size) is broadcast into
        the final anti-join.  No registry row is ever shuffled."""
        matched = self._registry_matched(first.select(F.col("h")), "h", registry)
        return first.join(F.broadcast(matched), "h", "left_anti")

    def _apply(self, batch: DataFrame, epoch_id: int, batch_id: str) -> None:
        # persist the batch-local winners: the subtree feeds three plan
        # branches (batch-keys broadcast under each registry-file semi
        # join + the anti-join probe side) — cached, the feed files are
        # hashed and collapsed exactly once per epoch
        with (persisted(self._first_arrivals(batch)) as first,
              persisted(self._not_seen(first, self.seen)) as accepted):
            # 1) accepted docs — LakeTable delta keyed by the CONTENT
            #    HASH (unique per accepted row; the original doc_id may
            #    legitimately repeat across arrivals with edited text).
            #    Row count rides the write as an Observation inside
            #    commit_delta; a 0-row (all-duplicate) epoch commits
            #    nothing.  Committed FIRST: on a crash between the two
            #    commits, replay recomputes the identical accepted set
            #    (the registry still lacks these hashes), no-ops here by
            #    batch id, then commits the registry delta.
            acc_delta = insert_delta(
                accepted, "h", "ingest_seq",
                F.col("first_doc_id").alias("accepted_doc_id"), "text", "ingest_seq",
            )
            self.accepted_table.commit_delta(acc_delta, batch_id=batch_id)
            # 2) newly-seen hashes (hash is the registry key; canonical
            #    doc and arrival seq are the payload).  Committed LAST:
            #    the epoch's fully-applied marker.
            seen_delta = insert_delta(
                accepted, "h", "ingest_seq",
                F.col("first_doc_id").alias("canonical_doc_id"),
                F.col("ingest_seq").alias("first_seen_seq"),
            )
            self.seen.commit_delta(seen_delta, batch_id=batch_id)

    def accepted(self) -> DataFrame:
        """All accepted (first-arrival) documents so far.  Insert-only
        fast-path read (no LWW shuffle); typed-empty before any epoch
        has accepted anything."""
        tbl = self.accepted_table
        if not tbl.snapshots():
            return self.spark.createDataFrame([], ACCEPTED_SCHEMA)
        return tbl.read_keys("accepted_doc_id", "text", "ingest_seq").select(
            F.col("accepted_doc_id").alias("doc_id"), "text", "ingest_seq"
        )
