"""LakeTable — a from-scratch versioned upsert table (Iceberg-semantics sink).

No Iceberg/Delta jars ship in this environment, so the sink the
north_rule asks for (exactly-once MERGE upserts, schema evolution,
snapshot isolation, resumable commits) is implemented from scratch on
parquet + JSON manifests.  The design deliberately mirrors Iceberg's
**merge-on-read** (MOR) v2 tables so the engine drops onto real Iceberg
unchanged in semantics (swap ``commit_delta`` for ``MERGE INTO`` — the
plan shape is identical):

Layout::

    <dir>/_meta/v00000001.json              one manifest per snapshot version
    <dir>/data/s<ms>-<pid>-<tid>/*.parquet  data files of one snapshot (a
                                            writer-unique name; the manifest
                                            names its dir, nothing parses it)

- **append**   snapshot-load rows (initial clone, SURVEY.md I2)
- **delta**    one collapsed CDC micro-batch: upserts + delete
               tombstones, each row carrying ``_seq`` (terminal op_seq)
               and ``_deleted``; O(batch) write cost — never rewrites
               the table (this is what keeps 10^10-event ingest linear)
- **truncate** collection-drop barrier (/root/reference/msync/input.go:113-123)
- **compact**  materializes current state into fresh base files;
               bounds read amplification (like Iceberg compaction)

Reads reconstruct current state the narrow way: (_seq, chain-rank)
packs into one BIGINT ``_ord``, a codegen'd HashAggregate takes the
per-key max, and a join-back fetches the winning payload — map-side
partial aggregation keeps hot keys cheap (same argument as the collapse
operator), and no payload byte rides through an aggregation buffer.
Snapshot isolation: ``read(version=...)`` sees exactly the files of
that snapshot chain.

Exactly-once: every commit records its ``batch_id``; committing an
already-seen batch_id is a no-op (returns the existing version), so a
replayed ``foreachBatch`` epoch after a crash cannot double-apply —
this is the fix for the reference's leaky bookmark-advance-on-error
(/root/reference/msync/bulkwrite.go:96-110, SURVEY.md §2.1).  Manifest
files are created with O_EXCL + atomic rename, so two racing writers
cannot both claim a version (optimistic concurrency, as Iceberg).

Schema evolution: each manifest records its schema; reads use parquet
``mergeSchema`` so a column added mid-stream (FIXTURES.md §4) appears
with nulls for older rows — the analogue of BSON shape tolerance.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

META = "_meta"
DATA = "data"

#: hidden columns carried by every stored row
SEQ_COL = "_seq"       # op_seq of the terminal event (-1 for snapshot loads)
DELETED_COL = "_deleted"
VERSION_COL = "_v"     # injected at read time, tiebreak across snapshots


@dataclass(frozen=True)
class Snapshot:
    version: int
    action: str  # append | delta | truncate | compact
    batch_id: str | None
    schema_ddl: str
    n_rows: int
    files_dir: str | None
    committed_at: float
    #: truncate barriers are SEQ-scoped, not version-scoped: a 'truncate'
    #: kills rows with _seq < trunc_seq regardless of which snapshot they
    #: arrived in.  This keeps the drop barrier correct even when the feed
    #: delivers files out of order across micro-batches (LWW makes every
    #: other op order-free; this makes the barrier order-free too).
    trunc_seq: int | None = None
    #: minor compaction (action='minicompact'): the delta versions this
    #: snapshot's files REPLACE.  Subsumed snapshots drop out of the
    #: active chain (their manifests stay — batch-id idempotence must
    #: survive their files being vacuumed).  Absent on older manifests.
    subsumes: list | None = None
    #: per-file doc_id bounds, {file relpath: [min, max] | [] for empty},
    #: captured from the freshly-written footers at commit time — the
    #: Iceberg manifest file-stats shape.  Probe reads prune from THIS
    #: dict with zero data-file footer opens (on object storage a point
    #: lookup otherwise pays O(files) GETs just to plan); a file absent
    #: from the dict (unprovable stats, or a pre-stats manifest where
    #: the whole field is None) conservatively falls back to its footer.
    file_stats: dict | None = None
    #: per-file bounds for the CLUSTER columns of a z-ordered compact
    #: ({col: {file relpath: [min, max] | [] | None}}), captured like
    #: :attr:`file_stats` — the Iceberg sort-order column-stats shape.
    #: :meth:`LakeTable.read_where` plans file skips on range predicates
    #: from these with zero footer opens; absent columns/files are
    #: conservatively read.
    col_stats: dict | None = None


class LakeTable:
    """One logical upsert table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, META), exist_ok=True)
        os.makedirs(os.path.join(path, DATA), exist_ok=True)

    # ---------- manifest plumbing ----------

    def snapshots(self) -> list[Snapshot]:
        """All committed snapshots in version order (:func:`_parse_log`)
        — the one reader of the manifest log: each lake operation parses
        it once and hands the list down."""
        return _parse_log(os.path.join(self.path, META))

    def compact_meta(self, keep_recent: int = 64) -> dict:
        """Fold per-version manifest files into ONE checkpoint JSON (the
        Iceberg metadata.json / snapshot-log shape).  Every lake
        operation parses the log once (:meth:`snapshots`; a commit's
        claim once per attempt), and without a checkpoint that parse
        opens every manifest file: O(versions) file opens per
        operation, quadratic over a 10^5-epoch ingest.  After the fold
        it is one checkpoint read plus a bounded tail.

        ``keep_recent`` newest versions keep their per-version files
        (bounds the rewrite cadence; any value is crash-safe).  The
        checkpoint is written with the same O_EXCL discipline as
        manifests; folded files are deleted AFTER it exists, and a crash
        between the two leaves duplicates that :meth:`snapshots`
        resolves by version.  A concurrent writer is unaffected: it
        claims version max+1, and the fold never touches versions it
        did not read.  Run under the maintenance lease."""
        keep_recent = max(0, keep_recent)
        meta_dir = os.path.join(self.path, META)
        snaps = self.snapshots()
        if not snaps:
            return {"folded": 0, "checkpoint": None}
        cut = snaps[-1].version - keep_recent
        old_ckpts = [n for n in os.listdir(meta_dir)
                     if n.startswith("checkpoint-v") and n.endswith(".json")]
        to_fold = [n for n in os.listdir(meta_dir)
                   if n.startswith("v") and n.endswith(".json")
                   and int(n[1:-5]) <= cut]
        if not to_fold and len(old_ckpts) <= 1:
            return {"folded": 0, "checkpoint": old_ckpts[0] if old_ckpts else None}
        folded = [s.__dict__ for s in snaps if s.version <= cut]
        if not folded:
            return {"folded": 0, "checkpoint": old_ckpts[0] if old_ckpts else None}
        name = f"checkpoint-v{folded[-1]['version']:08d}.json"
        # a lost link means the same-version checkpoint exists (identical)
        _publish_json(os.path.join(meta_dir, name),
                      {"version": folded[-1]["version"], "manifests": folded})
        removed = 0
        for n in to_fold:
            try:
                os.unlink(os.path.join(meta_dir, n))
                removed += 1
            except OSError:
                pass
        for n in old_ckpts:
            if n != name:
                try:
                    os.unlink(os.path.join(meta_dir, n))
                except OSError:
                    pass
        return {"folded": removed, "checkpoint": name}

    def latest_version(self) -> int:
        snaps = self.snapshots()
        return snaps[-1].version if snaps else 0

    def committed_batch_ids(self) -> set[str]:
        return {s.batch_id for s in self.snapshots() if s.batch_id is not None}

    def _commit_manifest(self, action: str, batch_id: str | None,
                         schema_ddl: str, n_rows: int, files_dir: str | None,
                         trunc_seq: int | None = None,
                         subsumes: list | None = None,
                         stats_cols: list | None = None) -> int | None:
        """Atomically claim the next version (O_EXCL + rename), or return
        None when ``batch_id`` is already committed.  Both answers come
        from ONE :meth:`snapshots` parse per attempt, so a writer that
        loses the O_EXCL race re-checks the batch id before it retries:
        two writers replaying one epoch commit it exactly once."""
        meta_dir = os.path.join(self.path, META)
        # per-file doc_id bounds captured ONCE here, while the freshly
        # written footers are local and hot — every later probe read
        # then plans from the manifest alone (Iceberg file-stats shape).
        # ``stats_cols`` (a clustered compact's z-order columns) get the
        # same treatment into ``col_stats`` for read_where's range skip.
        file_stats = None
        col_stats = None
        if files_dir is not None:
            full = os.path.join(self.path, files_dir)
            file_stats = _collect_file_stats(full)
            if stats_cols:
                col_stats = {
                    c: st for c in stats_cols if c != "doc_id"
                    and (st := _collect_file_stats(full, key=c)) is not None
                } or None
        while True:
            snaps = self.snapshots()
            if batch_id is not None and any(x.batch_id == batch_id for x in snaps):
                return None
            version = (snaps[-1].version if snaps else 0) + 1
            manifest = dict(
                version=version, action=action, batch_id=batch_id,
                schema_ddl=schema_ddl, n_rows=n_rows, files_dir=files_dir,
                committed_at=time.time(), trunc_seq=trunc_seq,
                subsumes=subsumes, file_stats=file_stats,
                col_stats=col_stats,
            )
            if _publish_json(os.path.join(meta_dir, f"v{version:08d}.json"), manifest):
                return version
            # another writer claimed the version (optimistic concurrency):
            # re-parse, re-check the batch id, retry with the next version

    def _write_and_claim(self, df: DataFrame, action: str,
                         batch_id: str | None = None, n_rows: int | None = None,
                         ddl: str | None = None, commit_empty: bool = True,
                         **claim) -> int | None:
        """The one write-then-claim path of every files-bearing commit:
        write ``df`` into a fresh data dir, then claim the next version
        over it (:meth:`_commit_manifest`, with ``claim`` = its
        ``trunc_seq``/``subsumes``/``stats_cols``).  ``ddl`` defaults to
        ``df``'s schema without the hidden columns.  The row count is
        ``n_rows`` when the caller knows it, else captured DURING the
        write (an Observation piggybacks on the job — no read-back scan).

        Returns the claimed version, or None — and removes the dir —
        when the write was empty and ``commit_empty`` is False, or when
        a racing writer committed ``batch_id`` first.  The dir name is
        writer-unique (ms/pid/thread): two threads committing in the
        same millisecond would otherwise write into ONE directory and
        abort each other's job (found by the m27 concurrency stress);
        the manifest, not the dir name, assigns the version."""
        rel = os.path.join(
            DATA, f"s{int(time.time() * 1000)}-{os.getpid()}-{threading.get_ident()}"
        )
        full = os.path.join(self.path, rel)
        if n_rows is None:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.mode("overwrite").parquet(full)
        n = n_rows if n_rows is not None else int(obs.get["n"])
        if ddl is None:
            ddl = _ddl(df.drop(SEQ_COL, DELETED_COL))
        v = (self._commit_manifest(action, batch_id, ddl, n, rel, **claim)
             if n or commit_empty else None)
        if v is None:
            shutil.rmtree(full, ignore_errors=True)
        return v

    # ---------- write paths ----------

    def commit_append(self, df: DataFrame, batch_id: str | None = None,
                      as_of_seq: int = -1) -> int | None:
        """Snapshot load (initial clone).  ``as_of_seq`` is the handoff
        offset the snapshot reflects: clone rows win LWW against replayed
        events at or below it and survive truncate barriers below it
        (post-drop re-clones).  Default -1 = clone precedes all events."""
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return None
        stored = df.withColumn(SEQ_COL, F.lit(as_of_seq).cast("long")).withColumn(
            DELETED_COL, F.lit(False)
        )
        return self._write_and_claim(stored, "append", batch_id, ddl=_ddl(df))

    def commit_delta(self, collapsed: DataFrame, batch_id: str, n_rows: int | None = None) -> int | None:
        """Apply one collapsed micro-batch (the MERGE INTO equivalent).

        ``collapsed`` must have ≤1 row per doc_id with columns
        (doc_id, op, op_seq, <payload...>).  op=='delete' rows become
        tombstones.  Idempotent by batch_id.
        """
        if batch_id in self.committed_batch_ids():
            return None
        # an empty delta is a no-op: committing it would chain an empty
        # parquet snapshot (no readable schema) and burn a version;
        # replaying the epoch later is naturally idempotent
        return self._write_and_claim(prepare_delta(collapsed), "delta", batch_id,
                                     n_rows, commit_empty=False)

    def commit_delta_dir(self, files_dir: str, batch_id: str,
                         n_rows: int, schema_ddl: str) -> int | None:
        """Commit a manifest over delta files already written elsewhere —
        the pipeline's one-job-per-epoch staging write (partitionBy(table)
        into <lake>/_staging) commits each table's subdir this way, so T
        tables cost ONE Spark job, not T.  ``files_dir`` may be absolute;
        reads ``os.path.join`` it against the table root, which returns
        absolute paths unchanged.  Idempotent by batch_id.

        An empty delta (``n_rows == 0``) commits nothing and returns None
        without burning a version: its files dir may not even exist
        (a partitioned write emits no subdir for an empty partition),
        and a manifest over it would chain an unreadable snapshot.  The
        files stay when the batch id is already committed: they belong
        to the caller's staging layout, whose maintenance collects them
        (``CdcPipeline.vacuum_staging``)."""
        if n_rows == 0:
            return None
        return self._commit_manifest("delta", batch_id, schema_ddl, n_rows, files_dir)

    def commit_truncate(self, batch_id: str | None = None,
                        trunc_seq: int | None = None) -> int | None:
        """Collection-drop barrier.  With ``trunc_seq``: kills rows with
        _seq < trunc_seq in ANY snapshot (order-free — correct even when
        the feed delivers files out of order across epochs).  Without:
        version-scoped full wipe (kills snapshots committed before it)."""
        return self._commit_manifest("truncate", batch_id, "", 0, None, trunc_seq=trunc_seq)

    #: target output file size for compaction (Iceberg's
    #: write.target-file-size-bytes; 128 MB of compressed parquet — the
    #: HDFS-block-sized sweet spot between scan parallelism and
    #: per-file overhead)
    TARGET_FILE_BYTES = 128 << 20

    def _chain_bytes(self, snaps: list[Snapshot]) -> int:
        """Total on-disk bytes of the chains' parquet files — driver-side
        stat only (the same footer-adjacent metadata reads the zone-map
        prune does)."""
        total = 0
        for s in snaps:
            files = _parquet_files(os.path.join(self.path, s.files_dir))
            for f in files or []:
                try:
                    total += os.path.getsize(f)
                except OSError:
                    pass
        return total

    def _sized_buckets(self, floor_buckets: int, snaps: list[Snapshot],
                       target_file_bytes: int | None) -> int:
        """Output file count: at least ``floor_buckets`` (the small-table
        behavior: scan parallelism even when bytes are tiny), growing
        with data volume so no output file exceeds ~target size — a
        fixed shuffle-partition count alone would write multi-GB files
        at 100 TB.  Input compressed bytes stand in for output bytes
        (same format; dedup only shrinks them)."""
        target = target_file_bytes or self.TARGET_FILE_BYTES
        by_bytes = (self._chain_bytes(snaps) + target - 1) // target
        return max(floor_buckets, by_bytes, 1)

    def _cluster(self, df: DataFrame, n_buckets: int,
                 cluster_by: list[str] | None = None,
                 zorder_bits: int = 4) -> DataFrame:
        """The one layout of every rewrite (compact, compact_minor,
        purge_keys, restore): ``n_buckets`` range-clustered files sorted
        on doc_id, or, with ``cluster_by``, z-ordered on those columns
        (see :meth:`compact`)."""
        if not cluster_by:
            return df.repartitionByRange(n_buckets, "doc_id").sortWithinPartitions("doc_id")
        from yadex_spark.lake.zorder import zorder_expr

        # stage barrier: column_cuts runs one driver-side job per cluster
        # column (approxQuantile / capped distinct) and the write is a
        # third consumer — without it each re-runs the full LWW
        # materialize of the chain
        df = df.localCheckpoint(eager=False)
        z = zorder_expr(df, list(cluster_by), bits=zorder_bits)
        return (
            df.withColumn("_zorder", z)
            .repartitionByRange(n_buckets, "_zorder")
            .sortWithinPartitions("_zorder", "doc_id")
            .drop("_zorder")
        )

    def compact(self, keep_tombstones: bool = True,
                min_live_seq: int | None = None,
                n_buckets: int | None = None,
                target_file_bytes: int | None = None,
                cluster_by: list[str] | None = None,
                zorder_bits: int = 4) -> int | None:
        """Rewrite current state as a fresh base (bounds read amplification).

        Tombstones are RETAINED by default: the table is order-free
        under out-of-order epoch arrival everywhere else, and dropping a
        tombstone lets a late pre-tombstone upsert (lower _seq committed
        after compaction) resurrect a deleted key.  Pass ``min_live_seq``
        (the feed's replay low-watermark — no event below it can ever
        arrive again, cf. bookmarks.feed_min_offset) to garbage-collect
        tombstones with _seq < min_live_seq; ``keep_tombstones=False``
        drops them all (only safe under provably in-order delivery).

        The base is range-clustered on doc_id (``n_buckets`` output
        files, default max(spark.sql.shuffle.partitions, input bytes /
        ``target_file_bytes``) — small tables keep scan parallelism,
        big tables keep ~target-sized files): every file then
        carries a tight doc_id min/max in its parquet footer, so point
        lookups and downstream merge joins prune files.  (Hash bucketing
        would need metastore bucket metadata to elide any shuffle, which
        a from-scratch manifest table doesn't have — range clustering is
        the layout that actually pays off file-skipping.)

        ``cluster_by`` (opt-in): Z-ORDER the base on these columns
        instead (Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order
        analogue, ``lake/zorder.py``) — the multi-column analytics
        layout: every participating column keeps tight per-file footer
        bounds SIMULTANEOUSLY, so ordinary pushed filters on any of
        them skip files/row-groups with zero reader support.  Same
        single shuffle as the doc_id layout.  Trade-off: doc_id footer
        spans go broad, so point-lookup FILE pruning degrades
        (row-group stats still apply) — keep the default for serving
        tables, z-order for scan-heavy ones.
        """
        snaps, kill_seq = self._active_chain()
        if not snaps:
            return None
        cur = self._materialize(snaps, keep_deleted=keep_tombstones, kill_seq=kill_seq)
        if keep_tombstones and min_live_seq is not None:
            cur = cur.where(~F.col(DELETED_COL) | (F.col(SEQ_COL) >= min_live_seq))
        if n_buckets is None:
            n_buckets = self._sized_buckets(
                int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                snaps, target_file_bytes,
            )
        return self._write_and_claim(
            self._cluster(cur, n_buckets, cluster_by, zorder_bits), "compact",
            trunc_seq=kill_seq, stats_cols=list(cluster_by) if cluster_by else None,
        )

    def compact_minor(self, min_deltas: int = 2,
                      n_buckets: int | None = None,
                      merge_fanin: int = 4,
                      cluster_by: list[str] | None = None,
                      zorder_bits: int = 4) -> int | None:
        """Minor compaction (the LSM L0→L1 merge; Iceberg's binPack
        ``rewrite_data_files``): fold the TRAILING run of delta
        snapshots into one range-clustered snapshot at O(those deltas)
        cost — never O(table), which is :meth:`compact`'s price.

        Under sustained ingest the active chain grows by one small delta
        per epoch, so read amplification (files unioned per read, and
        the per-file footer probes of :meth:`read_keys`) grows linearly
        between full compactions.  This bounds it cheaply: per-key
        last-writer-wins WITHIN the merged run (winner by the same
        packed ``_seq``/rank ordinal as :meth:`_materialize`), output
        range-clustered + sorted on doc_id so footer zone maps stay
        tight for point lookups and merge pruning.

        Correctness constraints, and why they hold:

        - **Only the trailing run** of ``delta``/``minicompact``
          snapshots is merged (nothing files-bearing commits after it in
          the chain).  The merged snapshot's chain rank therefore only
          ever MOVES FORWARD relative to older appends — and since the
          read ordinal is ``_seq << 20 | rank`` with ``_seq`` dominant,
          a rank increase can only confirm outcomes already decided by
          ``_seq`` or by "delta committed after the append", never flip
          one.  Deltas mid-chain (before a clone append) are left alone.
        - **Tombstones survive** and no drop-barrier filter is applied:
          barrier manifests stay in the log (seq-scoped, position-free),
          so late out-of-order epochs still cannot resurrect dead rows.
        - **Exactly-once survives vacuum**: subsumed manifests remain on
          disk (only their files become unreachable), so a replayed
          epoch's batch_id still hits :meth:`committed_batch_ids`.
        - Two racing minor compactions (no lease) are LWW-safe — both
          outputs stay active with identical per-key winners and the
          next run subsumes them both — just wasteful; run it under the
          pipeline maintenance lease like :meth:`compact`.

        ``n_buckets`` (output file count) defaults to a ``merge_fanin``:1
        reduction of the input file count, capped at
        ``spark.sql.shuffle.partitions``.  Returns the new version, or
        None when fewer than ``min_deltas`` trailing deltas exist."""
        snaps, _kill = self._active_chain()
        run: list[Snapshot] = []
        for s in reversed(snaps):
            if s.action in ("delta", "minicompact"):
                run.append(s)
            else:
                break
        run.reverse()
        if len(run) < min_deltas:
            return None
        n_files_in = 0
        for s in run:
            files = _parquet_files(os.path.join(self.path, s.files_dir))
            n_files_in += len(files) if files is not None else 1
        if n_buckets is None:
            cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            fanin = max(1, min(cap, (n_files_in + merge_fanin - 1) // merge_fanin))
            # byte floor: a big merge must not produce over-target files
            # just because its INPUT file count was small
            n_buckets = self._sized_buckets(fanin, run, None)
        # z-ordered L1 (Delta auto-compaction under OPTIMIZE ZORDER): a
        # scan-optimized table's trailing deltas fold into a merge that
        # KEEPS the layout and commits col_stats, so read_where file-skips
        # stay tight between full compactions instead of degrading one
        # doc_id-clustered merge at a time
        merged = self._cluster(self._materialize(run, keep_deleted=True),
                               n_buckets, cluster_by, zorder_bits)
        return self._write_and_claim(
            merged, "minicompact", subsumes=[s.version for s in run],
            stats_cols=list(cluster_by) if cluster_by else None,
        )

    def purge_keys(self, keys: list, n_buckets: int | None = None) -> int | None:
        """Hard-erase keys from the table INCLUDING their tombstones and
        all reachable history (the GDPR right-to-be-forgotten job;
        Iceberg/Delta do this with DELETE + VACUUM).  Implemented as a
        compaction that excludes the keys from the rewritten base,
        followed by :meth:`vacuum` — after it returns, no reachable
        data file contains the keys.  Time travel to pre-purge versions
        stops working (their files are gone), exactly like Iceberg
        snapshot expiry; that is the point of an erase.

        Like any compaction this is an O(table) out-of-band rewrite; a
        file-level manifest (real Iceberg) would rewrite only the files
        whose footer bounds contain a key — the same pruning
        :meth:`read_keys` already implements for reads.

        A future feed event for a purged key legitimately recreates it
        (new data, not resurrection): the purge commits with the
        current max _seq as its barrier-free compact, and replayed
        PRE-purge epochs are no-ops via batch-id idempotence."""
        if not keys:
            return None
        snaps, kill_seq = self._active_chain()
        if not snaps:
            return None
        cur = self._materialize(snaps, keep_deleted=True, kill_seq=kill_seq)
        # broadcast literal for a purge-request-sized list; callers with
        # huge erase sets should loop in batches (each pass is a full
        # rewrite anyway, so batching does not change the asymptotics)
        cur = cur.where(~F.col("doc_id").isin(list(keys)))
        n_buckets = n_buckets or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        cur = self._cluster(cur, n_buckets)
        v = self._write_and_claim(cur, "compact", trunc_seq=kill_seq, commit_empty=False)
        if v is None:
            # purge emptied the table: an empty parquet dir has no
            # readable schema, so commit a full wipe instead
            v = self._commit_manifest("truncate", None, _ddl(cur.drop(SEQ_COL, DELETED_COL)), 0, None)
        self.vacuum()
        return v

    def vacuum(self, retain_last: int = 0, dry_run: bool = False) -> list[str]:
        """Delete data directories that some manifest references but the
        CURRENT active chain no longer reaches (Iceberg's
        expire-snapshots).  Orphan dirs that no manifest references (a
        writer died between its data write and its claim) are not
        removed here: :meth:`fsck` reports them and ``fsck(repair=True)``
        deletes them.  Returns the removed dirs.  ``dry_run=True``
        returns exactly what a real run would remove without deleting
        anything (the Delta ``VACUUM ... DRY RUN`` preview — the sane
        first step before any destructive retention change).

        ``retain_last`` is the snapshot-retention window (Iceberg's
        ``expire_snapshots(retain_last=N)``): keep every file reachable
        from the last N versions IN ADDITION to the current state, so
        time travel — and the change feed's value-diff fallback, and a
        logical replica lagging within the window — keeps working for
        those versions across compactions.  Versions older than the
        window lose their files (manifests remain as history); the
        default 0 retains only the current state (the keep-set is
        :meth:`_retained_dirs`).  Cost: one manifest parse, driver-side
        only — no file reads.

        Safe against the shared staging layout: a delta committed via
        ``commit_delta_dir`` points at its own ``table=<t>`` subdir, so
        vacuuming one table never touches a sibling table's staging
        data."""
        snaps = self.snapshots()
        keep = self._retained_dirs(snaps, retain_last)
        removed = []
        for s in snaps:
            if s.files_dir and s.files_dir not in keep:
                full = os.path.join(self.path, s.files_dir)
                if os.path.isdir(full):
                    if not dry_run:
                        shutil.rmtree(full)
                    removed.append(s.files_dir)
        return removed

    def _retained_dirs(self, snaps: list[Snapshot], retain_last: int) -> set[str]:
        """The one retention rule, for :meth:`vacuum` and the pipeline's
        staging GC (``CdcPipeline.vacuum_staging``): the ``files_dir`` of
        every snapshot in the active chains of the last ``retain_last``
        versions plus the latest, and of every tagged version — named
        refs pin their versions forever, so a tagged training-run
        snapshot re-reads byte-identical regardless of the rolling
        window.  Two drifting copies of this rule once deleted retained
        time-travel data."""
        latest = snaps[-1].version if snaps else 0
        keep_versions = set(range(max(1, latest - retain_last), latest + 1))
        keep_versions.update(self.tags().values())
        return {s.files_dir for v in keep_versions
                for s in self._active_chain(v, snaps)[0]}

    def history(self) -> DataFrame:
        """The manifest log as a DataFrame (Delta ``DESCRIBE HISTORY`` /
        Iceberg ``snapshots`` metadata table): one row per committed
        version — action, batch_id, rows, commit time, subsumed
        versions, and the tags pointing at it.  Driver-side metadata
        only (no data-file IO); the frame is model-sized by
        construction (one row per version, bounded by compact_meta)."""
        tag_of: dict[int, list[str]] = {}
        for name, v in self.tags().items():
            tag_of.setdefault(v, []).append(name)
        rows = [
            (
                s.version, s.action, s.batch_id, s.n_rows,
                float(s.committed_at), s.trunc_seq,
                sorted(s.subsumes) if s.subsumes else [],
                sorted(tag_of.get(s.version, [])),
                s.files_dir is not None,
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, action string, batch_id string, n_rows long, "
            "committed_at double, trunc_seq long, subsumes array<int>, "
            "tags array<string>, has_files boolean",
        )

    def restore(self, version: int | None = None,
                tag: str | None = None,
                n_buckets: int | None = None) -> int:
        """Roll the table back to an earlier version (Delta ``RESTORE
        TABLE ... VERSION AS OF`` / Iceberg rollback) — as a NEW commit,
        never by rewriting history: the as-of state (tombstones AND the
        version's drop barrier included) is materialized into a fresh
        compact snapshot, so post-restore reads equal the time-travel
        read of that version while every later version remains in the
        log (auditable, still time-travelable until vacuum).

        Exactly-once composes correctly: epochs committed between the
        restored version and now keep their batch_ids, so a crash-replay
        of them after the restore is a no-op — the rollback sticks
        (Delta documents the same rule).  Future feed events apply
        normally on top; their op_seq exceeds the restored rows' _seq,
        so LWW proceeds as if the rolled-back epochs never happened."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self._resolve_ref(tag)
        if version is None:
            raise ValueError("restore needs a version or tag")
        snaps, kill_seq = self._active_chain(version)
        if not snaps:
            raise ValueError(f"version {version} has no restorable state")
        gone = self._vacuumed(snaps)
        if gone:
            raise ValueError(
                f"version {version} is not restorable: v{gone[0].version} "
                "files were vacuumed (tag versions you may roll back to)"
            )
        cur = self._materialize(snaps, keep_deleted=True, kill_seq=kill_seq)
        if n_buckets is None:
            n_buckets = self._sized_buckets(
                int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                snaps, None,
            )
        return self._write_and_claim(self._cluster(cur, n_buckets), "compact",
                                     trunc_seq=kill_seq)

    # ---------- named refs (tags) ----------

    _TAG_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")
    _REFS = os.path.join(META, "refs")

    def tag(self, name: str, version: int | None = None) -> int:
        """Create an immutable named ref to a snapshot version (the
        Iceberg tag / Delta named-version shape): ``read(tag=name)``
        resolves it forever, and :meth:`vacuum` retains every file the
        tagged version's chain references — a training run tagged
        ``run-2026-08-19`` re-reads byte-identical input months of
        compactions later.  Reproducible-dataset pinning is the one
        retention rule ``retain_last=N`` can't express: N grows
        unboundedly while a tag holds exactly what it needs.

        Creation is O_EXCL-atomic (two racing taggers of one name: one
        wins, one gets ValueError) and validated: the version must
        exist and its chain's files must still be on disk — you cannot
        tag a version vacuum already gutted.  Driver-side metadata
        only; no Spark job."""
        if not self._TAG_RE.match(name):
            raise ValueError(f"invalid tag name: {name!r}")
        snaps = self.snapshots()
        if not snaps:
            raise ValueError("cannot tag an empty table")
        if version is None:
            version = snaps[-1].version
        if version not in {s.version for s in snaps}:
            raise ValueError(f"unknown version {version}")
        gone = self._vacuumed(self._active_chain(version, snaps)[0])
        if gone:
            raise ValueError(
                f"version {version} is not taggable: its files "
                f"(v{gone[0].version}) were already vacuumed"
            )
        refs = os.path.join(self.path, self._REFS)
        os.makedirs(refs, exist_ok=True)
        if not _publish_json(os.path.join(refs, f"{name}.json"),
                             {"name": name, "version": version,
                              "created_at": time.time()}):
            raise ValueError(f"tag already exists: {name}")
        return version

    def tags(self) -> dict[str, int]:
        """{tag name: version} for every named ref."""
        refs = os.path.join(self.path, self._REFS)
        out = {}
        if os.path.isdir(refs):
            for n in sorted(os.listdir(refs)):
                if n.endswith(".json") and not n.startswith("."):
                    with open(os.path.join(refs, n)) as f:
                        m = json.load(f)
                    out[m["name"]] = m["version"]
        return out

    def drop_tag(self, name: str) -> bool:
        """Remove a named ref (its files become vacuum-eligible on the
        next :meth:`vacuum` unless otherwise retained).  Returns whether
        the tag existed."""
        try:
            os.unlink(os.path.join(self.path, self._REFS, f"{name}.json"))
            return True
        except FileNotFoundError:
            return False

    def _resolve_ref(self, tag: str) -> int:
        v = self.tags().get(tag)
        if v is None:
            raise ValueError(f"unknown tag: {tag}")
        return v

    def fsck(self, verify_rows: bool = True, repair: bool = False) -> dict:
        """Manifest/data integrity audit (Iceberg table-verify + Delta
        ``FSCK REPAIR TABLE`` analogue).  Driver-side metadata and
        parquet-footer reads only — never a Spark job, so it is safe to
        run on a cron against a 100 TB table.

        Checks:
        - every manifest parses and the version chain is contiguous
          from v1 (a gap means a deleted or never-linked manifest);
        - every ACTIVE-chain snapshot's ``files_dir`` exists and
          (``verify_rows``) its parquet footer row counts sum to the
          manifest's ``n_rows`` (history versions may legitimately have
          been vacuumed — only the active chain must be readable);
        - orphan data dirs (a writer crashed between the data write
          and ``_commit_manifest``: written, claimed by no manifest)
          and stale ``.tmp-*`` manifest files from crashed commits.

        An unreadable manifest or checkpoint is reported, not raised:
        the other checks run over the manifests that could be read.

        ``repair=True`` deletes orphans and stale tmp files — never a
        dir ANY manifest references (removing unreachable history is
        :meth:`vacuum`'s decision; fsck touches only what no version
        owns), and no orphan while some manifest is unreadable (it may
        be that manifest's data).  Returns ``{"errors", "orphans",
        "tmp_manifests", "repaired"}`` — all empty = healthy."""
        import pyarrow.parquet as pq

        meta_dir = os.path.join(self.path, META)
        report: dict = {
            "errors": [], "orphans": [], "repaired": [],
            "tmp_manifests": sorted(n for n in os.listdir(meta_dir)
                                    if n.startswith(".tmp-")),
        }
        # the one lenient parse: unreadable manifests land in the report
        # and every check below runs over the ones that could be read
        snaps = _parse_log(meta_dir, report["errors"])
        log_readable = not report["errors"]
        versions = [s.version for s in snaps]
        if versions and versions != list(range(1, versions[-1] + 1)):
            missing = sorted(set(range(1, versions[-1] + 1)) - set(versions))
            report["errors"].append(f"version chain gap: missing {missing}")
        # minicompact subsumption integrity: every subsumed version must
        # name an existing manifest strictly below the merge (a dangling
        # or forward reference means a hand-edited or corrupt manifest —
        # the active chain would silently mis-resolve)
        vset = set(versions)
        for s in snaps:
            for sv in (s.subsumes or []):
                if sv >= s.version:
                    report["errors"].append(
                        f"v{s.version}: subsumes forward/self version {sv}"
                    )
                elif sv not in vset:
                    report["errors"].append(
                        f"v{s.version}: subsumes missing version {sv}"
                    )
        # named refs: a tag must point at an existing version and its
        # chain's files must still exist (vacuum retains tagged chains,
        # so a gutted tag means hand-deletion or a pre-tag-aware vacuum)
        for tname, tv in self.tags().items():
            if tv not in vset:
                report["errors"].append(f"tag {tname}: unknown version {tv}")
                continue
            for s in self._vacuumed(self._active_chain(tv, snaps)[0]):
                report["errors"].append(
                    f"tag {tname}: v{s.version} files missing ({s.files_dir})"
                )
        referenced = {
            os.path.normpath(os.path.join(self.path, s.files_dir))
            for s in snaps
            if s.files_dir
        }
        active, _ = self._active_chain(None, snaps)
        for s in active:
            if not s.files_dir:
                continue
            full = os.path.join(self.path, s.files_dir)
            if not os.path.isdir(full):
                report["errors"].append(f"v{s.version}: files_dir missing: {s.files_dir}")
                continue
            files = _parquet_files(full)
            if files is None:
                continue  # partition-style layout: no flat footer walk
            if not files and s.n_rows:
                report["errors"].append(f"v{s.version}: no parquet files for {s.n_rows} rows")
                continue
            if verify_rows:
                try:
                    n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
                except Exception as ex:
                    report["errors"].append(f"v{s.version}: unreadable footer: {ex}")
                    continue
                if n != s.n_rows:
                    report["errors"].append(
                        f"v{s.version}: footer rows {n} != manifest {s.n_rows}"
                    )
                # manifest file-stats integrity: the stats dict is a
                # COMPLETE inventory readers plan probe reads from
                # without listing the directory, so (a) an on-disk file
                # absent from it is invisible to probe reads, and
                # (b) stale/hand-edited bounds silently mis-prune.
                # Recompute from the same footers this pass already
                # paid for.  None bounds (unprovable at commit) are
                # always-keep and can never mis-prune — not an error.
                if s.file_stats is not None:
                    on_disk = {os.path.relpath(f, full) for f in files}
                    for rel in sorted(on_disk - set(s.file_stats)):
                        report["errors"].append(
                            f"v{s.version}: data file absent from "
                            f"file_stats inventory: {rel}"
                        )
                    for rel, bounds in s.file_stats.items():
                        f = os.path.join(full, rel)
                        if not os.path.isfile(f):
                            report["errors"].append(
                                f"v{s.version}: file_stats names missing file {rel}"
                            )
                        elif bounds is not None and bounds != _file_key_bounds(f):
                            report["errors"].append(
                                f"v{s.version}: file_stats bounds stale for {rel}"
                            )
                # cluster-column stats mis-prune read_where the same way
                for c, d in (s.col_stats or {}).items():
                    for rel, bounds in (d or {}).items():
                        f = os.path.join(full, rel)
                        if (bounds is not None and os.path.isfile(f)
                                and bounds != _file_key_bounds(f, c)):
                            report["errors"].append(
                                f"v{s.version}: col_stats[{c}] stale for {rel}"
                            )
        data_dir = os.path.join(self.path, DATA)
        if os.path.isdir(data_dir):
            for name in sorted(os.listdir(data_dir)):
                full = os.path.normpath(os.path.join(data_dir, name))
                if os.path.isdir(full) and full not in referenced:
                    report["orphans"].append(os.path.join(DATA, name))
        if repair:
            # an unreadable manifest may own an "orphan": keep them all
            if log_readable:
                for rel in report["orphans"]:
                    shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
                    report["repaired"].append(rel)
                report["orphans"] = []
            for name in report["tmp_manifests"]:
                try:
                    os.unlink(os.path.join(meta_dir, name))
                    report["repaired"].append(name)
                except OSError:
                    pass
            report["tmp_manifests"] = []
        return report

    # ---------- read paths ----------

    def _active_chain(self, version: int | None = None,
                      snaps: list[Snapshot] | None = None) -> tuple[list[Snapshot], int | None]:
        """(data snapshots to union, seq-scoped kill barrier) of the
        :func:`live_snapshots` at ``version`` (default: latest) of
        ``snaps`` — the operation's parsed log (default: parse it now).

        Seq-scoped truncates (drop barriers) return the max barrier; the
        read applies it as a ``_seq >= barrier`` predicate so it is
        correct under out-of-order epoch arrival."""
        if snaps is None:
            snaps = self.snapshots()
        active = live_snapshots(
            [s for s in snaps if version is None or s.version <= version]
        )
        # compacts inherit the barrier (see compact()) so a late pre-barrier
        # epoch arriving after a compaction still cannot resurrect dead rows
        kill_seqs = [s.trunc_seq for s in active if s.trunc_seq is not None]
        files = [s for s in active if s.files_dir is not None]
        return files, (max(kill_seqs) if kill_seqs else None)

    def _vacuumed(self, chain: list[Snapshot]) -> list[Snapshot]:
        """The snapshots of ``chain`` whose data dir is gone (vacuum
        reclaimed it) — driver-side stat only."""
        return [s for s in chain if s.files_dir is not None
                and not os.path.isdir(os.path.join(self.path, s.files_dir))]

    #: bits reserved for the snapshot tiebreak inside the single BIGINT
    #: read-side ordering key: _ord = _seq << 20 | rank-in-active-chain.
    #: Caps the ACTIVE chain (snapshots since the last compaction) at
    #: 2^20 files and _seq at 2^43 — both far above the 10^10-event
    #: design point (compaction bounds the chain; op_seq is dense).
    ORD_VERSION_BITS = 20

    def _scan(self, snaps: list[Snapshot], kill_seq: int | None = None,
              rank_offset: int = 0, prune=None,
              prune_stats: dict | None = None) -> DataFrame | None:
        """The one merge-on-read scan every read is built on: the union
        of ``snaps``' files (``allowMissingColumns`` = schema evolution),
        each tagged with ``VERSION_COL`` = its chain rank + ``rank_offset``
        (rank in version order == commit order; a skipped snapshot keeps
        its rank, so ranks stay comparable across scans of one chain),
        rows below the drop barrier ``kill_seq`` removed, plus the packed
        ordering key ``_ord = _seq << ORD_VERSION_BITS | rank``.

        ``prune(s, full)`` returns (kept files, or None when the layout
        cannot be listed flat; files total): a snapshot with no kept file
        is skipped, and ``prune_stats`` (out-param) receives
        {files_total, files_read, pruned} over the listed snapshots.
        Returns None when no snapshot is left.  The ordering-capacity
        check runs before any file is touched."""
        n_chain = rank_offset + len(snaps)
        if n_chain >= (1 << self.ORD_VERSION_BITS):
            raise RuntimeError(
                f"chain of {n_chain} snapshots exceeds the read-ordering "
                f"tiebreak capacity (2^{self.ORD_VERSION_BITS}) — run compact()"
            )
        n_total = n_read = 0
        out = None
        for i, s in enumerate(snaps):
            full = os.path.join(self.path, s.files_dir)
            kept, n_files = prune(s, full) if prune is not None else (None, 0)
            if kept is None:
                df = self.spark.read.parquet(full)
            else:
                n_total += n_files
                n_read += len(kept)
                if not kept:
                    continue  # proven to hold no wanted row
                df = self.spark.read.parquet(*kept)
            df = df.withColumn(VERSION_COL, F.lit(rank_offset + i))
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        if prune_stats is not None:
            prune_stats.update(
                files_total=n_total, files_read=n_read, pruned=n_total - n_read
            )
        if out is None:
            return None
        if kill_seq is not None:
            # drop barrier: pre-barrier rows are dead in any snapshot
            out = out.where(F.col(SEQ_COL) >= kill_seq)
        return out.withColumn(
            "_ord",
            F.col(SEQ_COL) * F.lit(1 << self.ORD_VERSION_BITS) + F.col(VERSION_COL),
        )

    @staticmethod
    def _lww(rows: DataFrame, ranked: DataFrame | None = None) -> DataFrame:
        """Per-key last-writer-wins over :meth:`_scan` output: the rows
        of ``rows`` holding their key's max ``_ord`` in ``ranked``
        (default ``rows``).  :meth:`read_where` ranks over the full chain
        read narrow and joins back a file-pruned ``rows``.  Keeps ``_ord``
        and ``VERSION_COL`` (the change feed compares ordinals and maps
        ranks to versions).

        The winner is picked the narrow way: (_seq, _v) packs into ONE
        BIGINT ``_ord`` (strictly unique per (doc_id, row): _seq is
        globally unique across deltas, and equal-_seq rows from snapshot
        loads differ in _v), so the per-key max runs as a codegen'd
        HashAggregate over an 8-byte buffer and the join-back returns
        exactly one row.  A max(struct(...)) over the full row — round
        1's shape — falls back to a non-codegen SortAggregate carrying
        every payload byte through the sort."""
        winners = (rows if ranked is None else ranked).groupBy("doc_id").agg(
            F.max("_ord").alias("_ord")
        )
        return rows.join(winners, ["doc_id", "_ord"])

    def _materialize(self, snaps: list[Snapshot], keep_deleted: bool,
                     kill_seq: int | None = None) -> DataFrame:
        """Union all active files, LWW per key (:meth:`_lww`), in the
        canonical column order (doc_id, payload..., hidden) regardless
        of which snapshot contributed which column."""
        lww = self._lww(self._scan(snaps, kill_seq))
        if not keep_deleted:
            lww = lww.where(~F.col(DELETED_COL))
        return lww.select("doc_id", *_payload_cols(lww), SEQ_COL, DELETED_COL)

    def _empty(self, version: int | None = None) -> DataFrame:
        """Typed empty frame: the LATEST manifest's recorded schema (a
        truncated table still knows its shape — ``verify.diff`` against
        it then reports all-removed instead of raising on missing
        columns), falling back to the bare key when the table has never
        committed data."""
        from pyspark.sql import types as T

        for s in reversed(self.snapshots()):
            if version is not None and s.version > version:
                continue
            if s.schema_ddl:
                dt = T.DataType.fromDDL(s.schema_ddl)
                if isinstance(dt, T.StructType):
                    clean = T.StructType(
                        [f for f in dt.fields if f.name not in (SEQ_COL, DELETED_COL)]
                    )
                    return self.spark.createDataFrame([], clean)
        return self.spark.createDataFrame([], "doc_id string")

    def read(self, version: int | None = None,
             tag: str | None = None) -> DataFrame:
        """Current (or time-travel) state, hidden columns removed.
        ``tag`` resolves a named ref (see :meth:`tag`) to its version;
        passing both is an error."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self._resolve_ref(tag)
        snaps, kill_seq = self._active_chain(version)
        if not snaps:
            return self._empty(version)
        return self._materialize(snaps, keep_deleted=False, kill_seq=kill_seq).drop(
            SEQ_COL, DELETED_COL
        )

    def read_where(self, preds: dict, version: int | None = None,
                   tag: str | None = None,
                   prune_stats: dict | None = None) -> DataFrame:
        """Current (or time-travel) state under a conjunction of range
        predicates, with manifest-planned FILE skipping on z-ordered
        bases (the Iceberg sort-order + manifest column-stats scan).

        ``preds``: {col: (lo, hi)} inclusive ranges (either bound may be
        None for open-ended) or {col: value} for equality.  Result ==
        ``read(...).where(<the same conjunction>)`` exactly; pruning is
        planned from :attr:`Snapshot.col_stats` (cluster columns of a
        ``compact(cluster_by=...)``) and :attr:`Snapshot.file_stats`
        (doc_id) with ZERO footer opens — files/columns without
        committed stats are conservatively read, and Spark's own
        row-group skipping still applies inside kept files.

        **LWW stays correct under pruning** because the per-key winner
        is decided over the FULL chain read NARROW (doc_id + _seq only —
        Catalyst column-prunes that scan) and only the payload join-back
        side is file-pruned: a winner whose row was pruned provably
        fails the predicate (bounds say no row in that file matches), so
        its key is correctly absent; naive per-file pruning before the
        winner aggregate would instead resurrect the newest SURVIVING
        row — a stale read.  At 100 TB the win is the payload bytes
        (the wide columns) of skipped files; the narrow planning scan
        reads two 8-byte-ish columns."""
        norm: dict[str, tuple] = {}
        for c, rng in preds.items():
            lo, hi = rng if isinstance(rng, (tuple, list)) else (rng, rng)
            norm[c] = (lo, hi)
        if not norm:
            raise ValueError("read_where needs at least one predicate")
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self._resolve_ref(tag)

        def cond(df):
            # a frame without a predicate column can satisfy nothing —
            # reachable only on the degenerate paths (never-committed
            # table whose typed-empty schema is just the key, or a
            # predicate on a column no snapshot ever carried); real
            # chains union with allowMissingColumns, so evolved columns
            # exist (null for pre-evolution rows, which correctly fail
            # the range like any SQL comparison)
            cols = set(df.columns)
            e = F.lit(True)
            for c, (lo, hi) in norm.items():
                if c not in cols:
                    return df.limit(0)
                if lo is not None:
                    e = e & (F.col(c) >= F.lit(lo))
                if hi is not None:
                    e = e & (F.col(c) <= F.lit(hi))
            return df.where(e)

        snaps, kill_seq = self._active_chain(version)
        if not snaps:
            return cond(self._empty(version))
        rows = self._scan(snaps, kill_seq, prune=self._range_prune(norm),
                          prune_stats=prune_stats)
        if rows is None:
            return cond(self._empty(version))
        # winners over the FULL chain (Catalyst prunes that scan to
        # doc_id + _seq); only the payload join-back side is file-pruned
        lww = self._lww(rows, ranked=self._scan(snaps, kill_seq))
        lww = lww.where(~F.col(DELETED_COL))
        return cond(lww.select("doc_id", *_payload_cols(lww)))

    @staticmethod
    def _range_prune(norm: dict):
        """:meth:`_scan` ``prune`` for :meth:`read_where`: a file is
        skipped only when some predicate column's committed bounds PROVE
        no row matches; unknown columns/files/bounds are read."""
        def prune(s: Snapshot, full: str) -> tuple[list[str] | None, int]:
            cs = s.col_stats or {}
            if s.file_stats is not None:
                rels = sorted(s.file_stats)
            else:
                files = _parquet_files(full)
                if files is None:
                    return None, 0
                rels = sorted(os.path.relpath(f, full) for f in files)

            def keep(rel: str) -> bool:
                for c, (lo, hi) in norm.items():
                    if c == "doc_id" and s.file_stats is not None:
                        b = s.file_stats.get(rel)
                    elif c in cs and cs[c] is not None:
                        b = cs[c].get(rel)
                    else:
                        continue
                    if not _range_may_overlap(b, lo, hi):
                        return False
                return True

            return [os.path.join(full, r) for r in rels if keep(r)], len(rels)

        return prune

    @staticmethod
    def _probe_prune(key: str, probes: list):
        """:meth:`_scan` ``prune`` for probe reads: the files whose
        ``key`` bounds may contain a probe.

        Prefers the manifest's committed :attr:`Snapshot.file_stats`:
        the dict is a complete file inventory with bounds, so planning
        needs NO directory listing and NO footer opens — one manifest
        read plans the whole probe (the Iceberg manifest-skip shape).
        Non-doc_id keys and pre-stats manifests fall back to the
        listing + per-file footer bounds (:func:`_file_key_bounds`);
        either way one rule decides, :func:`_bounds_may_contain`, and
        null bounds (unprovable footer) always keep the file.  A footer
        yields one [min, max] over all its row groups, so a probe in a
        gap between row groups keeps the file."""
        sorted_probes = sorted(probes)

        def prune(s: Snapshot, full: str) -> tuple[list[str] | None, int]:
            stats = s.file_stats if key == "doc_id" else None
            if not stats:
                files = _parquet_files(full)
                if files is None:
                    return None, 0
                stats = {os.path.relpath(f, full): _file_key_bounds(f, key) for f in files}
            kept = [os.path.join(full, rel)
                    for rel, b in sorted(stats.items())
                    if b is None or _bounds_may_contain(b, sorted_probes)]
            return kept, len(stats)

        return prune

    def read_keys(self, *cols: str, probes: list | None = None,
                  key: str = "doc_id",
                  prune_stats: dict | None = None) -> DataFrame:
        """Narrow fast-path read for INSERT-ONLY tables (each key
        committed at most once, never updated or deleted — e.g. the
        dedup seen-hash registry).  Skips the LWW materialization
        entirely: no per-key aggregate, no join-back, no shuffle — just
        a column-pruned union of the active files.  On a table that DOES
        receive updates this returns duplicate keys; callers own that
        invariant.  Drop barriers (seq-scoped truncates) still apply.

        **Zone-map file pruning** (the Iceberg manifest column-bounds
        file skip, built on parquet row-group footer statistics): pass
        ``probes`` — the key values this read will be joined against —
        and only files whose footer [min, max] of ``key`` can contain a
        probe are scanned at all.  Bounds are read DRIVER-SIDE from the
        local footers (no Spark job, exactly how Iceberg reads manifest
        bounds), probes are binary-searched against each file's range,
        and any file with unusable stats (missing, truncated-length,
        type-mismatched, partition-style layout) falls back to being
        read — pruning can only ever skip files proven probe-free, so
        the result is identical to the full scan.  After ``compact()``
        range-clusters the table on its key, file ranges are tight and
        disjoint, so a trigger-bounded batch of B probes touches
        O(min(B, n_files)) files instead of all of them.  ``prune_stats``
        (out-param) receives {files_total, files_read, pruned}."""
        cols = cols or ("doc_id",)
        snaps, kill_seq = self._active_chain()
        if not snaps:
            return self._empty().select(*cols)
        prune = self._probe_prune(key, probes) if probes is not None else None
        out = self._scan(snaps, kill_seq, prune=prune, prune_stats=prune_stats)
        if out is None:
            return self._empty().select(*cols)
        return out.where(~F.col(DELETED_COL)).select(*cols)

    def lookup(self, probes: list, version: int | None = None,
               prune_stats: dict | None = None) -> DataFrame:
        """Point lookup: the CURRENT (or time-travel) live state of the
        given doc_ids — the serving-layer read (``SELECT * WHERE doc_id
        IN (...)``) — at O(probe-matching files), never O(table).

        Same driver-side zone-map pruning as :meth:`read_keys` (only
        files whose footer [min, max] can contain a probe are scanned),
        but on the full LWW table: unlike ``read_keys`` this is correct
        under updates and deletes, because per-key last-writer-wins only
        needs the rows OF THAT KEY, and pruning is conservative — every
        file that may hold a probe row is kept, so each probed key's
        winner is decided over its complete row set.  The key filter
        sits BELOW the aggregate, so the LWW shuffle carries probe rows
        only.  Deleted keys and unknown keys return no row.  After
        :meth:`compact` / :meth:`compact_minor` range-cluster the table,
        K probes touch O(K) files on any table size."""
        snaps, kill_seq = self._active_chain(version)
        if not snaps or not probes:
            return self._empty(version)
        rows = self._scan(snaps, kill_seq, prune=self._probe_prune("doc_id", probes),
                          prune_stats=prune_stats)
        if rows is None:
            return self._empty(version)
        lww = self._lww(rows.where(F.col("doc_id").isin(list(probes))))
        lww = lww.where(~F.col(DELETED_COL))
        return lww.select("doc_id", *_payload_cols(lww))

    def schema_history(self) -> list[dict]:
        """Schema-evolution audit: for each committed version whose DDL
        differs from the previous data-carrying one, the column-level
        diff — added / removed columns and type changes.  Driver-side
        manifest parse only (no Spark job), the Iceberg
        ``table.history()`` + schema-log read.  The pipeline's
        on-the-fly evolution (unionByName over flat payload columns,
        m2 suite) makes this the one place an operator can ask "when
        did column X appear, and as what type".

        Returns ``[{version, action, added, removed, retyped}]`` where
        ``added``/``removed`` map column -> type and ``retyped`` maps
        column -> (old, new); the first data-carrying version reports
        all its columns as added."""
        from pyspark.sql import types as T

        def fields(ddl: str) -> dict:
            if not ddl:
                return {}
            dt = T.DataType.fromDDL(ddl)
            if not isinstance(dt, T.StructType):
                return {}
            return {
                f.name: f.dataType.simpleString()
                for f in dt.fields
                if f.name not in (SEQ_COL, DELETED_COL)
            }

        out = []
        prev: dict = {}
        for s in self.snapshots():
            cur = fields(s.schema_ddl)
            if not cur:
                continue  # truncate-style manifests carry no data DDL
            added = {c: t for c, t in cur.items() if c not in prev}
            removed = {c: t for c, t in prev.items() if c not in cur}
            retyped = {
                c: (prev[c], cur[c])
                for c in cur
                if c in prev and prev[c] != cur[c]
            }
            if added or removed or retyped:
                out.append(
                    dict(version=s.version, action=s.action,
                         added=added, removed=removed, retyped=retyped)
                )
            # deltas are PARTIAL schemas (a batch touching only old
            # columns must not read as "column removed"): the running
            # schema is the union, exactly like the read path's
            # unionByName(allowMissingColumns); compaction re-baselines
            prev = cur if s.action in ("append", "compact") else {**prev, **cur}
        return out

    def key_history(self, probes: list, key: str = "doc_id",
                    prune_stats: dict | None = None) -> DataFrame:
        """Audit trail for specific keys: every stored row version in
        the ACTIVE chain — ``(version, op_seq, deleted, payload...)``
        per surviving event, newest-first per key — with the same
        driver-side zone-map file pruning as :meth:`read_keys`, so
        asking about K keys on a compacted 100 TB table touches O(K)
        files, never the table.  The "who last wrote this doc and what
        did it look like before" debugging read every CDC operator
        eventually needs (the reference answers it by re-querying the
        source DB; the lake can answer from its own files).

        History depth is storage depth: compaction collapses everything
        before it into the surviving row (Iceberg snapshot-expiry
        semantics), a seq-scoped truncate barrier hides rows below it,
        and clone rows surface with their handoff ``op_seq``
        (:meth:`commit_append`'s ``as_of_seq``)."""
        out_empty = self.spark.createDataFrame(
            [], f"{key} string, version int, op_seq long, deleted boolean"
        )
        if not probes:
            return out_empty
        snaps, kill_seq = self._active_chain()
        if not snaps:
            return out_empty
        out = self._scan(snaps, kill_seq, prune=self._probe_prune(key, probes),
                         prune_stats=prune_stats)
        if out is None:
            return out_empty
        out = out.where(F.col(key).isin(list(probes)))
        return out.select(
            key,
            _version_of_rank(snaps).alias("version"),
            F.col(SEQ_COL).alias("op_seq"),
            F.col(DELETED_COL).alias("deleted"),
            *_payload_cols(out, key),
        ).orderBy(key, F.desc("op_seq"))

    # ---------- incremental change feed ----------

    CHANGE_TYPE_COL = "change_type"
    COMMIT_VERSION_COL = "_commit_version"

    def table_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Changelog between two committed versions (Delta CDF / Iceberg
        ``create_changelog_view`` semantics): one row per key whose live
        state changed in versions ``(v_from, v_to]``, with ``change_type``
        ∈ {insert, update, delete}, pre-image columns (``pre_<col>``,
        null for inserts), post-image columns (``post_<col>``, null for
        deletes) and ``_commit_version`` — the snapshot that committed
        the terminal change.  ``v_from=0`` means "since table creation"
        (every live row classifies as insert).

        This is the incremental-consumer read the reference lacks
        entirely (yadex re-reads the full target to verify,
        /root/reference/cmd/compare-dbs.go): downstream jobs tail the
        lake the way the pipeline tails the oplog.

        Scale shape — O(changed keys), never O(table):

        - only the delta/append files committed INSIDE the window are
          read in full (that union IS the change set);
        - the pre-state LWW materialization at ``v_from`` is key-filtered
          with a semi-join placed BELOW the per-key aggregate, so its
          shuffle carries affected keys only (the scan itself prunes via
          parquet footers once ``compact()`` has range-clustered the
          base — same file-skip as :meth:`read_keys`);
        - out-of-order replay safe: a window row that LOSES last-writer-
          wins against the pre-state (a late epoch committing old
          op_seqs) emits NO change row, because the live state did not
          change.  Ordinal comparison uses the same packed
          ``_seq << 20 | chain-rank`` BIGINT as :meth:`_materialize`,
          with window ranks offset above the pre-chain's.

        If the window contains a compaction or truncate, per-commit
        attribution is gone (the same limitation as Iceberg CDF across
        rewrites); falls back to a value-based full state diff between
        the two versions — still correct as a change set, but an update
        that rewrote an identical payload is then (correctly) absent.
        """
        all_snaps = self.snapshots()
        if v_to is None:
            v_to = all_snaps[-1].version if all_snaps else 0
        if not (0 <= v_from <= v_to):
            raise ValueError(f"need 0 <= v_from <= v_to, got ({v_from}, {v_to})")
        window = [s for s in all_snaps if v_from < s.version <= v_to]
        # a minicompact WITH subsumes rewrites per-commit attribution for
        # the deltas it merged (a replicated data-less marker does not);
        # same fallback rule as any other rewrite inside the window
        if any(
            s.action in ("truncate", "compact")
            or (s.action == "minicompact" and s.subsumes)
            for s in window
        ):
            return self._changes_by_diff(v_from, v_to)

        pre_files, pre_kill = self._active_chain(v_from, all_snaps)
        win_files = [s for s in window if s.files_dir is not None]
        # the window's drop barriers were excluded above, but a barrier
        # committed AT OR BEFORE v_from still kills late pre-barrier rows
        # arriving inside the window (barriers are seq-scoped, order-free)
        _, kill_to = self._active_chain(v_to, all_snaps)

        pre_payload = self._chain_payload_cols(pre_files)
        win_payload = self._chain_payload_cols(win_files)
        payload = pre_payload + [c for c in win_payload if c not in pre_payload]

        if not win_files:
            return self._empty_changes(payload)

        # window ranks continue the pre-chain's, so the two sides' _ord
        # compare as one chain
        post = self._lww(self._scan(win_files, kill_to, rank_offset=len(pre_files)))
        post = post.withColumn(
            self.COMMIT_VERSION_COL, _version_of_rank(win_files, len(pre_files))
        )
        keys = post.select("doc_id")

        pre = None
        if pre_files:
            # key filter BELOW the aggregate: the LWW shuffle carries
            # changed keys only (AQE broadcasts `keys` from runtime size
            # on a trigger-bounded window)
            pre = self._lww(self._scan(pre_files, pre_kill).join(keys, "doc_id", "left_semi"))

        post_side = post.select(
            "doc_id",
            F.col("_ord").alias("_post_ord"),
            F.col(DELETED_COL).alias("_post_del"),
            self.COMMIT_VERSION_COL,
            *[
                (F.col(c) if c in win_payload else F.lit(None)).alias(f"post_{c}")
                for c in payload
            ],
        )
        if pre is not None:
            pre_side = pre.select(
                "doc_id",
                F.col("_ord").alias("_pre_ord"),
                (~F.col(DELETED_COL)).alias("_pre_live"),
                *[
                    (F.col(c) if c in pre_payload else F.lit(None)).alias(f"pre_{c}")
                    for c in payload
                ],
            )
            j = post_side.join(pre_side, "doc_id", "left")
        else:
            post_types = {f.name: f.dataType for f in post_side.schema.fields}
            j = post_side.select(
                "*",
                F.lit(None).cast("long").alias("_pre_ord"),
                F.lit(None).cast("boolean").alias("_pre_live"),
                *[
                    F.lit(None).cast(post_types[f"post_{c}"]).alias(f"pre_{c}")
                    for c in payload
                ],
            )
        pre_live = F.coalesce(F.col("_pre_live"), F.lit(False))
        # stale window rows (late replay of already-superseded op_seqs)
        # lose LWW against the pre-state: live state unchanged, no row
        j = j.where(F.col("_pre_ord").isNull() | (F.col("_post_ord") > F.col("_pre_ord")))
        change = (
            F.when(F.col("_post_del") & pre_live, F.lit("delete"))
            .when(F.col("_post_del"), F.lit(None))  # delete of a dead key
            .when(pre_live, F.lit("update"))
            .otherwise(F.lit("insert"))
        )
        j = j.withColumn(self.CHANGE_TYPE_COL, change).where(
            F.col(self.CHANGE_TYPE_COL).isNotNull()
        )
        out_pre = [
            F.when(pre_live, F.col(f"pre_{c}")).alias(f"pre_{c}") for c in payload
        ]
        out_post = [
            F.when(~F.col("_post_del"), F.col(f"post_{c}")).alias(f"post_{c}")
            for c in payload
        ]
        return j.select(
            "doc_id", self.CHANGE_TYPE_COL, *out_pre, *out_post,
            self.COMMIT_VERSION_COL,
        )

    def _chain_payload_cols(self, snaps: list[Snapshot]) -> list[str]:
        """Payload column names across a chain, from manifest schemas
        (first-seen order) — no file reads."""
        from pyspark.sql import types as T

        out: list[str] = []
        for s in snaps:
            if not s.schema_ddl:
                continue
            dt = T.DataType.fromDDL(s.schema_ddl)
            if not isinstance(dt, T.StructType):
                continue
            for f in dt.fields:
                if f.name not in (SEQ_COL, DELETED_COL, "doc_id") and f.name not in out:
                    out.append(f.name)
        return out

    def _empty_changes(self, payload: list[str]) -> DataFrame:
        cols = (
            ["doc_id string", f"{self.CHANGE_TYPE_COL} string"]
            + [f"pre_{c} string" for c in payload]
            + [f"post_{c} string" for c in payload]
            + [f"{self.COMMIT_VERSION_COL} int"]
        )
        return self.spark.createDataFrame([], ", ".join(cols))

    def _changes_by_diff(self, v_from: int, v_to: int) -> DataFrame:
        """Fallback across a compact/truncate/minicompact boundary:
        value-based full state diff of the two versions.  O(table), like
        Iceberg CDF re-derivation across a rewrite; attribution version
        is v_to."""
        return state_diff(self.read(version=v_from), self.read(version=v_to), v_to)


def state_diff(a: DataFrame, b: DataFrame, v_to: int) -> DataFrame:
    """Value-based change set between two LIVE states (``a`` → ``b``),
    in :meth:`LakeTable.table_changes`' row shape: insert / delete /
    update with pre/post images, unchanged keys dropped, attribution
    version ``v_to``.  Shared by the change feed's rewrite fallback and
    by :class:`LakeReplicator`'s logical re-bootstrap (where ``a`` is
    the TARGET's live state standing in for a vacuumed pre-version)."""
    payload = [c for c in a.columns if c != "doc_id"]
    payload += [c for c in b.columns if c != "doc_id" and c not in payload]
    # a column missing on one side (schema evolution, or an empty
    # v_from=0 side that only knows the key) must be a TYPED null —
    # a bare lit(None) is VOID and the eqNullSafe struct compare
    # below then fails to resolve against the typed other side
    types = {f.name: f.dataType for f in b.schema.fields}
    types.update({f.name: f.dataType for f in a.schema.fields})
    l = a.select(
        "doc_id", F.lit(True).alias("_pre_live"),
        *[
            (F.col(c) if c in a.columns else F.lit(None).cast(types[c])).alias(f"pre_{c}")
            for c in payload
        ],
    )
    r = b.select(
        "doc_id", F.lit(True).alias("_post_live"),
        *[
            (F.col(c) if c in b.columns else F.lit(None).cast(types[c])).alias(f"post_{c}")
            for c in payload
        ],
    )
    j = l.join(r, "doc_id", "full_outer")
    pre_s = F.struct(*[F.col(f"pre_{c}") for c in payload])
    post_s = F.struct(*[F.col(f"post_{c}") for c in payload])
    change = (
        F.when(F.col("_pre_live").isNull(), F.lit("insert"))
        .when(F.col("_post_live").isNull(), F.lit("delete"))
        .when(pre_s.eqNullSafe(post_s), F.lit(None))  # unchanged
        .otherwise(F.lit("update"))
    )
    j = j.withColumn(LakeTable.CHANGE_TYPE_COL, change).where(
        F.col(LakeTable.CHANGE_TYPE_COL).isNotNull()
    )
    return j.select(
        "doc_id", LakeTable.CHANGE_TYPE_COL,
        *[F.col(f"pre_{c}") for c in payload],
        *[F.col(f"post_{c}") for c in payload],
        F.lit(v_to).alias(LakeTable.COMMIT_VERSION_COL),
    )


def prepare_delta(collapsed: DataFrame, keep_table: bool = False) -> DataFrame:
    """Collapsed micro-batch -> storage layout.

    Stores the post-image FLAT (after.* -> top-level columns): parquet
    column pruning then works per payload field, and schema evolution is
    plain top-level mergeSchema / unionByName.  op=='delete' rows keep
    only the hidden tombstone marker.  ``keep_table`` retains the table
    column for a partitionBy("table") staging write."""
    payload_cols = [
        c for c in collapsed.columns
        if c not in ("op", "op_seq", "op_ts", "table", "doc_id")
    ]
    flat = [F.col("after.*")] if payload_cols == ["after"] else [F.col(c) for c in payload_cols]
    cols = [
        "doc_id",
        *flat,
        F.col("op_seq").cast("long").alias(SEQ_COL),
        (F.col("op") == "delete").alias(DELETED_COL),
    ]
    if keep_table:
        cols.insert(0, "table")
    return collapsed.select(*cols)


def _ddl(df: DataFrame) -> str:
    return df.schema.simpleString()


def _parse_log(meta_dir: str, errors: list | None = None) -> list[Snapshot]:
    """All committed snapshots in version order, from the newest
    metadata CHECKPOINT (one JSON carrying every manifest folded so far
    — see :meth:`LakeTable.compact_meta`) plus the per-version tail
    files after it.  Duplicates (a crash between checkpoint creation and
    folded-file deletion) resolve by version — contents are identical
    by construction.

    Strict by default.  With ``errors`` (fsck's lenient mode) an
    unreadable checkpoint or manifest — bad JSON, missing fields — is
    recorded there and skipped, so the audit still runs over every
    manifest that could be read."""
    ckpt = None
    names = []
    for name in sorted(os.listdir(meta_dir)):
        if name.startswith("checkpoint-v") and name.endswith(".json"):
            ckpt = name  # sorted: the last one is the newest
        elif name.startswith("v") and name.endswith(".json"):
            names.append(name)
    by_version: dict[int, Snapshot] = {}
    for name in ([ckpt] if ckpt else []) + names:
        try:
            with open(os.path.join(meta_dir, name)) as f:
                m = json.load(f)
            snaps = ([Snapshot(**x) for x in m["manifests"]]
                     if name == ckpt else [Snapshot(**m)])
        except Exception as ex:
            if errors is None:
                raise
            kind = "checkpoint" if name == ckpt else "manifest"
            errors.append(f"unreadable {kind} {name}: {ex}")
            continue
        for snap in snaps:
            by_version[snap.version] = snap
    return [by_version[v] for v in sorted(by_version)]


def _publish_json(final: str, obj) -> bool:
    """Create ``final`` holding ``obj`` with O_EXCL semantics: write a
    writer-unique tmp file beside it, hard-link it into place, unlink
    the tmp.  True when the link won, False when ``final`` already
    existed (the caller decides what that means).  The tmp name is
    unique per pid AND thread: same-process writers (two streams in one
    driver) would otherwise interleave writes into one shared tmp file
    and link corrupt JSON."""
    d, base = os.path.split(final)
    tmp = os.path.join(d, f".tmp-{os.getpid()}-{threading.get_ident()}-{base}")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _replace_file(final: str, write) -> None:
    """Atomically replace ``final`` with what ``write(f)`` writes to a
    fresh text file: a writer-unique tmp file beside it, then
    ``os.replace`` (last writer wins).  The tmp name is unique per pid
    AND thread, as in :func:`_publish_json`, and is dot-prefixed without
    ``final``'s extension, so no reader sees it: Spark's file index
    skips ``.`` names, and the lineage readers match ``*.json`` /
    ``*.jsonl`` / ``epoch-*.json``."""
    d, base = os.path.split(final)
    tmp = os.path.join(d, f".{base}.tmp-{os.getpid()}-{threading.get_ident()}")
    with open(tmp, "w") as f:
        write(f)
    os.replace(tmp, final)


def live_snapshots(snaps: list[Snapshot]) -> list[Snapshot]:
    """The live part of a version-ordered snapshot list — the one chain
    rule of every read (:meth:`LakeTable._active_chain`) and of physical
    replication (:class:`LakeReplicator`).  File-less truncates stay in
    it.

    - the last version-scoped truncate (legacy wipe) or compact starts
      it: snapshots before it are dead / subsumed (the compact is the
      new base; the wipe carries no rows or barrier, so reads skip it)
    - a minor compaction (action='minicompact') replaces exactly the
      delta versions listed in its ``subsumes`` — those drop out (time
      travel BELOW the minicompact still sees them: callers pass the
      version-filtered list, so a too-new minicompact never hides them)"""
    start = 0
    for i, s in enumerate(snaps):
        if s.action == "compact" or (s.action == "truncate" and s.trunc_seq is None):
            start = i
    dead = {v for s in snaps for v in (s.subsumes or ())}
    return [s for s in snaps[start:] if s.version not in dead]


def _version_of_rank(snaps: list[Snapshot], offset: int = 0):
    """Column: the committing version of a :meth:`LakeTable._scan` row,
    from its rank, via a tiny array literal (the chain is
    manifest-sized; no join, no shuffle)."""
    return F.element_at(
        F.array(*[F.lit(s.version) for s in snaps]), F.col(VERSION_COL) - offset + 1
    )


def _payload_cols(df: DataFrame, key: str = "doc_id") -> list[str]:
    """``df``'s columns minus the key and every hidden column."""
    return [c for c in df.columns
            if c not in (key, SEQ_COL, DELETED_COL, VERSION_COL, "_ord")]


# ---------- zone-map pruning helpers (driver-side footer reads) ----------

def _parquet_files(d: str) -> list[str] | None:
    """All parquet data files under ``d``.  Returns None for a
    partition-style layout (``col=value`` subdirs): reading such files
    individually would lose the partition column, so the caller must
    fall back to the directory scan."""
    out = []
    for root, dirs, names in os.walk(d):
        if any("=" in x for x in dirs):
            return None
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.join(root, n))
    return out


#: str bounds at or above this length may have been truncated by the
#: writer (parquet column-index truncation defaults to 64); a truncated
#: max is not a true upper bound, so such files are never pruned.
_MAX_EXACT_STAT_LEN = 64


#: skip manifest stats above this file count — a manifest must stay a
#: cheap read; past this the layout needs compaction anyway and footer
#: probing still works
_MAX_STATS_FILES = 4096


def _file_key_bounds(path: str, key: str = "doc_id") -> list | None:
    """Exact [min, max] of ``key`` in ``path`` from its footer, ``[]``
    for a zero-row file (always prunable), or None when the footer
    cannot PROVE bounds: missing/partial stats, non-str/int values,
    truncation-length strings, an unreadable footer.  The one footer
    min/max reader: probe and range pruning, the manifests' file stats
    and the feed's op_seq bounds all use it.  UTF-8 byte order equals
    code-point order, so str bounds compare soundly with Python str
    probes."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    if md.num_rows == 0:
        return []
    col_idx = None
    for i in range(md.num_columns):
        if md.row_group(0).column(i).path_in_schema == key:
            col_idx = i
            break
    if col_idx is None:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col_idx).statistics
        if st is None or not st.has_min_max:
            return None
        mn, mx = st.min, st.max
        if not isinstance(mn, (str, int)) or type(mn) is not type(mx):
            return None
        if isinstance(mn, str) and (
            len(mn) >= _MAX_EXACT_STAT_LEN or len(mx) >= _MAX_EXACT_STAT_LEN
        ):
            return None
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return [lo, hi]


def _collect_file_stats(full_dir: str, key: str = "doc_id") -> dict | None:
    """The COMPLETE file inventory of ``full_dir`` with per-file bounds:
    {file relpath: [min, max] | [] for empty | None for unprovable}.
    Because every file is present (None marks unprovable bounds, it
    doesn't omit the file), readers can plan from the dict alone —
    no directory LIST and no footer opens.  Returns None only when the
    layout can't be enumerated (partitioned subdirs) or is too large
    to inline in a manifest."""
    files = _parquet_files(full_dir)
    if files is None or len(files) > _MAX_STATS_FILES:
        return None
    stats = {os.path.relpath(f, full_dir): _file_key_bounds(f, key)
             for f in files}
    return stats or None


def _bounds_may_contain(bounds: list, sorted_probes: list) -> bool:
    """Can a file with ``bounds`` (:func:`_file_key_bounds`) hold any
    of ``sorted_probes``?  No probes or an empty file: no.  Type drift
    between bounds and probes (a manifest written under a different key
    type) keeps the file — pruning stays an optimization."""
    import bisect

    if not sorted_probes or bounds == []:
        return False
    lo, hi = bounds
    if type(sorted_probes[0]) is not type(lo) or type(lo) is not type(hi):
        return True
    i = bisect.bisect_left(sorted_probes, lo)
    return i < len(sorted_probes) and sorted_probes[i] <= hi


def _range_may_overlap(bounds: list | None, lo, hi) -> bool:
    """Whether a file with ``bounds`` = [min, max] may hold a row in the
    inclusive range [lo, hi] (either end None = open).  Conservative:
    unknown bounds or a type drift between stored bounds and the
    predicate keep the file — pruning stays an optimization."""
    if bounds is None:
        return True
    if bounds == []:
        return False  # provably empty file
    mn, mx = bounds
    try:
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:
        return True
    return True

