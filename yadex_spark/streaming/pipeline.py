"""The CDC pipeline: readStream → route → collapse → exactly-once apply.

This is the Spark re-expression of the reference's whole channel
topology (runSToplog, /root/reference/msync/run.go:137-210):

  reference stage                      -> here
  ---------------------------------------------------------------
  change-stream tail + resume token    -> readStream + checkpointLocation
  source pump / idle flush (S2)        -> micro-batch trigger boundary
  namespace filter (F1)                -> where(table is not null)
  regex classify + route (F2/T2)       -> Router + isin filter
  size+time batcher (B1)               -> maxFilesPerTrigger / trigger
  event decode → write model (T1)      -> collapse to terminal op per key
  bulk apply, dup-key tolerant (W1)    -> LakeTable delta commit (MERGE)
  RT expiry drop (W3)                  -> per-pattern late filter
                                          (config.go:19 Expires; RT only,
                                          bulkwrite.go runBulkWriteRT)
  bookmark commit + pending list (C1/2)-> checkpoint offsets/commits +
                                          idempotent scoped batch_id +
                                          lineage rows

Exactly-once: Structured Streaming writes offsets before and commits
after each epoch; if the process dies mid-epoch the epoch replays, and
the lake skips batch_ids it has already committed.  batch ids are
namespaced by a per-checkpoint scope (Delta's txnAppId analogue), so a
fresh checkpoint over an existing lake cannot collide with a previous
run's epoch numbers — replays then re-apply, which LWW makes
value-idempotent.  This deliberately FIXES the reference's leaky
advance-bookmark-on-error (/root/reference/msync/bulkwrite.go:96-110;
SURVEY.md §2.1).

Per-epoch cost model (the Amdahl term that decides N→4N scaling):

- ONE narrow inventory pass (the epoch's files are re-read through a
  real parquet scan recovered from the checkpoint source log, so this
  reads only (table, op, op_seq, op_ts) — column-pruned), and
- ONE write job: late-filter → barrier-filter → collapse →
  ``partitionBy("table")`` staging write.  Per-table lineage stats and
  late counts ride the same job as Observation metrics, and each
  table's manifest just points at its staging subdir — T tables cost
  ONE job, ONE collapse execution, zero extra passes.
- lineage + watermarks are driver-side JSON appends (no Spark job).

Scale notes (100 TB / 1000 executors):
- the only wide exchange per epoch is the collapse winners aggregate
  (8-byte op_seq buffers, map-side partial agg → skew-safe); the
  join-back broadcasts when the winner set is small.
- apply cost is O(batch) (merge-on-read delta), never O(table);
  compaction/vacuum run OUT-OF-BAND via ``maintain()`` (between drain
  rounds or as a separate job) to bound read amplification without ever
  stalling the apply path — exactly like Iceberg maintenance.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property
from types import SimpleNamespace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from yadex_spark.lake.table import (DELETED_COL, SEQ_COL, LakeTable, _ddl, _replace_file,
                                    prepare_delta)
from yadex_spark.operators.collapse import ORDER_COL, collapse
from yadex_spark.operators.route import RT, Router, namespace_filter
from yadex_spark.schema import (ALL_OPS, OP_INSERT, OP_REPLACE, OP_UPDATE,
                                LINEAGE_SCHEMA, oplog_read_schema, oplog_schema)
from yadex_spark.streaming.ingest_core import (checkpoint_scope, drain_available_now,
                                              maintain_table)


#: broadcast the collapse winner set when the epoch's estimated
#: distinct-key count is at or below this (≈50-100 B/key in the
#: broadcast hash relation → 2M keys ≈ 100-200 MB per executor); above
#: it, the join-back falls back to a shuffle join — the one wide
#: exchange the epoch budget allows
BROADCAST_KEYS_MAX = 2_000_000


def quarantine_reason():
    """Malformed-event classifier over oplog columns (null = healthy):
    unknown/missing op verb, missing order key, or a keyless row op.
    The reference either errors out or silently skips such events — and
    its error path still advances the bookmark (msync/bulkwrite.go:96-110),
    losing them forever.  Here they are captured to a dead-letter area
    with a reason instead of being silently dropped (the standard CDC
    DLQ pattern; Kafka Connect's errors.deadletterqueue analogue)."""
    return (
        F.when(
            F.col("op").isNull() | ~F.col("op").isin(*ALL_OPS),
            F.lit("unknown_op"),
        )
        .when(F.col(ORDER_COL).isNull(), F.lit("null_seq"))
        .when((F.col("op") != "drop") & F.col("doc_id").isNull(), F.lit("null_key"))
    )


def expect_fail(routed: dict) -> "F.Column":
    """Per-pattern data-quality expectation failures (Delta Live Tables
    ``expect_or_drop``; see RoutePattern.expect).  True for a row whose
    table's pattern declares an expectation the row fails (NULL counts
    as failure — an unevaluable contract is a violation, matching SQL
    CHECK semantics under ingest).  Data-setting ops only: deletes and
    drops carry no payload to judge.  Returns a False literal when no
    routed pattern declares one, so healthy pipelines pay nothing."""
    e = F.lit(False)
    for t, p in sorted(routed.items()):
        if p.expect:
            e = e | (
                (F.col("table") == t)
                & F.col("op").isin(OP_INSERT, OP_UPDATE, OP_REPLACE)
                & ~F.coalesce(F.expr(p.expect), F.lit(False))
            )
    return e


class EpochRules:
    """The epoch's Column expressions, built once per pipeline rather
    than per epoch, since every PySpark Column call is a JVM round
    trip.  The inventory aggregates, the quarantine classifier and the
    healthy predicate are built here; the route filter, expectations,
    DLQ reason and lineage stats once per routed table set
    (:meth:`routed`).  Only the RT-late and drop-barrier literals are
    built per epoch, by :meth:`epoch`, the one place the epoch's live
    filter is assembled.  ``run_with_reload`` builds a new pipeline when the
    config changes, so nothing here can go stale."""

    def __init__(self, expiry_ms: int | None):
        self.expiry_ms = expiry_ms
        self.reason = quarantine_reason()
        self.healthy = (F.col("op") != "drop") & self.reason.isNull()
        # PASS 1 (narrow, column-pruned): drop barrier position, op_ts
        # high-watermark, key estimate, and the malformed count — the DLQ
        # write job runs only when it is non-zero (rare path)
        self.inventory = [
            F.max(F.when(F.col("op") == "drop", F.col(ORDER_COL))).alias("bar"),
            F.max("op_ts").alias("max_ts"),
            F.approx_count_distinct("doc_id").alias("nkeys"),
            F.sum(F.when(self.reason.isNotNull(), 1).otherwise(0)).alias("nbad"),
        ]
        self._memo: dict = {}

    def routed(self, routed: dict) -> SimpleNamespace:
        """The expressions for one routed {table: pattern} set, memoized
        by its sorted names."""
        key = tuple(sorted(routed))
        if key not in self._memo:
            names, exp_fail = list(key), expect_fail(routed)
            route = F.col("table").isin(names)
            # per-pattern RT expiry windows; ST tables never expire
            windows = {t: p.expires_ms if p.expires_ms is not None else self.expiry_ms
                       for t, p in routed.items() if p.tier == RT}
            # per-table lineage stats over the collapsed rows
            stats = []
            for i, t in enumerate(names):
                cond = F.col("table") == t
                stats += [
                    F.min(F.when(cond, F.col(ORDER_COL))).alias(f"lo_{i}"),
                    F.max(F.when(cond, F.col(ORDER_COL))).alias(f"hi_{i}"),
                    F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{i}"),
                    F.sum(F.when(cond & (F.col("op") == "insert"), 1).otherwise(0)).alias(f"ni_{i}"),
                    F.sum(F.when(cond & F.col("op").isin("update", "replace"), 1).otherwise(0)).alias(f"nu_{i}"),
                    F.sum(F.when(cond & (F.col("op") == "delete"), 1).otherwise(0)).alias(f"nd_{i}"),
                ]
            self._memo[key] = SimpleNamespace(
                names=names, route=route, stats=stats,
                windows={t: w for t, w in windows.items() if w is not None},
                expects=any(p.expect for p in routed.values()),
                keep=route & self.healthy & ~exp_fail,
                nexp=F.sum(F.when(exp_fail, 1).otherwise(0)).alias("nexp"),
                # structural reasons win (an unknown-op row can't be judged
                # against a payload contract); expectation failures follow
                dlq_reason=F.coalesce(self.reason, F.when(exp_fail, F.lit("expectation"))),
            )
        return self._memo[key]

    def epoch(self, src: DataFrame, inv: list, routed: dict, watermarks: dict) -> SimpleNamespace:
        """The epoch's ONE live filter over ``src``: route, health and
        expectations (:meth:`routed`), RT expiry against ``watermarks``
        (per-table op_ts high-watermarks), and each table's drop barrier,
        the max ``drop`` position among the inventory rows ``inv`` (a
        collection drop discards every earlier event of its table,
        msync/input.go:113-123).  Late and expectation counts ride the
        filter as an Observation when an RT window or an expectation
        applies.  Builds the plan only: no job runs and nothing is
        written.

        Returns ``live`` (the surviving events), ``barriers`` ({table:
        trunc_seq}, committed as truncates before the epoch's delta),
        ``rules`` (:meth:`routed`), and ``late_obs``/``late_metrics``
        (None and [] when nothing is counted)."""
        rules = self.routed(routed)
        barriers = {
            r["table"]: r["bar"]
            for r in inv
            if r["bar"] is not None and r["table"] in routed
        }
        keep, batch, late_obs, late_metrics = rules.keep, src, None, []
        if rules.windows or rules.expects:
            late = F.lit(False)
            if rules.windows:
                for t, w in rules.windows.items():
                    if t in watermarks:
                        late = late | (
                            (F.col("table") == t)
                            & (F.col("op_ts") < F.lit(watermarks[t]) - F.expr(f"INTERVAL {w} MILLISECOND"))
                        )
                keep = keep & ~late
            late_metrics = [
                F.sum(F.when(late & (F.col("table") == t), 1).otherwise(0)).alias(f"late_{i}")
                for i, t in enumerate(rules.names)
            ] + [rules.nexp]
            late_obs = Observation()
            batch = src.where(rules.route).observe(late_obs, *late_metrics)
        for t, bar in barriers.items():
            keep = keep & ((F.col("table") != t) | (F.col(ORDER_COL) > F.lit(bar).cast("long")))
        return SimpleNamespace(live=batch.where(keep), barriers=barriers, rules=rules,
                               late_obs=late_obs, late_metrics=late_metrics)


def read_lineage(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Per-epoch, per-table lineage rows (north_rule's per-partition
    lineage + metrics).  Stored as driver-written JSON lines — a commit
    of lineage must not cost a Spark job.  Empty (typed) before any
    epoch has committed."""
    d = os.path.join(lake_dir, "_lineage")
    if not os.path.isdir(d):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).json(d)


def rolling_events_per_sec(
    spark: SparkSession, lake_dir: str, window_n: int = 256
) -> float | None:
    """Rolling ingest rate (events/sec) over the last ``window_n``
    committed epochs — the reference's live bytes/sec view over a ring
    of the last 256 bulk writes (/root/reference/msync/debug.go:17-31,
    ring msync/msync.go:26).  Events and apply durations come from the
    engine's own lineage; epochs are windowed by commit time so the view
    is correct across checkpoint scopes (epoch ids restart at 0 under a
    fresh checkpoint).  Returns None before any epoch has committed."""
    lin = read_lineage(spark, lake_dir)
    # raw feed events per epoch = the epoch's offset SPAN (offsets are
    # global op_seqs shared across a multi-table epoch) — NOT the sum of
    # per-table applied-row counts, which is post-collapse and would
    # understate the rate the headline metric (events/sec) reports.
    # Epoch identity is (scope, batch_id): epoch ids restart at 0 under
    # a fresh checkpoint, and grouping by committed_at would split
    # LEGACY multi-table epochs (rows written before the one-stamp-per-
    # epoch change carry per-table timestamps) into per-table groups,
    # summing their shared offset span once per table
    per_epoch = (
        lin.groupBy(F.coalesce("scope", F.lit("")).alias("_s"), "batch_id")
        .agg(
            F.max("committed_at").alias("committed_at"),
            F.max("apply_ms").alias("ms"),
            (F.max("offset_hi") - F.min("offset_lo") + 1).alias("n"),
        )
        .orderBy(F.desc("committed_at"))
        .limit(window_n)
    )
    row = per_epoch.agg(F.sum("n"), F.sum("ms")).first()
    if row is None or not row[1]:
        return None
    return float(row[0]) / (float(row[1]) / 1000.0)


@dataclass
class CdcPipeline:
    spark: SparkSession
    oplog_dir: str          # directory of parquet chunks (the change feed)
    lake_dir: str           # root dir; one LakeTable per routed table
    checkpoint_dir: str
    router: Router = field(default_factory=Router)
    max_files_per_trigger: int = 1
    #: default RT expiry window; a pattern's expires_ms overrides.  Only
    #: RT-classified tables expire — ST is lossless (the reference applies
    #: Expires only in runBulkWriteRT, msync/bulkwrite.go:60-63; a global
    #: filter would silently lose ST data)
    expiry_ms: int | None = None
    evolved: bool = False

    def table(self, name: str) -> LakeTable:
        return LakeTable(self.spark, os.path.join(self.lake_dir, name))

    # ---------- epoch source recovery ----------

    def _epoch_files(self, epoch_id: int) -> list[str] | None:
        """The epoch's input files from the FileStreamSourceLog (the
        public on-disk checkpoint format: ``sources/0/<batchId>`` JSON
        lines, every 10th file a ``.compact`` carrying all entries).

        foreachBatch hands a LogicalRDD-backed frame: no column pruning
        or predicate pushdown applies, and every extra pass re-reads all
        columns.  Re-reading the same files through ``spark.read`` gives
        a real parquet scan — the narrow passes (inventory, collapse
        winners) then read only the key columns, the heavy payload is
        deserialized exactly once, and nothing needs a full-batch
        ``.persist()`` (whose cache-build cost and memory pressure
        degenerated low-core runs in round 1)."""
        log_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        for name in (str(epoch_id), f"{epoch_id}.compact"):
            p = os.path.join(log_dir, name)
            if not os.path.exists(p):
                continue
            files = []
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    if entry.get("batchId") == epoch_id:
                        files.append(entry["path"])
            return files or None
        return None

    def _epoch_frame(self, spark: SparkSession, batch: DataFrame, epoch_id: int) -> DataFrame:
        """The epoch's events: a parquet scan of the files the source log
        lists for it, or the foreachBatch frame itself when the log has
        no entry for the epoch (an unknown source layout, or a static
        frame handed to :meth:`apply_batch`)."""
        files = self._epoch_files(epoch_id)
        if files:
            return spark.read.schema(oplog_read_schema(self.evolved)).parquet(*files)
        return batch

    # ---------- exactly-once identity ----------

    def _scope(self) -> str:
        """Stable per-checkpoint id namespacing batch ids (the analogue
        of Delta's txnAppId): epoch numbers restart at 0 under a fresh
        checkpoint, so un-scoped ids would make a new run against an
        existing lake silently skip real batches as already committed."""
        if not getattr(self, "_scope_cache", None):
            self._scope_cache = checkpoint_scope(self.checkpoint_dir)
        return self._scope_cache

    # ---------- the per-epoch apply (foreachBatch body) ----------

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        if os.path.exists(self._lineage_path(epoch_id)):
            # the lineage file is the LAST step of an epoch (atomic
            # rename, scope-namespaced): its existence proves every
            # table's manifest committed.  A replayed epoch (crash
            # between lineage write and checkpoint commit) skips all
            # work — and, critically, never rewrites staging data that
            # committed manifests already reference.
            return
        spark = batch.sparkSession
        self._apply(spark, namespace_filter(self._epoch_frame(spark, batch, epoch_id)),
                    epoch_id, t0)

    @cached_property
    def rules(self) -> EpochRules:
        return EpochRules(self.expiry_ms)

    def _apply(self, spark: SparkSession, src: DataFrame, epoch_id: int, t0: float) -> None:
        # PASS 1 (narrow, column-pruned): per-table inventory
        inv = src.groupBy("table").agg(*self.rules.inventory).collect()
        routed = {
            r["table"]: p for r in inv if (p := self.router.classify(r["table"]))
        }
        if not routed:
            return
        wms = {}
        if self.rules.routed(routed).windows:
            # per-pattern RT expiry against per-table persistent watermarks
            wms = self._advance_watermarks(
                {r["table"]: r["max_ts"] for r in inv if r["max_ts"] is not None}
            )

        # PASS 2 — the ONLY full-width pass: ONE filter (route, health,
        # expectations, RT expiry, drop barriers) → collapse → staged
        # write, with per-table lineage stats riding the same job as
        # Observation metrics (no extra aggregation jobs)
        ep = self.rules.epoch(src, inv, routed, wms)
        rules, barriers = ep.rules, ep.barriers
        est_keys = sum(r["nkeys"] or 0 for r in inv if r["table"] in routed)
        collapsed = collapse(ep.live, broadcast_winners=est_keys <= BROADCAST_KEYS_MAX)
        stats_obs = Observation()
        stored = prepare_delta(collapsed.observe(stats_obs, *rules.stats), keep_table=True)
        # scope-namespaced AND attempt-unique: a fresh checkpoint over an
        # existing lake restarts epochs at 0, and a crash-replay re-runs
        # an epoch whose earlier attempt some tables already committed —
        # in both cases committed manifests point into older staging
        # dirs, which a rewrite of a shared epoch-keyed dir would DELETE
        # (crash mid-overwrite then leaves committed manifests at
        # missing/partial data).  Every attempt writes a brand-new dir;
        # superseded attempt dirs are garbage, collected by maintenance
        # (vacuum_staging), never rewritten in place.
        staging = os.path.join(
            self.lake_dir, "_staging", self._scope(),
            f"e{epoch_id:08d}-a{uuid.uuid4().hex[:8]}",
        )
        stored.write.mode("overwrite").partitionBy("table").parquet(staging)

        try:
            lates = ep.late_obs.get if ep.late_obs else {}
            st = stats_obs.get
        except Exception:
            # When the epoch collapses to ZERO live rows (all events
            # malformed, late, or below a barrier), AQE's empty-relation
            # propagation can eliminate the join subtree that carries the
            # observe nodes — the observations never fire and .get trips
            # an empty-row assertion.  Recompute the same metrics with
            # explicit aggregations on the pre-observe handles (tiny
            # narrow jobs; this path is rare by construction).
            lates = (src.where(rules.route).agg(*ep.late_metrics).first().asDict()
                     if ep.late_obs else {})
            st = collapsed.agg(*rules.stats).first().asDict()
        scope = self._scope()
        # ONE timestamp per epoch: rolling_events_per_sec groups lineage
        # rows into epochs by (committed_at, batch_id) — per-row stamps
        # would split a multi-table epoch into per-table groups and
        # double-count both its offset span and its cumulative apply_ms
        committed_at = time.time()
        ddl = _ddl(stored.drop("table", SEQ_COL, DELETED_COL))
        lineage_rows = []
        for i, t in enumerate(rules.names):
            tbl = self.table(t)
            if t in barriers:
                tbl.commit_truncate(
                    batch_id=f"{scope}/e{epoch_id}-trunc", trunc_seq=barriers[t]
                )
            tbl.commit_delta_dir(
                os.path.join(staging, f"table={t}"),
                batch_id=f"{scope}/e{epoch_id}",
                n_rows=int(st[f"n_{i}"] or 0),
                schema_ddl=ddl,
            )
            lineage_rows.append(
                dict(
                    batch_id=epoch_id,
                    table=t,
                    partition_id=0,
                    offset_lo=st[f"lo_{i}"],
                    offset_hi=st[f"hi_{i}"],
                    n_insert=int(st[f"ni_{i}"] or 0),
                    n_update=int(st[f"nu_{i}"] or 0),
                    n_delete=int(st[f"nd_{i}"] or 0),
                    n_dropped_late=int(lates.get(f"late_{i}") or 0),
                    apply_ms=(time.monotonic() - t0) * 1000.0,
                    committed_at=committed_at,
                    scope=scope,
                )
            )
        # BEFORE the lineage write: lineage is the epoch's completion
        # proof (apply_batch skips replays on it), so everything the
        # epoch produces — including quarantined rows — must exist first
        n_bad = sum(int(r["nbad"] or 0) for r in inv if r["table"] in routed)
        if n_bad or int(lates.get("nexp") or 0):
            self._write_dlq(src, epoch_id, rules)

        self._write_lineage(epoch_id, lineage_rows)

    # ---------- dead-letter queue (malformed events) ----------

    def _write_dlq(self, src: DataFrame, epoch_id: int, rules: SimpleNamespace) -> None:
        """Quarantine the epoch's malformed rows (rare path: runs only
        when the inventory counted any).  The destination is
        deterministic per (scope, epoch) and written with overwrite, so
        a crash-replayed epoch rewrites identical content — idempotent
        like every other epoch artifact.  Healthy processing never pays
        for this job."""
        dlq = (
            src.where(rules.route)
            .withColumn("reason", rules.dlq_reason)
            .where(F.col("reason").isNotNull())
            .withColumn("epoch_id", F.lit(epoch_id).cast("long"))
        )
        dest = os.path.join(self.lake_dir, "_dlq", self._scope(), f"e{epoch_id:08d}")
        dlq.write.mode("overwrite").parquet(dest)

    def dlq(self) -> DataFrame:
        """Read this checkpoint's dead-letter queue: original event
        columns + ``reason`` + ``epoch_id``.  Operators inspect, fix the
        producer, and can re-inject repaired rows as a fresh feed chunk
        (op_seq is preserved, so LWW places them correctly)."""
        d = os.path.join(self.lake_dir, "_dlq", self._scope())
        if not os.path.isdir(d) or not any(os.scandir(d)):
            empty = self.spark.createDataFrame([], oplog_read_schema(self.evolved))
            return empty.withColumn("reason", F.lit(None).cast("string")).withColumn(
                "epoch_id", F.lit(None).cast("long")
            )
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet(d)
        )

    def redrive_dlq(self, repair, epochs: list[int] | None = None) -> int:
        """Hand repaired dead-letter rows back to the feed (the DLQ
        redrive every production CDC stack grows: Kafka Connect / SQS
        dead-letter redrive).  ``repair`` receives the DLQ frame (event
        columns + ``reason``/``epoch_id``) and returns rows in feed
        shape; rows it cannot fix may come back unchanged — the redrive
        epoch re-quarantines them under a FRESH epoch id, so nothing is
        lost and nothing double-counts in the DLQ.  Rows it drops are an
        explicit operator discard.

        Ordering: repaired rows carry whatever ``op_seq`` the repair
        gives them (usually the original), so per-key LWW places them
        exactly where the fixed producer would have — a redrive can
        never clobber newer committed data with an older event.

        Crash contract is feed-first: rows are appended to the feed
        BEFORE their DLQ dirs are removed, so a crash between the two
        can leave rows in both places — the retry re-appends them
        (at-least-once feed), which is state-idempotent under the
        engine's per-key LWW exactly as replayed epochs are (m1 suite);
        it can never LOSE a quarantined row.  DLQ dirs are deleted, not
        archived: an archive would be one more place ``purge_keys``
        must scrub — operators wanting an audit copy snapshot ``dlq()``
        before redriving (the applied rows are auditable in the new
        epoch's lineage regardless).

        Returns the number of rows handed back to the feed; callers
        drain with ``run_available_now()`` to apply them."""
        import shutil

        root = os.path.join(self.lake_dir, "_dlq", self._scope())
        if not os.path.isdir(root):
            return 0
        want = None if epochs is None else {int(e) for e in epochs}
        dirs = [
            os.path.join(root, name)
            for name in sorted(os.listdir(root))
            if name.startswith("e")
            and os.path.isdir(os.path.join(root, name))
            and (want is None or int(name[1:]) in want)
        ]
        if not dirs:
            return 0
        fixed = repair(
            self.spark.read.option("mergeSchema", "true").parquet(*dirs)
        )
        # align to the feed contract: reason/epoch_id never ship, evolved
        # columns the repair did not produce ride as nulls, types coerced
        feed = oplog_read_schema(self.evolved)
        fixed = fixed.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in fixed.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in feed.fields
            ]
        )
        n = fixed.count()
        if n:
            fixed.write.mode("append").parquet(self.oplog_dir)
        for d in dirs:
            shutil.rmtree(d)
        return n

    # ---------- driver-side metadata (no Spark jobs) ----------

    def _advance_watermarks(self, batch_max: dict) -> dict:
        """Monotone persistent per-table high-watermarks over op_ts
        (idempotent: a replayed epoch re-proposes the same maxima)."""
        import datetime as _dt

        os.makedirs(self.lake_dir, exist_ok=True)
        path = os.path.join(self.lake_dir, "_watermarks.json")
        stored: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                stored = {
                    t: _dt.datetime.fromisoformat(v) for t, v in json.load(f).items()
                }
        merged = dict(stored)
        for t, ts in batch_max.items():
            if ts is not None and (t not in merged or ts > merged[t]):
                merged[t] = ts
        if merged != stored:
            _replace_file(path, lambda f: json.dump({t: v.isoformat() for t, v in merged.items()}, f))
        return merged

    def _lineage_path(self, epoch_id: int) -> str:
        """Scope-namespaced so a fresh checkpoint's epoch 0 cannot
        clobber a previous run's epoch-0 lineage.  Doubles as the
        epoch's fully-applied marker (see apply_batch)."""
        return os.path.join(
            self.lake_dir, "_lineage", f"epoch-{self._scope()}-{epoch_id:08d}.json"
        )

    def _write_lineage(self, epoch_id: int, rows: list[dict]) -> None:
        """Per-partition lineage (north_rule) as driver-written JSON
        lines.  Idempotent: epoch-keyed atomic replace, so a replayed
        epoch rewrites rather than duplicates — and committing lineage
        costs no Spark job (round-1's coalesce(1) parquet write was a
        fixed per-epoch job that capped scaling efficiency).  Written
        LAST in the epoch: its atomic appearance marks the epoch fully
        applied."""
        if not rows:
            return
        path = self._lineage_path(epoch_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _replace_file(path, lambda f: f.writelines(json.dumps(r) + "\n" for r in rows))

    def lineage(self) -> DataFrame:
        return read_lineage(self.spark, self.lake_dir)

    def compact_lineage(self, keep_recent: int = 64) -> dict:
        """Fold old per-epoch lineage files into one consolidated
        JSON-lines file.  Lineage accrues ONE file per epoch forever;
        at the 10^10-event design point that is 10^5–10^6 files, and
        every metrics read (``rolling_events_per_sec``, ``lag()``,
        bookmark resume) pays the directory listing.  Folding bounds it
        at O(keep_recent + 1) files with identical rows.

        Safety argument, in order of load-bearing-ness:

        - the newest ``keep_recent`` epochs PER SCOPE keep their
          individual files: only the in-flight tail of a checkpoint can
          ever be crash-replayed, and its per-epoch file is the cheap
          fully-applied marker (apply_batch's first check);
        - an epoch whose marker was folded and that somehow replays
          anyway falls through to batch-id idempotence (no double
          apply), then rewrites its per-epoch file — the row now exists
          TWICE (folded + fresh), which every lineage consumer
          tolerates by construction (rolling groups by (scope, batch)
          with max/span; resume/lag take maxes);
        - crash between writing the new folded file and unlinking its
          inputs leaves duplicate rows — same tolerance.

        Driver-side file I/O only; run under the maintenance lease like
        the rest of maintain()."""
        # each scope's newest per-epoch file must survive: its FILENAME
        # is last_applied_epoch()'s (and read_consistent's) signal
        keep_recent = max(1, keep_recent)
        d = os.path.join(self.lake_dir, "_lineage")
        if not os.path.isdir(d):
            return {"folded": 0, "kept": 0}
        per_scope: dict[str, list[str]] = {}
        folded_inputs: list[str] = []
        for name in sorted(os.listdir(d)):
            if name.startswith("epoch-") and name.endswith(".json"):
                scope = name[len("epoch-"):].rsplit("-", 1)[0]
                per_scope.setdefault(scope, []).append(name)
            elif name.startswith("compacted-") and name.endswith(".jsonl"):
                folded_inputs.append(name)
        to_fold: list[str] = []
        kept = 0
        for scope, names in per_scope.items():
            # names sort lexicographically = epoch order (zero-padded)
            to_fold.extend(names[:-keep_recent])
            kept += min(len(names), keep_recent)
        if not to_fold and len(folded_inputs) <= 1:
            return {"folded": 0, "kept": kept}
        inputs = folded_inputs + to_fold

        def fold(w):
            for name in inputs:
                with open(os.path.join(d, name)) as r:
                    w.writelines(line.strip() + "\n" for line in r if line.strip())

        # atomic: rows exist before inputs vanish
        _replace_file(os.path.join(d, f"compacted-{uuid.uuid4().hex[:12]}.jsonl"), fold)
        for name in inputs:
            try:
                os.unlink(os.path.join(d, name))
            except OSError:
                pass
        return {"folded": len(to_fold), "kept": kept}

    def lag(self) -> dict:
        """Replication lag in EVENTS — feed head ``op_seq`` minus this
        checkpoint's applied head — from driver-side parquet footers
        (:func:`~yadex_spark.streaming.bookmarks.feed_seq_bounds`) and
        lineage JSON only (no Spark job: the monitor must stay cheap
        enough for a tight poll loop; the reference's debug view polls
        the same way, msync/debug.go:37).  Keys: ``feed_head``,
        ``applied_head``, ``lag_events`` (None where unknowable — empty
        feed / nothing applied yet)."""
        from yadex_spark.streaming.bookmarks import feed_seq_bounds

        feed_head = max((hi for _, hi in feed_seq_bounds(self.oplog_dir).values()), default=None)
        applied = None
        lin_dir = os.path.join(self.lake_dir, "_lineage")
        scope = self._scope()
        if os.path.isdir(lin_dir):
            for name in os.listdir(lin_dir):
                # per-epoch .json files plus compact_lineage's folded .jsonl
                if not name.endswith((".json", ".jsonl")):
                    continue
                try:
                    with open(os.path.join(lin_dir, name)) as f:
                        for line in f:
                            row = json.loads(line)
                            if row.get("scope") not in (scope, None):
                                continue
                            hi = row.get("offset_hi")
                            if hi is not None:
                                applied = hi if applied is None else max(applied, hi)
                except Exception:
                    continue
        lag = (feed_head - applied) if (feed_head is not None and applied is not None) else None
        return {"feed_head": feed_head, "applied_head": applied, "lag_events": lag}

    def fsck(self, verify_rows: bool = True, repair: bool = False) -> dict:
        """Run :meth:`LakeTable.fsck` for every routed table.  Returns
        {table: report}.  Superseded staging attempt dirs are not
        reported here; :meth:`vacuum_staging` removes them."""
        return {name: self.table(name).fsck(verify_rows, repair) for name in self.tables()}

    def schema_history(self) -> dict:
        """:meth:`LakeTable.schema_history` per routed table — when each
        column appeared (and as what type) across the whole lake."""
        return {name: self.table(name).schema_history() for name in self.tables()}

    # ---------- cross-table consistent reads ----------

    def last_applied_epoch(self) -> int | None:
        """Greatest FULLY-applied epoch for this checkpoint scope: the
        lineage marker is written only after every table's commit for
        the epoch (C1 ordering), so its presence is the cross-table
        "epoch complete" signal.  None before any epoch."""
        d = os.path.join(self.lake_dir, "_lineage")
        pre = f"epoch-{self._scope()}-"
        best = None
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.startswith(pre) and f.endswith(".json"):
                    try:
                        e = int(f[len(pre):-5])
                    except ValueError:
                        continue
                    if best is None or e > best:
                        best = e
        return best

    def _version_at_epoch(self, name: str, epoch: int) -> int:
        """The table's greatest version containing ONLY commits from
        this scope's epochs <= ``epoch`` (earlier scopes' commits are
        historical and always included).  Walks the version-ordered
        manifest and stops at the first excluded commit — anything
        after it (including maintenance compacts) may subsume the
        excluded epoch's rows."""
        scope_pre = f"{self._scope()}/e"
        best = -1
        for s in self.table(name).snapshots():
            b = s.batch_id or ""
            if b.startswith(scope_pre):
                tail = b[len(scope_pre):]
                num = tail.split("-", 1)[0]
                if num.isdigit() and int(num) > epoch:
                    break
            best = s.version
        return best

    def read_consistent(self, epoch: int | None = None) -> dict[str, "DataFrame"]:
        """Snapshot-isolated view ACROSS tables: every table as of the
        end of the same fully-applied epoch.  Per-table commits mean a
        naive multi-table reader can join table A at epoch N against
        table B at N-1 mid-apply; this pins all reads to
        ``last_applied_epoch()`` (or an explicit earlier one) via each
        table's time-travel read — the lake's answer to Iceberg's
        single-table-transaction limitation.  Tables with no commit at
        or below the epoch come back typed-empty."""
        if epoch is None:
            epoch = self.last_applied_epoch()
        if epoch is None:
            return {name: self.table(name).read(version=-1)
                    for name in self.tables()}
        return {
            name: self.table(name).read(
                version=self._version_at_epoch(name, epoch)
            )
            for name in self.tables()
        }

    def tag(self, name: str, epoch: int | None = None) -> dict[str, int]:
        """Cross-table consistent named ref: tag EVERY table at the same
        fully-applied epoch (the :meth:`read_consistent` pin, made
        durable).  ``read(tag=name)`` on each table then reproduces the
        exact dataset a training run consumed, and vacuum retains those
        files forever — per-table tags alone can't guarantee the tables
        are mutually consistent.  Tables with no commit at or below the
        epoch are skipped (nothing to pin).  Returns {table: version}."""
        if epoch is None:
            epoch = self.last_applied_epoch()
        out: dict[str, int] = {}
        for t in self.tables():
            v = self._version_at_epoch(t, epoch) if epoch is not None else -1
            if v and v > 0:
                out[t] = self.table(t).tag(name, version=v)
        return out

    def restore(self, epoch: int) -> dict[str, int]:
        """Cross-table rollback: every table restored to the end of
        fully-applied ``epoch`` (Delta RESTORE, at the consistency
        boundary :meth:`read_consistent` defines).  Tables with no
        commit at or below the epoch (created later) are wiped to
        empty — the cross-table state AT the epoch had no such table.
        Replayed later epochs stay no-ops (batch ids remain committed),
        so the rollback sticks while fresh feed chunks keep applying.
        Run with the stream stopped, like maintenance."""
        out: dict[str, int] = {}
        for t in self.tables():
            v = self._version_at_epoch(t, epoch)
            tbl = self.table(t)
            if v and v > 0:
                out[t] = tbl.restore(version=v)
            else:
                wiped = tbl.commit_truncate(batch_id=None)
                if wiped is not None:
                    out[t] = wiped
        return out

    def read_tagged(self, name: str) -> dict[str, "DataFrame"]:
        """Every table as of the cross-table tag ``name`` (tables the
        tag skipped come back typed-empty, matching read_consistent)."""
        out = {}
        for t in self.tables():
            tags = self.table(t).tags()
            out[t] = self.table(t).read(
                version=tags[name] if name in tags else -1
            )
        return out

    # ---------- out-of-band maintenance ----------

    def tables(self) -> list[str]:
        """Names of tables materialized in the lake."""
        if not os.path.isdir(self.lake_dir):
            return []
        return sorted(
            d
            for d in os.listdir(self.lake_dir)
            if not d.startswith("_")
            and os.path.isdir(os.path.join(self.lake_dir, d, "_meta"))
        )

    def _maintenance_lease(self):
        """O_EXCL lease at the lake root: two concurrent maintain() runs
        (e.g. a cron'd --maintain racing an operator's manual one) would
        interleave compact/vacuum and could delete each other's fresh
        bases.  Stale-steal and release races are handled by the shared
        nonce-confirmed lease (lake/lease.py)."""
        from yadex_spark.lake.lease import maintenance_lease

        return maintenance_lease(self.lake_dir)

    def maintain(self, min_live_seq: int | str | None = "auto",
                 vacuum: bool = True, retain_last: int = 0,
                 cluster_by: list[str] | None = None) -> dict:
        """Compact + vacuum every table, then collect superseded staging
        attempt dirs — the Iceberg rewrite-data-files / expire-snapshots
        maintenance job, decoupled from the apply path (the reference
        never blocks ingest on maintenance; round-2 measured inline
        compaction epochs at 4-12× the normal epoch cost).

        MUST NOT run concurrently with an applying stream (run between
        drain rounds, as run_with_reload does, or as a separate
        maintenance window): compaction rewrites bases and vacuum
        deletes files a racing reader could hold.

        ``min_live_seq``: the feed's replay low-watermark — tombstones
        below it can never be contradicted by a late arrival and are
        garbage-collected (without it, state size grows unboundedly with
        cumulative deletes at the 10^10-event design point).  "auto"
        reads it from the feed's footers (bookmarks.feed_min_offset, no
        Spark job); None keeps every tombstone.

        ``cluster_by``: Z-order every table's rewritten base on these
        columns (``LakeTable.compact(cluster_by=...)``, lake/zorder.py)
        — the analytics layout; omit for the doc_id serving layout.
        Columns must exist in every table (the pipeline's tables share
        the write-model schema)."""
        from yadex_spark.streaming.bookmarks import feed_min_offset

        t0 = time.monotonic()
        with self._maintenance_lease():
            if min_live_seq == "auto":
                min_live_seq = feed_min_offset(self.oplog_dir)
            report = self._maintain_tables(
                "compacted_version", vacuum, retain_last,
                lambda tbl: tbl.compact(min_live_seq=min_live_seq, cluster_by=cluster_by),
            )
        return {**report, "min_live_seq": min_live_seq,
                "ms": round((time.monotonic() - t0) * 1000, 1)}

    def maintain_minor(self, min_deltas: int = 2, vacuum: bool = True,
                       retain_last: int = 0,
                       cluster_by: list[str] | None = None) -> dict:
        """Minor compaction across the lake (:meth:`LakeTable.
        compact_minor` per table + vacuum of the subsumed delta dirs) —
        the CHEAP maintenance tier: O(trailing small deltas) per table
        instead of :meth:`maintain`'s O(table) rewrite, so it can run at
        a much higher cadence (e.g. every N committed epochs) to keep read
        amplification flat between full compactions.  Tombstone GC and
        range-re-clustering of the base remain :meth:`maintain`'s job.
        Same lease + not-while-applying rules as :meth:`maintain`."""
        t0 = time.monotonic()
        with self._maintenance_lease():
            report = self._maintain_tables(
                "minicompacted_version", vacuum, retain_last,
                lambda tbl: tbl.compact_minor(min_deltas=min_deltas, cluster_by=cluster_by),
                vacuum_unchanged=False,
            )
        return {**report, "ms": round((time.monotonic() - t0) * 1000, 1)}

    def _maintain_tables(self, version_key: str, vacuum: bool, retain_last: int,
                         rewrite, vacuum_unchanged: bool = True) -> dict:
        """The one lake pass of :meth:`maintain` and
        :meth:`maintain_minor`, run under the caller's maintenance lease:
        :func:`~yadex_spark.streaming.ingest_core.maintain_table` per
        table (rewrite, vacuum, manifest fold — the ingest members' step
        too), then the staging GC and the lineage fold."""
        per_table = {
            t: maintain_table(self.table(t), version_key, rewrite, vacuum, retain_last,
                              vacuum_unchanged)
            for t in self.tables()
        }
        staging_removed = self.vacuum_staging(retain_last=retain_last) if vacuum else []
        return {
            "tables": per_table,
            "lineage": self.compact_lineage(),
            "staging_dirs_removed": len(staging_removed),
        }

    def purge_keys(self, keys: list) -> dict:
        """GDPR right-to-be-forgotten across the WHOLE lake: hard-erase
        the keys from every table (compact-with-exclusion + vacuum,
        :meth:`LakeTable.purge_keys`) AND scrub them from the
        dead-letter queue — a quarantined event carries the same
        payload/PII as an applied one, so an erase that skipped the DLQ
        would not be an erase.  Runs under the maintenance lease and,
        like all maintenance, must not race an applying stream.

        Each DLQ epoch dir is rewritten in place only when it actually
        contains a purged key (footer-bounds would prune here too, but
        the DLQ is rare-path tiny by construction — a per-dir filtered
        rewrite is already O(DLQ), not O(lake))."""
        t0 = time.monotonic()
        keys = list(keys)
        with self._maintenance_lease():
            per_table = {
                t: {"purged_version": self.table(t).purge_keys(keys)}
                for t in self.tables()
            }
            staging_removed = self.vacuum_staging()
            dlq_rewritten = 0
            dlq_root = os.path.join(self.lake_dir, "_dlq", self._scope())
            if os.path.isdir(dlq_root):
                for name in sorted(os.listdir(dlq_root)):
                    d = os.path.join(dlq_root, name)
                    if not os.path.isdir(d):
                        continue
                    df = self.spark.read.parquet(d)
                    hits = df.where(F.col("doc_id").isin(keys)).limit(1).count()
                    if not hits:
                        continue
                    # write-aside then swap: overwriting the dir a lazy
                    # plan still reads would race the delete (cache
                    # eviction recomputes from deleted files)
                    tmp = f"{d}.rewrite-{os.getpid()}"
                    df.where(
                        ~F.coalesce(F.col("doc_id").isin(keys), F.lit(False))
                    ).write.mode("overwrite").parquet(tmp)
                    import shutil

                    shutil.rmtree(d)
                    os.rename(tmp, d)
                    dlq_rewritten += 1
        return {
            "tables": per_table,
            "dlq_dirs_rewritten": dlq_rewritten,
            "staging_dirs_removed": len(staging_removed),
            "ms": round((time.monotonic() - t0) * 1000, 1),
        }

    def vacuum_staging(self, retain_last: int = 0) -> list[str]:
        """Remove staging attempt dirs no committed manifest references
        (superseded replay attempts and crash leftovers).  Attempt dirs
        are never rewritten in place — this is the only place they are
        deleted, and only when provably unreachable."""
        import shutil

        staging_root = os.path.join(self.lake_dir, "_staging")
        if not os.path.isdir(staging_root):
            return []
        # realpath both sides: manifests may reference staging via a
        # different spelling of the lake path (relative vs absolute,
        # or through a symlink) — a string mismatch here would classify
        # LIVE committed data as garbage and delete it
        referenced = set()
        for t in self.tables():
            # the keep-set of LakeTable.vacuum(retain_last) itself, tags
            # included: manifests outside it stay as history but their
            # staging data is garbage
            tbl = self.table(t)
            for d in tbl._retained_dirs(tbl.snapshots(), retain_last):
                referenced.add(os.path.realpath(os.path.join(tbl.path, d)))
        removed = []
        for scope in sorted(os.listdir(staging_root)):
            sdir = os.path.join(staging_root, scope)
            if not os.path.isdir(sdir):
                continue
            for attempt in sorted(os.listdir(sdir)):
                adir = os.path.realpath(os.path.join(sdir, attempt))
                if not os.path.isdir(adir):
                    continue
                live = any(r == adir or r.startswith(adir + os.sep) for r in referenced)
                if not live:
                    shutil.rmtree(adir)
                    removed.append(adir)
        return removed

    # ---------- run ----------

    def stream(self) -> DataFrame:
        return (
            self.spark.readStream.schema(oplog_read_schema(self.evolved))
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.oplog_dir)
        )

    def run_available_now(self, timeout_s: int = 600) -> None:
        """Drain everything currently in the feed, then stop."""
        drain_available_now(self.stream(), self.apply_batch, self.checkpoint_dir, timeout_s)
