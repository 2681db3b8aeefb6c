"""LakeReplicator — cascade lake→lake sync (downstream of the pipeline).

The reference's entire purpose is source→target sync with resumable
bookmarks (/root/reference/README.md:3-42, msync/bookmark.go); this is
the same engine one level downstream: the LAKE is now the source, its
commit log is the oplog, and a second lake is the target.  A user who
chains yadex instances (A→B, B→C) gets the same cascade here without
re-reading the original feed.  Two modes:

- **physical** — replay the source's snapshot log file-by-file
  (the Iceberg snapshot-sync shape): byte-faithful, preserves
  tombstones, drop barriers, compaction boundaries and schema
  evolution; cost O(new data) per sync, never O(table).
- **logical** — consume :meth:`LakeTable.table_changes` and apply the
  change rows as one collapsed delta (the Delta-CDF consumer shape):
  what an external system that only speaks the change feed would run.
  The target converges to the source's LIVE state; internal history
  (tombstones, barrier positions) is not preserved.

Exactly-once with NO extra state: the target's committed ``batch_id``
set IS the bookmark (``repl:<mode>:...:v<version>``) — the same
idempotence rule the pipeline uses for epochs
(``LakeTable._commit_manifest``), so a crash anywhere mid-sync resumes
at the exact snapshot it died on and a replayed sync is a no-op.  This
fixes, at the cascade level, the reference's bookmark-advance-on-error
leak (msync/bulkwrite.go:96-110): here the data commit and the bookmark
are the SAME atomic manifest.

Scale: each physical step is a column-complete scan of one source
snapshot's files (O(batch), embarrassingly parallel) and each logical
step is O(changed keys) via the change feed's key-filtered pre-state
read — at 10^10 events neither mode ever rewrites or re-reads the full
target (the reference's compare-dbs does exactly that full re-read).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .table import LakeTable, Snapshot, live_snapshots


class LakeReplicator:
    """Sync ``source`` into ``target`` (a lake dedicated to this
    replicator: like the reference's sync target, it must receive
    writes only through sync)."""

    def __init__(self, source: LakeTable, target: LakeTable,
                 mode: str = "physical"):
        if mode not in ("physical", "logical"):
            raise ValueError(f"mode must be physical|logical, got {mode!r}")
        self.source = source
        self.target = target
        self.mode = mode

    # ---------- bookmark (derived, never stored separately) ----------

    _PREFIX = "repl"

    def _batch_id(self, v_from: int, v_to: int) -> str:
        return f"{self._PREFIX}:{self.mode}:{v_from}:v{v_to:08d}"

    def last_replicated(self) -> int:
        """Highest source version the target has committed (0 if none).
        Parsed from the target's batch_id set — the manifest IS the
        bookmark, so this is exactly-once by construction."""
        best = 0
        for bid in self.target.committed_batch_ids():
            parts = bid.split(":")
            if len(parts) == 4 and parts[0] == self._PREFIX and parts[1] == self.mode:
                best = max(best, int(parts[3][1:]))
        return best

    # ---------- sync ----------

    def sync(self, v_to: int | None = None) -> int:
        """Apply source snapshots up to ``v_to`` (default: latest).
        Returns the number of commits applied to the target (0 = already
        caught up).  Safe to call repeatedly / after a crash."""
        snaps = self.source.snapshots()
        if v_to is None:
            v_to = snaps[-1].version if snaps else 0
        v_from = self.last_replicated()
        if v_to <= v_from:
            return 0
        if self.mode == "physical":
            return self._sync_physical(v_from, [s for s in snaps if s.version <= v_to])
        return self._sync_logical(v_from, v_to)

    def _sync_physical(self, v_from: int, snaps: list[Snapshot]) -> int:
        # replay the source's live chain past the bookmark: snapshots
        # behind the last full truncate / compact may be vacuumed (files
        # gone) and are dead anyway — that boundary snapshot resets the
        # target's chain too.  A source minor compaction (compact_minor)
        # may have replaced — and vacuum deleted — the delta files of
        # the versions it subsumes: never replay a subsumed delta, its
        # collapsed rows travel inside the minicompact instead
        return sum(self._apply_snapshot(s, v_from)
                   for s in live_snapshots(snaps) if s.version > v_from)

    def _apply_snapshot(self, s: Snapshot, v_from: int = 0) -> int:
        """Replay ONE source snapshot onto the target, preserving its
        action semantics.  Idempotent by batch_id: ``sync`` only replays
        versions past the bookmark it parsed (no such id was committed
        then), and the claim re-checks the id under O_EXCL against a
        racing sync — so the target log is parsed once per snapshot, in
        the claim.  A crash between the data write and the manifest
        leaves only an orphan dir that ``fsck(repair=True)`` collects.

        A source **minicompact** replays in one of two forms:

        - all its subsumed deltas were already replicated (≤ ``v_from``)
          → a data-less bookmark marker (the target keeps its own copies
          of those deltas; re-copying the merged bytes would only
          duplicate them) — the marker's ``subsumes`` is dropped because
          source version numbers don't name target versions;
        - it subsumes deltas the target never received (skipped above,
          possibly already vacuumed at the source) → replay WITH its
          files: the merged dir carries those deltas' collapsed terminal
          rows, so the target converges to the same live state (history
          granularity collapses — the documented minicompact trade).  If
          the run straddles ``v_from``, the ≤v_from part arrives twice;
          duplicate rows carry identical (_seq, payload), so per-key
          last-writer-wins picks one deterministically — state-safe,
          briefly storage-duplicated until the target's own compaction."""
        bid = self._batch_id(s.version - 1, s.version)
        if s.files_dir is None:  # truncate (full wipe or seq barrier)
            claimed = self.target._commit_manifest(
                s.action, bid, s.schema_ddl, 0, None, trunc_seq=s.trunc_seq
            )
        elif (s.action == "minicompact" and s.subsumes
                and all(v <= v_from for v in s.subsumes)):
            claimed = self.target._commit_manifest(
                "minicompact", bid, s.schema_ddl, 0, None
            )
        else:
            df = self.source.spark.read.parquet(
                os.path.join(self.source.path, s.files_dir)
            )
            claimed = self.target._write_and_claim(
                df, s.action, bid, n_rows=s.n_rows, ddl=s.schema_ddl,
                trunc_seq=s.trunc_seq,
            )
        return int(claimed is not None)  # None: a racing sync took the batch id

    def _sync_logical(self, v_from: int, v_to: int) -> int:
        """One collapsed delta from the change feed.  ``op_seq`` is the
        change's committing source version — monotone across sync
        rounds, so last-writer-wins on the target replays source order
        even when one key changes in several rounds.

        If the window crosses a rewrite (compact / minicompact /
        truncate) whose pre-version files were already VACUUMED at the
        source, the change feed's value-diff fallback cannot read
        ``v_from`` any more.  A sync-only target IS the source's live
        state at ``v_from`` (the class contract), so the re-bootstrap
        diffs the source's CURRENT state against the TARGET's — the
        Delta-CDF "changes no longer available, refresh the consumer"
        path, at O(one scan of each side) with the same collapsed-delta
        commit and the same idempotent batch id."""
        # past the bookmark by construction; commit_delta re-checks the id
        bid = self._batch_id(v_from, v_to)
        if self._pre_state_vacuumed(v_from):
            from yadex_spark.lake.table import state_diff

            if self._pre_state_vacuumed(v_to):
                raise ValueError(
                    f"source files at v_to={v_to} were vacuumed — "
                    "a partial sync below the last rewrite is "
                    "unserviceable; sync to the latest version"
                )
            ch = state_diff(
                self.target.read(), self.source.read(version=v_to), v_to
            )
        else:
            ch = self.source.table_changes(v_from, v_to)
        payload = [
            c[len("post_"):] for c in ch.columns if c.startswith("post_")
        ]
        collapsed = ch.select(
            "doc_id",
            F.when(
                F.col(LakeTable.CHANGE_TYPE_COL) == "delete", F.lit("delete")
            ).otherwise(F.lit("upsert")).alias("op"),
            F.col(LakeTable.COMMIT_VERSION_COL).cast("long").alias("op_seq"),
            *[F.col(f"post_{c}").alias(c) for c in payload],
        )
        return 1 if self.target.commit_delta(collapsed, batch_id=bid) else 0

    def _pre_state_vacuumed(self, v_from: int) -> bool:
        """True iff reading the source AT ``v_from`` would touch a data
        dir that no longer exists (vacuum reclaimed history the change
        feed's rewrite fallback needs).  Driver-side stat only."""
        return bool(self.source._vacuumed(self.source._active_chain(v_from)[0]))

    # ---------- verification hook ----------

    def verify(self) -> bool:
        """True iff target live state equals source live state at the
        replicated version — the cascade analogue of the reference's
        compare-dbs, but O(keys) via a single full-outer null-safe
        compare instead of a client-side double read."""
        v = self.last_replicated()
        a = self.source.read(version=v)
        b = self.target.read()
        cols = sorted(set(a.columns) | set(b.columns))
        aa = a.select(*[
            (F.col(c) if c in a.columns else F.lit(None)).alias(c) for c in cols
        ])
        bb = b.select(*[
            (F.col(c) if c in b.columns else F.lit(None)).alias(c) for c in cols
        ])
        return aa.exceptAll(bb).isEmpty() and bb.exceptAll(aa).isEmpty()
