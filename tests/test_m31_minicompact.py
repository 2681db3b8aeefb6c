"""M31 — minor compaction (compact_minor) + pruned point lookup.

The LSM L0→L1 tier the sustained-ingest story was missing: under
trigger-bounded CDC the active chain grows one small delta per epoch,
so read amplification grows linearly between O(table) full compactions.
``compact_minor`` folds the TRAILING run of deltas into one
range-clustered snapshot at O(those deltas) cost.  Laws pinned here:

- state equality: read() / lookup() / table_changes consumers see the
  exact same live state before and after (incl. tombstones, drop
  barriers, schema evolution, late out-of-order replays);
- only the trailing run merges — deltas behind a clone append are
  untouched (the rank-forward-only correctness argument);
- exactly-once survives vacuum: subsumed manifests remain, so replayed
  epochs stay no-ops after their files are gone;
- replication: a lagging physical replica converges across a
  minicompact+vacuum boundary (merged files carry the skipped deltas'
  collapsed rows); a fully-caught-up replica gets a data-less marker,
  never duplicate bytes;
- lookup: LWW-correct point reads under updates/deletes with zone-map
  file pruning measured via prune_stats.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time

import pytest

from yadex_spark.lake.replicate import LakeReplicator
from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.collapse import collapse

TS = datetime.datetime(2026, 1, 1)
OPLOG_DDL = (
    "op_seq long, op_ts timestamp, op string, table string, doc_id string, "
    "after struct<tokens:array<int>,n_tok:int,source:string>"
)


def _commit(spark, tbl, rows, batch_id):
    return tbl.commit_delta(
        collapse(spark.createDataFrame(rows, OPLOG_DDL)).drop("table"),
        batch_id=batch_id,
    )


def _state(tbl, version=None):
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in tbl.read(version=version).collect()
    }


@pytest.fixture(scope="module")
def _chained_lake(spark, tmp_path_factory):
    """append (clone) + three deltas with updates, deletes, and a key
    whose terminal op differs per delta — the steady-state chain.  Built
    once per module; :func:`chained` hands each test its own copy (the
    lake stores table-relative paths only)."""
    tbl = LakeTable(spark, str(tmp_path_factory.mktemp("chained") / "lake"))
    clone = spark.createDataFrame(
        [("a", [1], 1, "s0"), ("b", [2], 1, "s0"), ("c", [3], 1, "s0")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    tbl.commit_append(clone, batch_id="clone")
    _commit(spark, tbl, [
        (10, TS, "update", "t", "a", ([1, 1], 2, "s1")),
        (11, TS, "insert", "t", "d", ([4], 1, "s1")),
    ], "E1")
    _commit(spark, tbl, [
        (12, TS, "delete", "t", "b", None),
        (13, TS, "update", "t", "d", ([4, 4], 2, "s2")),
    ], "E2")
    _commit(spark, tbl, [
        (14, TS, "insert", "t", "e", ([5], 1, "s3")),
        (15, TS, "update", "t", "a", ([9], 1, "s3")),
    ], "E3")
    return tbl.path


@pytest.fixture()
def chained(spark, tmp_path, _chained_lake):
    path = str(tmp_path / "lake")
    shutil.copytree(_chained_lake, path)
    return LakeTable(spark, path)


def test_minicompact_state_equality_and_chain_shrink(chained):
    before = _state(chained)
    pre_active, _ = chained._active_chain()
    v = chained.compact_minor()
    assert v is not None
    assert _state(chained) == before
    post_active, _ = chained._active_chain()
    # append + one merged snapshot replace append + 3 deltas
    assert len(post_active) == len(pre_active) - 2
    assert post_active[-1].action == "minicompact"
    assert sorted(post_active[-1].subsumes) == [
        s.version for s in pre_active if s.action == "delta"
    ]


def test_minicompact_below_min_deltas_is_noop(spark, tmp_path):
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [(1, TS, "insert", "t", "a", ([1], 1, "s"))], "A")
    assert tbl.compact_minor(min_deltas=2) is None
    assert tbl.compact_minor(min_deltas=1) is not None


def test_minicompact_merges_trailing_run_only(spark, tmp_path):
    """A clone append mid-chain fences the merge: deltas before it are
    not part of the trailing run and stay active untouched."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [(1, TS, "insert", "t", "a", ([1], 1, "s"))], "A")
    clone = spark.createDataFrame(
        [("z", [0], 1, "clone")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    tbl.commit_append(clone, batch_id="clone", as_of_seq=1)
    v_d2 = _commit(spark, tbl, [(2, TS, "insert", "t", "b", ([2], 1, "s"))], "B")
    v_d3 = _commit(spark, tbl, [(3, TS, "update", "t", "b", ([2, 2], 2, "s"))], "C")
    before = _state(tbl)
    v = tbl.compact_minor()
    assert v is not None
    active, _ = tbl._active_chain()
    mini = active[-1]
    assert sorted(mini.subsumes) == [v_d2, v_d3]
    # the pre-append delta and the append are both still active
    assert [s.action for s in active] == ["delta", "append", "minicompact"]
    assert _state(tbl) == before


def test_minicompact_time_travel_vacuum_and_fsck(chained):
    before = _state(chained)
    active, _ = chained._active_chain()
    v_mid_delta = active[2].version  # clone + first two deltas
    mid_state = _state(chained, version=v_mid_delta)
    chained.compact_minor()
    # pre-vacuum: time travel below the minicompact still sees the
    # original deltas (the version filter runs before subsumption)
    assert _state(chained, version=v_mid_delta) == mid_state
    removed = chained.vacuum()
    assert len(removed) == 3  # the three subsumed delta dirs
    assert _state(chained) == before
    report = chained.fsck()
    assert report["errors"] == [] and report["orphans"] == []


def test_minicompact_exactly_once_survives_vacuum(spark, chained):
    chained.compact_minor()
    chained.vacuum()
    # replaying a merged epoch after its files are GONE must be a no-op:
    # the subsumed manifest still holds the batch_id
    replay = _commit(spark, chained, [
        (12, TS, "delete", "t", "b", None),
        (13, TS, "update", "t", "d", ([4, 4], 2, "s2")),
    ], "E2")
    assert replay is None
    assert "b" not in _state(chained)


def test_minicompact_preserves_drop_barrier(spark, tmp_path):
    """Tombstone-free barrier law: rows below a seq-scoped truncate stay
    dead after the deltas around the barrier are merged, and a LATE
    pre-barrier epoch arriving after the minicompact cannot resurrect."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [(1, TS, "insert", "t", "old", ([1], 1, "s"))], "A")
    tbl.commit_truncate(batch_id="barrier", trunc_seq=5)
    _commit(spark, tbl, [(6, TS, "insert", "t", "new", ([2], 1, "s"))], "B")
    assert set(_state(tbl)) == {"new"}
    assert tbl.compact_minor() is not None
    assert set(_state(tbl)) == {"new"}
    # late out-of-order pre-barrier epoch AFTER the merge
    _commit(spark, tbl, [(2, TS, "insert", "t", "ghost", ([9], 1, "s"))], "LATE")
    assert set(_state(tbl)) == {"new"}


def test_minicompact_schema_evolution_union(spark, tmp_path):
    wide_ddl = (
        "op_seq long, op_ts timestamp, op string, table string, doc_id string, "
        "after struct<tokens:array<int>,n_tok:int,source:string,lang:string>"
    )
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [(1, TS, "insert", "t", "a", ([1], 1, "s"))], "A")
    tbl.commit_delta(
        collapse(spark.createDataFrame(
            [(2, TS, "insert", "t", "b", ([2], 1, "s", "en"))], wide_ddl
        )).drop("table"),
        batch_id="B",
    )
    before = {r["doc_id"]: r.asDict() for r in tbl.read().collect()}
    assert before["b"]["lang"] == "en" and before["a"]["lang"] is None
    tbl.compact_minor()
    after = {r["doc_id"]: r.asDict() for r in tbl.read().collect()}
    assert after == before


def test_minicompact_change_feed_fallback(chained):
    v_before = chained.latest_version()
    pre_live = set(_state(chained))
    v_mini = chained.compact_minor()
    _commit(
        chained.spark, chained,
        [(20, TS, "insert", "t", "f", ([6], 1, "s4"))], "E4",
    )
    # window spanning the minicompact: value-diff fallback — only the
    # genuinely-new key appears (merged rewrites are not changes)
    ch = {r["doc_id"]: r["change_type"]
          for r in chained.table_changes(v_before).collect()}
    assert ch == {"f": "insert"}
    # window strictly after it: normal per-commit attribution
    ch2 = chained.table_changes(v_mini).collect()
    assert {r["doc_id"] for r in ch2} == {"f"}
    assert all(r["change_type"] == "insert" for r in ch2)
    assert pre_live <= set(_state(chained))


# ---------- replication across a minicompact ----------


def test_replicate_lagging_target_across_minicompact_vacuum(spark, chained, tmp_path):
    target = LakeTable(spark, str(tmp_path / "replica"))
    rep = LakeReplicator(chained, target, mode="physical")
    # replicate only the clone + first delta, then the source merges
    # everything and vacuums the originals
    active, _ = chained._active_chain()
    rep.sync(v_to=active[1].version)
    chained.compact_minor()
    chained.vacuum()  # subsumed delta files are GONE at the source
    rep.sync()
    assert _state(target) == _state(chained)
    # replay is a no-op (bookmark = batch_id set)
    assert rep.sync() == 0


def test_replicate_caught_up_target_gets_marker_not_bytes(spark, chained, tmp_path):
    target = LakeTable(spark, str(tmp_path / "replica"))
    rep = LakeReplicator(chained, target, mode="physical")
    rep.sync()  # fully caught up, pre-merge
    n_dirs_before = len([s for s in target.snapshots() if s.files_dir])
    chained.compact_minor()
    assert rep.sync() == 1
    snaps = target.snapshots()
    assert snaps[-1].action == "minicompact" and snaps[-1].files_dir is None
    # no data bytes recopied; state identical
    assert len([s for s in target.snapshots() if s.files_dir]) == n_dirs_before
    assert _state(target) == _state(chained)
    # the marker must not poison the target's own change feed windows
    ch = target.table_changes(snaps[-1].version - 1).collect()
    assert ch == []


def test_replicate_fresh_target_after_minicompact_vacuum(spark, chained, tmp_path):
    chained.compact_minor()
    chained.vacuum()
    target = LakeTable(spark, str(tmp_path / "replica"))
    rep = LakeReplicator(chained, target, mode="physical")
    rep.sync()
    assert _state(target) == _state(chained)


# ---------- point lookup ----------


def test_lookup_equals_filtered_read(chained):
    probes = ["a", "b", "d", "nope"]  # updated / deleted / updated / absent
    got = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
           for r in chained.lookup(probes).collect()}
    want = {k: v for k, v in _state(chained).items() if k in probes}
    assert got == want
    assert "b" not in got and "nope" not in got


def test_lookup_time_travel(chained):
    active, _ = chained._active_chain()
    v_mid = active[1].version  # after E1: b still alive (deleted in E2)
    got = {r["doc_id"] for r in chained.lookup(["b"], version=v_mid).collect()}
    assert got == {"b"}
    assert chained.lookup(["b"]).count() == 0


def test_lookup_prunes_files_after_minicompact(spark, tmp_path):
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    rows = [(i, TS, "insert", "t", f"doc{i:05d}", ([i], 1, "s"))
            for i in range(400)]
    for j in range(4):
        _commit(spark, tbl, rows[j * 100:(j + 1) * 100], f"E{j}")
    tbl.compact_minor(n_buckets=8)
    tbl.vacuum()
    stats: dict = {}
    got = {r["doc_id"] for r in tbl.lookup(["doc00007"], prune_stats=stats).collect()}
    assert got == {"doc00007"}
    # range-clustered output: one probe touches O(1) of the 8 files
    assert stats["files_total"] >= 8
    assert stats["files_read"] < stats["files_total"]
    assert stats["pruned"] == stats["files_total"] - stats["files_read"]


def test_lookup_after_minicompact_matches_pre_merge(chained):
    probes = ["a", "c", "d", "e"]
    before = {r["doc_id"]: r["tokens"] for r in chained.lookup(probes).collect()}
    chained.compact_minor()
    chained.vacuum()
    after = {r["doc_id"]: r["tokens"] for r in chained.lookup(probes).collect()}
    assert after == before


def test_pipeline_maintain_minor(spark, tmp_path):
    """Lake-level cadence wrapper: every table minicompacted under the
    maintenance lease, subsumed dirs vacuumed, state preserved."""
    from yadex_spark.streaming.pipeline import CdcPipeline

    lake_dir = str(tmp_path / "lake")
    pipe = CdcPipeline.__new__(CdcPipeline)  # state-free use of maintain_minor
    pipe.spark = spark
    pipe.lake_dir = lake_dir
    pipe.oplog_dir = str(tmp_path / "oplog")
    tbl = LakeTable(spark, os.path.join(lake_dir, "t1"))
    _commit(spark, tbl, [(1, TS, "insert", "t1", "a", ([1], 1, "s"))], "A")
    _commit(spark, tbl, [(2, TS, "update", "t1", "a", ([2], 1, "s"))], "B")
    before = _state(tbl)
    report = pipe.maintain_minor()
    assert report["tables"]["t1"]["minicompacted_version"] is not None
    assert report["tables"]["t1"]["data_dirs_removed"] == 2
    assert _state(LakeTable(spark, os.path.join(lake_dir, "t1"))) == before


def test_minicompact_racing_delta_commit_is_preserved(spark, tmp_path, monkeypatch):
    """A delta committed BETWEEN compact_minor's merge computation and
    its manifest commit (two racing writers, no lease) must stay active:
    the minicompact's subsumes list names only what it actually merged,
    the late delta lands at a lower version, and LWW by globally-unique
    _seq is rank-free across the two — state equals a serial apply."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [(1, TS, "insert", "t", "a", ([1], 1, "s"))], "A")
    _commit(spark, tbl, [(2, TS, "update", "t", "a", ([2], 1, "s"))], "B")

    real_commit = LakeTable._commit_manifest
    fired = {"done": False}

    def inject(self, action, *args, **kw):
        if action == "minicompact" and not fired["done"]:
            fired["done"] = True  # guard: the injected commit recurses here
            _commit(spark, tbl, [
                (3, TS, "update", "t", "a", ([3], 1, "s")),
                (4, TS, "insert", "t", "b", ([9], 1, "s")),
            ], "RACER")
        return real_commit(self, action, *args, **kw)

    monkeypatch.setattr(LakeTable, "_commit_manifest", inject)
    v = tbl.compact_minor()
    monkeypatch.undo()
    assert v is not None and fired["done"]
    active, _ = tbl._active_chain()
    # racer delta (lower version) and the minicompact both active
    assert [s.action for s in active] == ["delta", "minicompact"]
    assert sorted(active[-1].subsumes) == [1, 2]  # only what it merged
    assert _state(tbl) == {"a": ([3], 1, "s"), "b": ([9], 1, "s")}
    # and a later minicompact folds the survivors too
    tbl.compact_minor(min_deltas=1)
    tbl.vacuum()
    assert _state(tbl) == {"a": ([3], 1, "s"), "b": ([9], 1, "s")}


def test_logical_replica_rebootstraps_across_vacuumed_rewrite(spark, chained, tmp_path):
    """Logical mode across a minicompact+vacuum boundary: the change
    feed's value-diff fallback cannot read the vacuumed pre-version, so
    the sync re-bootstraps by diffing source-live against TARGET-live —
    converging with deletes honored and the bookmark advancing."""
    target = LakeTable(spark, str(tmp_path / "replica"))
    rep = LakeReplicator(chained, target, mode="logical")
    active, _ = chained._active_chain()
    rep.sync(v_to=active[1].version)  # replica = clone + E1 ("b" alive)
    assert "b" in _state(target)
    chained.compact_minor()
    chained.vacuum()  # E1/E2/E3 files gone at the source
    assert rep.sync() == 1
    assert _state(target) == _state(chained)
    assert "b" not in _state(target)  # the delete crossed the refresh
    assert rep.sync() == 0  # bookmark advanced, replay no-op


def test_logical_replica_rebootstraps_across_full_compact_vacuum(spark, chained, tmp_path):
    """Same hole existed for full compact(): pinned here too."""
    target = LakeTable(spark, str(tmp_path / "replica"))
    rep = LakeReplicator(chained, target, mode="logical")
    active, _ = chained._active_chain()
    rep.sync(v_to=active[2].version)
    chained.compact()
    chained.vacuum()
    assert rep.sync() == 1
    assert _state(target) == _state(chained)
    assert rep.sync() == 0


def test_incremental_group_stats_across_minicompact_window(spark, tmp_path):
    """The materialized-aggregate consumer folds correctly across a
    window containing a minicompact: the change feed serves the
    value-diff fallback there, and the delta rule still reconciles
    base(vA) + deltas == full recompute (merged rewrites contribute no
    spurious deltas)."""
    from yadex_spark.lake.cdf_views import group_stats, incremental_group_stats

    tbl = LakeTable(spark, str(tmp_path / "lake"))
    v_a = _commit(spark, tbl, [
        (1, TS, "insert", "t", "a", ([10], 1, "s1")),
        (2, TS, "insert", "t", "b", ([20], 1, "s2")),
    ], "A")
    measures = {"n_docs": "1", "sum_tok0": "element_at(tokens, 1)"}
    base = group_stats(tbl.read(version=v_a), "source", measures)
    _commit(spark, tbl, [
        (3, TS, "update", "t", "a", ([11], 1, "s1")),
        (4, TS, "insert", "t", "c", ([30], 1, "s2")),
    ], "B")
    _commit(spark, tbl, [
        (5, TS, "delete", "t", "b", None),
    ], "C")
    v_mini = tbl.compact_minor()  # subsumes A, B, C -> fallback window
    inc = incremental_group_stats(tbl, base, v_a, "source", measures, v_mini)
    full = group_stats(tbl.read(), "source", measures)
    as_map = lambda df: {r["source"]: (r["n_docs"], r["sum_tok0"]) for r in df.collect()}
    assert as_map(inc) == as_map(full) == {"s1": (1, 11), "s2": (1, 30)}


def test_fsck_flags_corrupt_subsumes(spark, chained, tmp_path):
    """fsck validates minicompact subsumption integrity: a healthy merge
    audits clean; a hand-corrupted forward or dangling subsumes entry is
    reported (the active chain would silently mis-resolve on it)."""
    import json as _json

    v = chained.compact_minor()
    assert chained.fsck()["errors"] == []
    meta = os.path.join(chained.path, "_meta", f"v{v:08d}.json")
    m = _json.load(open(meta))
    m["subsumes"] = [v + 5, 0]  # forward + dangling (v0 never exists)
    _json.dump(m, open(meta, "w"))
    errs = chained.fsck()["errors"]
    assert any("forward/self" in e for e in errs)
    assert any("missing version" in e for e in errs)


def test_vacuum_retention_window_keeps_time_travel(chained):
    """vacuum(retain_last=N): time travel stays valid for the last N
    versions across a minicompact (the Iceberg expire-snapshots
    retention window); older versions lose their files as before."""
    active, _ = chained._active_chain()
    v_e1, v_e2, v_e3 = active[1].version, active[2].version, active[3].version
    s_e2, s_e3 = _state(chained, version=v_e2), _state(chained, version=v_e3)
    v_mini = chained.compact_minor()  # version v_e3 + 1
    # retain the last 2 versions (v_mini and v_e3): E3's delta must
    # survive; E1's and E2's may go — but E2's chain includes E1's
    # files, so retaining v_e3 keeps everything E3's CHAIN needs
    removed = chained.vacuum(retain_last=1)
    assert removed == []  # chain at v_e3 includes clone + E1 + E2 + E3
    # tighter window: only current state retained -> all deltas go
    removed = chained.vacuum()
    assert len(removed) == 3
    assert _state(chained) == {k: v for k, v in s_e3.items()}  # live ok


def test_vacuum_retention_after_full_compact(spark, tmp_path):
    """After a FULL compact, retain_last keeps the pre-compact chain
    readable for exactly the window, then a bare vacuum expires it."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [(1, TS, "insert", "t", "a", ([1], 1, "s"))], "A")
    v_b = _commit(spark, tbl, [(2, TS, "insert", "t", "b", ([2], 1, "s"))], "B")
    s_b = _state(tbl, version=v_b)
    tbl.compact()
    assert tbl.vacuum(retain_last=1) == []      # v_b's chain retained
    assert _state(tbl, version=v_b) == s_b      # time travel still works
    removed = tbl.vacuum()                      # expire the window
    assert len(removed) == 2
    assert _state(tbl) == s_b                   # live state unaffected


def test_retention_window_covers_staging_dirs(spark, tmp_path):
    """Regression (found by driving maintain_minor(retain_last=1)): the
    retention window must extend to STAGING vacuum too — pipeline
    deltas live in staging attempt dirs, and a staging GC keyed only on
    the current chain deleted data the retained time-travel versions
    reference."""
    import pyspark.sql.functions as F

    from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
    from yadex_spark.streaming.pipeline import CdcPipeline

    feed = str(tmp_path / "oplog")
    write_oplog_chunks(gen_oplog(spark, 3000, 400, seed=13), feed,
                       n_chunks=3, bounds=(0, 2999))
    pipe = CdcPipeline(spark, feed, str(tmp_path / "lake"),
                       str(tmp_path / "ckpt"), max_files_per_trigger=1)
    pipe.run_available_now(timeout_s=600)
    tbl = pipe.table("seqs")
    v_pre = tbl.latest_version()
    pre = {r["doc_id"]: r["n_tok"] for r in tbl.read(version=v_pre).collect()}

    rep = pipe.maintain_minor(retain_last=1)
    assert rep["tables"]["seqs"]["data_dirs_removed"] == 0
    assert rep["staging_dirs_removed"] == 0
    # time travel inside the window still resolves the staging files
    assert {r["doc_id"]: r["n_tok"]
            for r in tbl.read(version=v_pre).collect()} == pre
    # expiring the window reclaims lake AND staging dirs
    assert len(tbl.vacuum()) > 0
    assert len(pipe.vacuum_staging()) > 0
    assert tbl.fsck()["errors"] == []


def test_compaction_output_scales_with_bytes(spark, tmp_path):
    """Target-file-size sizing (Iceberg write.target-file-size-bytes):
    small tables keep the shuffle-partition floor; when input bytes
    exceed the target, the output file count grows so no file exceeds
    ~target size — pinned by forcing a tiny target."""
    from yadex_spark.lake.table import _parquet_files

    tbl = LakeTable(spark, str(tmp_path / "lake"))
    rows = [(i, TS, "insert", "t", f"doc{i:05d}", (list(range(64)), 64, "s"))
            for i in range(2000)]
    _commit(spark, tbl, rows[:1000], "A")
    _commit(spark, tbl, rows[1000:], "B")
    active, _ = tbl._active_chain()
    n_bytes = tbl._chain_bytes(active)
    assert n_bytes > 10_000  # parquet compresses the fixture hard
    # tiny target -> byte-driven count dominates the floor
    tbl.compact(target_file_bytes=n_bytes // 20)
    active, _ = tbl._active_chain()
    files = _parquet_files(os.path.join(tbl.path, active[-1].files_dir))
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(files) > floor
    # every output file is within ~2x of the target (range partitioner
    # sampling makes exact equality impossible)
    target = n_bytes // 20
    assert all(os.path.getsize(f) < 4 * target for f in files)
    # default target (128 MB): tiny table -> floor behavior unchanged
    tbl2 = LakeTable(spark, str(tmp_path / "lake2"))
    _commit(spark, tbl2, rows[:100], "A")
    _commit(spark, tbl2, rows[100:200], "B")
    tbl2.compact()
    active2, _ = tbl2._active_chain()
    files2 = _parquet_files(os.path.join(tbl2.path, active2[-1].files_dir))
    assert len(files2) == floor


def test_meta_checkpoint_folds_manifests(spark, chained, tmp_path):
    """Metadata checkpoint (compact_meta): snapshots()/batch-id
    idempotence/fsck/time-travel answer identically from the folded
    form, new commits continue the version sequence, and replication
    bookmarks derived from batch ids survive the fold."""
    import json as _json

    snaps_before = chained.snapshots()
    ids_before = chained.committed_batch_ids()
    state_before = _state(chained)
    rep = chained.compact_meta(keep_recent=1)
    assert rep["folded"] == 3 and rep["checkpoint"] is not None
    meta = os.path.join(chained.path, "_meta")
    names = sorted(os.listdir(meta))
    assert sum(n.startswith("checkpoint-v") for n in names) == 1
    assert sum(n.startswith("v") and n.endswith(".json") for n in names) == 1

    assert chained.snapshots() == snaps_before
    assert chained.committed_batch_ids() == ids_before
    assert _state(chained) == state_before
    assert chained.fsck()["errors"] == []
    # replayed epoch whose manifest was folded: still a no-op
    assert _commit(chained.spark, chained,
                   [(10, TS, "update", "t", "a", ([1, 1], 2, "s1"))], "E1") is None
    # new commits continue the version chain past the checkpoint
    v = _commit(chained.spark, chained,
                [(20, TS, "insert", "t", "f", ([6], 1, "s4"))], "E4")
    assert v == snaps_before[-1].version + 1
    assert chained.fsck()["errors"] == []
    # fold again (idempotent-ish: folds the no-longer-recent tail)
    rep2 = chained.compact_meta(keep_recent=0)
    assert rep2["folded"] >= 1
    assert chained.snapshots()[-1].version == v
    assert "f" in _state(chained)

    # gap detection still works from the folded form: remove a TAIL file
    v2 = _commit(chained.spark, chained,
                 [(21, TS, "insert", "t", "g", ([7], 1, "s4"))], "E5")
    v3 = _commit(chained.spark, chained,
                 [(22, TS, "insert", "t", "h", ([8], 1, "s4"))], "E6")
    os.unlink(os.path.join(meta, f"v{v2:08d}.json"))
    errs = chained.fsck()["errors"]
    assert any("gap" in e and str(v2) in e for e in errs)


def test_meta_checkpoint_with_replication_and_minicompact(spark, chained, tmp_path):
    """The fold composes with the rest of the manifest algebra: source
    minicompacts, folds its metadata, vacuums — a fresh physical
    replica still bootstraps, and a second sync is a no-op."""
    chained.compact_minor()
    chained.compact_meta(keep_recent=0)
    chained.vacuum()
    target = LakeTable(spark, str(tmp_path / "replica"))
    rep = LakeReplicator(chained, target, mode="physical")
    assert rep.sync() > 0
    assert _state(target) == _state(chained)
    assert rep.sync() == 0


def test_ordering_capacity_checked_before_any_job(spark, chained, monkeypatch):
    """Every LWW read packs ``_seq << ORD_VERSION_BITS | rank`` through
    one shared scan, whose capacity check runs before any file is read:
    with the rank field shrunk to 1 bit, the clone + 3 deltas chain
    overflows it in read(), lookup(), compact_minor() and
    table_changes(0), and none of them starts a Spark job."""
    monkeypatch.setattr(LakeTable, "ORD_VERSION_BITS", 1)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("ord-cap", "ordering capacity check")
        for call in (chained.read, lambda: chained.lookup(["a"]),
                     chained.compact_minor, lambda: chained.table_changes(0)):
            with pytest.raises(RuntimeError, match="tiebreak capacity"):
                call()
        # the listener bus is FIFO: once a later job is visible, any job
        # the calls started is visible too
        sc.setJobGroup("ord-cap-sentinel", "sentinel")
        spark.range(1).count()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup("ord-cap-sentinel") and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("ord-cap-sentinel")
        assert tracker.getJobIdsForGroup("ord-cap") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [s.action for s in chained.snapshots()] == ["append", "delta", "delta", "delta"]
