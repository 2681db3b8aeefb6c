"""M1 — streaming + exactly-once (SURVEY.md §7.2).

- full streamed replay == oracle (TestSync analogue,
  /root/reference/msync/msync_test.go:72-126)
- resume from checkpoint when new chunks arrive (bookmark resume,
  /root/reference/msync/syncst_test.go:40-94 restart test)
- replayed epoch after a simulated crash (commit log truncated) does
  not double-apply — the fix for the reference's §2.1 leak
- multi-table routing with an excluded collection
  (/root/reference/msync/match_test.go:9-42)
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from yadex_spark.operators.route import Router, RoutePattern
from yadex_spark.oracle import replay, state_to_pdf
from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
from yadex_spark.streaming.pipeline import CdcPipeline
from yadex_spark.verify import assert_equal_state

N_EVENTS = 8_000
N_DOCS = 1_500


def _expected(spark, oplog, table="seqs"):
    pdf = state_to_pdf(replay(oplog.toPandas()), table)
    return spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )


@pytest.fixture()
def feed(spark, tmp_path):
    oplog = gen_oplog(spark, N_EVENTS, N_DOCS, seed=11, drop_at=(3_500,))
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=6)
    return oplog, path


def _pipe(spark, tmp_path, path, **kw) -> CdcPipeline:
    return CdcPipeline(
        spark,
        oplog_dir=path,
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        **kw,
    )


def test_streamed_replay_matches_oracle(spark, tmp_path, feed):
    oplog, path = feed
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    pipe.maintain()  # production shape: maintenance after the drain
    actual = pipe.table("seqs").read()
    assert_equal_state(_expected(spark, oplog), actual)
    # lineage exists and covers the whole offset range
    lin = pipe.lineage()
    lo, hi = lin.agg(F.min("offset_lo"), F.max("offset_hi")).first()
    assert lo == 0 and hi == N_EVENTS - 1


def test_resume_from_checkpoint(spark, tmp_path):
    """Write half the feed, drain, write the rest, drain again with the
    same checkpoint: second run must process only the delta and end
    row-equal to a full replay."""
    oplog = gen_oplog(spark, N_EVENTS, N_DOCS, seed=12)
    path = str(tmp_path / "oplog")
    half = N_EVENTS // 2
    write_oplog_chunks(oplog.where(F.col("op_seq") < half), path, n_chunks=3)

    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    v_after_first = pipe.table("seqs").latest_version()
    assert v_after_first >= 1

    # feed the remainder (later mtime chunks), resume from checkpoint
    span = half // 3 + 1
    for i in range(3):
        chunk = oplog.where(
            (F.col("op_seq") >= half + i * span) & (F.col("op_seq") < half + (i + 1) * span)
        )
        chunk.coalesce(1).write.mode("append").parquet(path)
    pipe2 = _pipe(spark, tmp_path, path)
    pipe2.run_available_now()

    actual = pipe2.table("seqs").read()
    assert_equal_state(_expected(spark, oplog), actual)
    # the resumed run committed new versions (processed the delta)...
    assert pipe2.table("seqs").latest_version() > v_after_first
    # ...and did not reprocess epoch 0 (batch ids unique in manifests)
    ids = [s.batch_id for s in pipe2.table("seqs").snapshots() if s.batch_id]
    assert len(ids) == len(set(ids))


def test_crash_replay_is_exactly_once(spark, tmp_path, feed, forget_commits,
                                     applied_epochs):
    """Simulate dying after the lake commit but before the streaming
    commit log records the epoch: remove the last checkpoint commit
    file and rerun.  The epoch replays; the lake must not double-apply."""
    oplog, path = feed
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    versions_before = pipe.table("seqs").latest_version()

    last = forget_commits(str(tmp_path / "ckpt"))  # forget the last epoch's commit → replay it

    pipe2 = _pipe(spark, tmp_path, path)
    replayed = applied_epochs(pipe2)
    pipe2.run_available_now()
    assert replayed == [last]
    assert pipe2.table("seqs").latest_version() == versions_before  # no new snapshot
    actual = pipe2.table("seqs").read()
    assert_equal_state(_expected(spark, oplog), actual)


def test_multi_table_routing_and_exclude(spark, tmp_path):
    """Three tables; 'skip_me' excluded by the router — its events must
    not create a lake table (match_test.go:9-42 semantics)."""
    oplog = gen_oplog(
        spark, 4_000, 800, seed=13, tables=("seqs", "seqs_rt", "skip_me")
    )
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=2)
    router = Router(patterns=(RoutePattern(r"seqs.*", "ST", exclude=()),))
    pipe = _pipe(spark, tmp_path, path, router=router)
    pipe.run_available_now()

    for t in ("seqs", "seqs_rt"):
        actual = pipe.table(t).read()
        assert_equal_state(_expected(spark, oplog, t), actual)
    assert not os.path.exists(str(tmp_path / "lake" / "skip_me" / "_meta")) or (
        pipe.table("skip_me").latest_version() == 0
    )


def _committed_files(pipe, tables=("seqs",)) -> dict[str, list[str]]:
    """{files_dir: sorted file names} for every committed snapshot."""
    out = {}
    for t in tables:
        tbl = pipe.table(t)
        for s in tbl.snapshots():
            if s.files_dir is None:
                continue
            full = os.path.join(tbl.path, s.files_dir)
            out[full] = sorted(
                f for f in os.listdir(full) if f.endswith(".parquet")
            )
    return out


def test_replay_never_touches_committed_staging(spark, tmp_path, feed, forget_commits,
                                               applied_epochs):
    """The round-2 crash-consistency hole: a replayed epoch must NEVER
    rewrite a staging directory a committed manifest references (a crash
    mid-rewrite would leave committed manifests at missing/partial
    data).  Simulate the worst crash: checkpoint commit AND lineage
    marker gone (epoch re-applies for real), plus a partial attempt dir
    left by a crashed writer.  Every previously committed file must
    survive byte-for-byte in place."""
    oplog, path = feed
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    before = _committed_files(pipe)
    assert before  # staged dirs are committed and on disk

    # last epoch that actually applied data (an epoch with no routed
    # rows writes no lineage marker)
    last_epoch = forget_commits(
        str(tmp_path / "ckpt"), lambda e: os.path.exists(pipe._lineage_path(e))
    )
    # lineage marker gone too -> the replay cannot take the skip path
    os.remove(pipe._lineage_path(last_epoch))
    # a crashed attempt left partial garbage in staging
    orphan = os.path.join(
        str(tmp_path / "lake"), "_staging", pipe._scope(), "e99999999-adeadbeef"
    )
    os.makedirs(os.path.join(orphan, "table=seqs"))
    with open(os.path.join(orphan, "table=seqs", "part-partial.parquet"), "w") as f:
        f.write("partial")

    pipe2 = _pipe(spark, tmp_path, path)
    replayed = applied_epochs(pipe2)
    pipe2.run_available_now()
    assert last_epoch in replayed
    assert os.path.exists(pipe2._lineage_path(last_epoch))  # re-applied for real
    after = _committed_files(pipe2)
    for d, files in before.items():
        assert os.path.isdir(d), f"committed dir deleted by replay: {d}"
        assert sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        ) == files, f"committed dir rewritten by replay: {d}"
    assert_equal_state(_expected(spark, oplog), pipe2.table("seqs").read())
    ids = [s.batch_id for s in pipe2.table("seqs").snapshots() if s.batch_id]
    assert len(ids) == len(set(ids))  # replay did not double-commit
    # maintenance collects the orphan + any superseded attempt dirs,
    # and never a referenced one
    removed = pipe2.vacuum_staging()
    assert orphan in removed
    for d in _committed_files(pipe2):
        assert os.path.isdir(d)
    assert_equal_state(_expected(spark, oplog), pipe2.table("seqs").read())


def test_fully_applied_replay_skips_work(spark, tmp_path, feed, forget_commits,
                                        applied_epochs):
    """Crash between the lineage write (the epoch's last step) and the
    checkpoint commit: the replayed epoch must take the marker short-cut
    — zero Spark work, no new attempt dir, state unchanged."""
    oplog, path = feed
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    versions_before = pipe.table("seqs").latest_version()

    # forget the commit of the last epoch that applied data (an epoch
    # with no routed rows carries no marker — not the replay under test)
    last_epoch = forget_commits(
        str(tmp_path / "ckpt"), lambda e: os.path.exists(pipe._lineage_path(e))
    )

    pipe2 = _pipe(spark, tmp_path, path)
    replayed = applied_epochs(pipe2)
    replayed_epochs = []
    orig = pipe2._apply
    pipe2._apply = lambda spark_, src, eid, t0: (replayed_epochs.append(eid), orig(spark_, src, eid, t0))
    pipe2.run_available_now()
    assert last_epoch in replayed  # the epoch re-entered apply_batch...
    assert last_epoch not in replayed_epochs  # ...and the marker short-circuited it
    assert pipe2.table("seqs").latest_version() == versions_before
    assert_equal_state(_expected(spark, oplog), pipe2.table("seqs").read())


def test_fresh_checkpoint_over_existing_lake(spark, tmp_path, feed):
    """The ADVICE scenario: a NEW checkpoint over an EXISTING lake
    restarts epochs at 0.  Scope-namespaced staging + batch ids mean the
    new run's epoch 0 cannot overwrite or skip the old run's — committed
    data survives and the final state is still oracle-equal (replays are
    LWW-idempotent)."""
    oplog, path = feed
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    before = _committed_files(pipe)

    pipe2 = CdcPipeline(
        spark, oplog_dir=path, lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt-fresh"),
    )
    pipe2.run_available_now()
    for d, files in before.items():
        assert os.path.isdir(d), f"old run's committed dir destroyed: {d}"
        assert sorted(f for f in os.listdir(d) if f.endswith(".parquet")) == files
    assert pipe2._scope() != pipe._scope()
    assert_equal_state(_expected(spark, oplog), pipe2.table("seqs").read())


def test_maintain_compacts_and_collects(spark, tmp_path, feed):
    """Out-of-band maintenance: compaction + vacuum + staging GC keep
    state identical, garbage-collect dead tombstones past the replay
    low-watermark, and remove superseded staging dirs — all with the
    stream stopped (never on the epoch path)."""
    from yadex_spark.lake.table import DELETED_COL

    oplog, path = feed
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    expected = _expected(spark, oplog)
    report = pipe.maintain(min_live_seq=N_EVENTS)  # feed fully applied
    assert report["tables"]["seqs"]["compacted_version"] is not None
    assert_equal_state(expected, pipe.table("seqs").read())
    # all tombstones are below the watermark -> GC'd from the base
    tbl = pipe.table("seqs")
    snaps, kill = tbl._active_chain()
    n_tomb = (
        tbl._materialize(snaps, keep_deleted=True, kill_seq=kill)
        .where(F.col(DELETED_COL))
        .count()
    )
    assert n_tomb == 0
    # staging fully superseded by the compacted base -> collected
    staging_root = os.path.join(str(tmp_path / "lake"), "_staging")
    leftovers = glob.glob(os.path.join(staging_root, "*", "*"))
    assert leftovers == []


def test_maintenance_lease_excludes_concurrent_runs(spark, tmp_path):
    """Two maintenance runs must not interleave (a cron'd --maintain
    racing a manual one could vacuum the other's fresh base): a live
    lease refuses, a stale one (crashed holder) is stolen, and the
    lease is released afterwards."""
    import json as _json
    import time as _time

    import pytest as _pytest

    pipe = CdcPipeline(
        spark, str(tmp_path / "feed"), str(tmp_path / "lake"), str(tmp_path / "ckpt")
    )
    lock = tmp_path / "lake" / "_maintenance.lock"
    os.makedirs(str(tmp_path / "lake"), exist_ok=True)
    with open(lock, "w") as f:
        _json.dump({"pid": 1, "at": _time.time()}, f)
    with _pytest.raises(RuntimeError, match="already running"):
        pipe.maintain(min_live_seq=None)
    # the refused contender must NOT delete the live holder's lock (a
    # retry would otherwise run concurrently with the holder)
    assert os.path.exists(lock)
    with _pytest.raises(RuntimeError, match="already running"):
        pipe.maintain(min_live_seq=None)  # still held -> still refused
    with open(lock, "w") as f:  # stale (>1h old) -> stolen
        _json.dump({"pid": 1, "at": _time.time() - 7200}, f)
    rep = pipe.maintain(min_live_seq=None)
    assert rep["tables"] == {}  # empty lake, but the run completed
    assert not os.path.exists(lock)  # lease released


def test_byte_bounded_feed_drops(spark, tmp_path):
    """B1 byte flush rule (input.go:132-135, 256 KB default): every feed
    drop is one file within the byte budget (+ rounding slack), so
    maxFilesPerTrigger=1 triggers never exceed the budget by more than
    one file — and no event is lost or duplicated."""
    from yadex_spark.sources.genlog import write_oplog_bytes

    n = 20_000
    oplog = gen_oplog(spark, n, 2_000, seed=29)
    path = str(tmp_path / "feed")
    budget = 64_000
    n_files = write_oplog_bytes(oplog, path, chunk_bytes=budget, bounds=(0, n - 1))
    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert len(files) == n_files > 3
    sizes = [os.path.getsize(os.path.join(path, f)) for f in files]
    # every drop within budget + slack (parquet footer/dictionary variance);
    # the final drop may be a small remainder
    assert all(s <= budget * 1.5 for s in sizes)
    assert sorted(sizes)[len(sizes) // 2] >= budget * 0.5  # not degenerate
    back = spark.read.parquet(path)
    assert back.count() == n
    assert back.select("op_seq").distinct().count() == n  # no dup/loss
    # the file source reads a feed in mtime order: drops must be
    # op_seq-disjoint and ascending in that order
    import pyarrow.parquet as pq

    by_mtime = sorted(files, key=lambda f: os.path.getmtime(os.path.join(path, f)))
    spans = []
    for f in by_mtime:
        seqs = pq.read_table(os.path.join(path, f), columns=["op_seq"])["op_seq"].to_pylist()
        spans.append((min(seqs), max(seqs)))
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_rolling_events_per_sec(spark, tmp_path):
    """M1 parity: rolling events/sec over the last N epochs from
    lineage (reference: bytes/sec ring over last 256 bulk writes,
    msync/debug.go:17-31)."""
    from yadex_spark.streaming.pipeline import rolling_events_per_sec

    lake = str(tmp_path / "lake")
    pipe = CdcPipeline(spark, str(tmp_path / "feed"), lake, str(tmp_path / "ckpt"))
    assert rolling_events_per_sec(spark, lake) is None  # no epochs yet
    for e in range(4):
        pipe._write_lineage(e, [dict(
            batch_id=e, table="seqs", partition_id=0,
            offset_lo=e * 100, offset_hi=e * 100 + 99,
            n_insert=60, n_update=30, n_delete=10,
            n_dropped_late=0, apply_ms=500.0, committed_at=1000.0 + e,
        )])
    # 4 epochs x 100 events / 4 x 0.5 s = 200 ev/s
    assert rolling_events_per_sec(spark, lake) == pytest.approx(200.0)
    # window_n=2 sees only the last 2 epochs -> same uniform rate
    assert rolling_events_per_sec(spark, lake, window_n=2) == pytest.approx(200.0)
    # a MULTI-TABLE epoch (two rows sharing committed_at/batch_id with
    # interleaved global offsets and cumulative apply_ms) must count as
    # ONE epoch: 100 events / 0.5 s, not double
    pipe._write_lineage(4, [
        dict(batch_id=4, table="seqs", partition_id=0,
             offset_lo=400, offset_hi=449, n_insert=30, n_update=15, n_delete=5,
             n_dropped_late=0, apply_ms=450.0, committed_at=1004.0),
        dict(batch_id=4, table="aux", partition_id=0,
             offset_lo=450, offset_hi=499, n_insert=30, n_update=15, n_delete=5,
             n_dropped_late=0, apply_ms=500.0, committed_at=1004.0),
    ])
    assert rolling_events_per_sec(spark, lake) == pytest.approx(200.0)
    # LEGACY multi-table epoch: rows written before the one-stamp-per-
    # epoch change carry per-table committed_at — they must STILL group
    # into one epoch (grouping by timestamp split them, summing the
    # shared offset span once per table and overstating the rate)
    pipe._write_lineage(5, [
        dict(batch_id=5, table="seqs", partition_id=0,
             offset_lo=500, offset_hi=549, n_insert=30, n_update=15, n_delete=5,
             n_dropped_late=0, apply_ms=450.0, committed_at=1005.000),
        dict(batch_id=5, table="aux", partition_id=0,
             offset_lo=550, offset_hi=599, n_insert=30, n_update=15, n_delete=5,
             n_dropped_late=0, apply_ms=500.0, committed_at=1005.004),
    ])
    assert rolling_events_per_sec(spark, lake) == pytest.approx(200.0)


def test_multi_table_drop_barriers(spark, tmp_path):
    """B1 rule (c) across tables: drop events land on concrete tables in
    multi-table feeds, and each table's barrier kills only ITS history
    (input.go:113-123 per-collection drop)."""
    oplog = gen_oplog(
        spark, 6_000, 1_000, seed=17, tables=("seqs", "aux"),
        drop_at=(2_500, 2_501, 4_000),
    )
    drops = oplog.where("op = 'drop'").select("table").collect()
    assert {r["table"] for r in drops} == {"seqs", "aux"}  # both tables hit
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=4)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    for t in ("seqs", "aux"):
        assert_equal_state(_expected(spark, oplog, t), pipe.table(t).read())


def test_chunked_feed_files_are_timed_in_seq_order(spark, tmp_path):
    """write_oplog_chunks writes one file per generator partition per
    chunk; the file source reads a feed in mtime order, so the files
    must carry distinct whole-second mtimes in op_seq order, ending
    before now — and a later raw append must still sort after them."""
    import time

    import pyarrow.parquet as pq

    oplog = gen_oplog(spark, 4_000, 500, seed=5, num_partitions=4)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=3, bounds=(0, 3_999))

    def by_mtime():
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        return sorted(files, key=lambda f: os.stat(f).st_mtime_ns)

    files = by_mtime()
    assert len(files) > 3  # several files per chunk
    spans = []
    for f in files:
        seqs = pq.read_table(f, columns=["op_seq"])["op_seq"].to_pylist()
        spans.append((min(seqs), max(seqs)))
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    secs = [os.stat(f).st_mtime_ns // 10**9 for f in files]
    assert all(a < b for a, b in zip(secs, secs[1:]))
    assert secs[-1] < time.time()
    oplog.where("op_seq >= 3900").coalesce(1).write.mode("append").parquet(path)
    assert by_mtime()[: len(files)] == files


def test_chunked_feed_has_no_zero_row_files(spark, tmp_path, applied_epochs):
    """write_oplog_chunks leaves no zero-row file, which would drain as
    one more (empty) epoch: every file of a 4-partition, 3-chunk feed
    holds rows, and a one-file-per-trigger drain runs exactly one epoch
    per file, each of which applies data."""
    import pyarrow.parquet as pq

    oplog = gen_oplog(spark, 4_000, 500, seed=5, num_partitions=4)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=3, bounds=(0, 3_999))
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) > 3  # several files per chunk
    assert all(pq.ParquetFile(f).metadata.num_rows for f in files)

    pipe = _pipe(spark, tmp_path, path)
    epochs = applied_epochs(pipe)
    pipe.run_available_now()
    assert epochs == list(range(len(files)))
    assert all(os.path.exists(pipe._lineage_path(e)) for e in epochs)
    assert_equal_state(_expected(spark, oplog), pipe.table("seqs").read())


def test_apply_batch_on_static_frame_without_source_log(spark, tmp_path):
    """An epoch the checkpoint's source log does not list (here a static
    frame handed straight to apply_batch) is applied from the frame
    itself: the state equals the replay oracle and lineage is written."""
    oplog = gen_oplog(spark, 3_000, 500, seed=23, drop_at=(1_200,))
    pipe = _pipe(spark, tmp_path, str(tmp_path / "no-feed"))
    pipe.apply_batch(oplog, 0)
    assert_equal_state(_expected(spark, oplog), pipe.table("seqs").read())
    (row,) = pipe.lineage().collect()
    assert (row["batch_id"], row["table"], row["offset_hi"]) == (0, "seqs", 2_999)
