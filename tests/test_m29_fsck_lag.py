"""M29 — operability surfaces: lake integrity audit (fsck) and
replication-lag metric.

Laws pinned:
- a healthy table audits clean, including after compact+vacuum (history
  whose files were legitimately vacuumed must NOT be flagged);
- crash debris is detected: orphan data dirs (writer died between data
  write and manifest link) and stale ``.tmp-*`` manifests; repair
  removes exactly that debris and never a dir any manifest references;
- real corruption is detected: a missing active files_dir, and a
  footer-row-count / manifest disagreement;
- ``lag()`` is computed without a Spark job and tracks feed appends and
  drains: 0 when drained, >0 after new chunks arrive, None applied-head
  before any epoch.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from yadex_spark.lake.table import LakeTable
from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
from yadex_spark.streaming.pipeline import CdcPipeline

SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _tbl(spark, tmp_path) -> LakeTable:
    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("d1", [1], 1, "s"), ("d2", [2], 1, "s"), ("d3", [3], 1, "s")], SCHEMA
    )
    t.commit_append(df, batch_id="b1")
    return t


def test_fsck_clean_healthy_and_after_vacuum(spark, tmp_path):
    t = _tbl(spark, tmp_path)
    r = t.fsck()
    assert r == {"errors": [], "orphans": [], "tmp_manifests": [], "repaired": []}
    t.compact()
    t.vacuum()  # history dirs gone — must not be flagged
    r = t.fsck()
    assert r["errors"] == [] and r["orphans"] == []


def test_fsck_detects_and_repairs_crash_debris(spark, tmp_path):
    t = _tbl(spark, tmp_path)
    # orphan: data written, manifest never linked (writer crash)
    orphan = os.path.join(t.path, "data", "s00000099-crashed")
    os.makedirs(orphan)
    pq.write_table(pa.table({"doc_id": ["x"]}), os.path.join(orphan, "part-0.parquet"))
    # stale tmp manifest from a crashed commit attempt
    with open(os.path.join(t.path, "_meta", ".tmp-v00000002-111-222.json"), "w") as f:
        f.write("{}")

    r = t.fsck()
    assert r["orphans"] == [os.path.join("data", "s00000099-crashed")]
    assert r["tmp_manifests"] == [".tmp-v00000002-111-222.json"]
    assert r["errors"] == []

    r = t.fsck(repair=True)
    assert len(r["repaired"]) == 2
    assert not os.path.isdir(orphan)
    # the referenced dir is untouched and the table still reads
    assert t.read().count() == 3
    assert t.fsck() == {"errors": [], "orphans": [], "tmp_manifests": [], "repaired": []}


def test_fsck_detects_corruption(spark, tmp_path):
    t = _tbl(spark, tmp_path)
    snap = t.snapshots()[-1]
    full = os.path.join(t.path, snap.files_dir)

    # a foreign parquet file smuggled into the active dir: footer row
    # sum now disagrees with the manifest
    pq.write_table(pa.table({"doc_id": ["zz"]}), os.path.join(full, "part-zz.parquet"))
    r = t.fsck()
    assert any("footer rows 4 != manifest 3" in e for e in r["errors"])

    # active files_dir gone entirely
    shutil.rmtree(full)
    r = t.fsck()
    assert any("files_dir missing" in e for e in r["errors"])


def test_lag_tracks_feed_and_drain(spark, tmp_path):
    oplog = gen_oplog(spark, 2_000, 400, seed=31)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=2, bounds=(0, 1_499))
    pipe = CdcPipeline(
        spark,
        oplog_dir=path,
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    before = pipe.lag()
    assert before["feed_head"] == 1_499 and before["applied_head"] is None
    assert before["lag_events"] is None

    pipe.run_available_now()
    drained = pipe.lag()
    assert drained == {"feed_head": 1_499, "applied_head": 1_499, "lag_events": 0}

    # late chunk arrives: lag goes positive without any Spark job
    oplog.where("op_seq >= 1500").write.mode("append").parquet(path)
    behind = pipe.lag()
    assert behind["feed_head"] == 1_999 and behind["lag_events"] == 500

    pipe.run_available_now()
    assert pipe.lag()["lag_events"] == 0
    # pipeline-level fsck over the routed tables is clean
    reports = pipe.fsck()
    assert reports and all(
        rep["errors"] == [] and rep["orphans"] == [] for rep in reports.values()
    )
    # pipeline-level schema audit: the feed's columns appeared at v1
    sh = pipe.schema_history()
    assert "tokens" in sh["seqs"][0]["added"]


def test_feed_bounds_read_footers_and_stat_less_files(spark, tmp_path):
    """lag()'s feed head and the feed minimum (maintain's "auto"
    tombstone watermark, validate_retention) come from driver-side
    footers: a file written without statistics falls back to its
    op_seq column, and together they equal Spark's own min/max over the
    feed, with no Spark job started."""
    import time

    from pyspark.sql import functions as F

    from yadex_spark.lake.table import _file_key_bounds
    from yadex_spark.streaming.bookmarks import feed_min_offset

    oplog = gen_oplog(spark, 2_000, 400, seed=37)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog.where("op_seq >= 100 AND op_seq < 1900"), path,
                       n_chunks=2, bounds=(100, 1_899))
    # the feed's min AND max live only in a stat-less pyarrow file
    side = str(tmp_path / "side")
    oplog.where("op_seq < 100 OR op_seq >= 1900").coalesce(1).write.parquet(side)
    (part,) = [f for f in os.listdir(side) if f.endswith(".parquet")]
    nostats = os.path.join(path, "nostats.parquet")
    pq.write_table(pq.read_table(os.path.join(side, part)), nostats, write_statistics=False,
                   use_deprecated_int96_timestamps=True)
    assert _file_key_bounds(nostats, "op_seq") is None

    pipe = CdcPipeline(spark, oplog_dir=path, lake_dir=str(tmp_path / "lake"),
                       checkpoint_dir=str(tmp_path / "ckpt"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("feed-bounds", "feed bounds")
        head, low = pipe.lag()["feed_head"], feed_min_offset(path)
        # the listener bus is FIFO: once a later job is visible, any job
        # the calls started is visible too
        sc.setJobGroup("feed-bounds-sentinel", "sentinel")
        spark.range(1).count()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup("feed-bounds-sentinel") and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("feed-bounds-sentinel")
        assert tracker.getJobIdsForGroup("feed-bounds") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    want = spark.read.parquet(path).agg(F.min("op_seq"), F.max("op_seq")).first()
    assert (low, head) == (want[0], want[1]) == (0, 1_999)


def test_key_history_audit_trail(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "hist"))
    t.commit_append(
        spark.createDataFrame([("d1", "snap"), ("d9", "snap")], "doc_id string, val string"),
        batch_id="clone", as_of_seq=0,
    )

    def delta(rows, bid):
        t.commit_delta(
            spark.createDataFrame(rows, "doc_id string, op string, op_seq long, val string"),
            batch_id=bid,
        )

    delta([("d1", "update", 3, "v3"), ("d2", "insert", 2, "v2")], "b1")
    delta([("d1", "delete", 5, None)], "b2")
    delta([("d1", "insert", 7, "v7")], "b3")

    h = t.key_history(["d1"]).collect()
    assert [(r["op_seq"], r["deleted"], r["val"]) for r in h] == [
        (7, False, "v7"), (5, True, None), (3, False, "v3"), (0, False, "snap"),
    ]
    # versions are the committing snapshots, newest-first
    assert [r["version"] for r in h] == sorted((r["version"] for r in h), reverse=True)
    # uninvolved key untouched; unknown key is empty, schema stable
    assert len(t.key_history(["d2"]).collect()) == 1
    assert t.key_history(["nope"]).count() == 0
    assert t.key_history([]).columns[:4] == ["doc_id", "version", "op_seq", "deleted"]

    # a seq-scoped barrier hides history below it
    t.commit_truncate(batch_id="tr", trunc_seq=4)
    h = t.key_history(["d1"]).collect()
    assert [(r["op_seq"], r["deleted"]) for r in h] == [(7, False), (5, True)]

    # compaction collapses history to the surviving rows; prune stats
    # are reported (actual file-skip payoff is pinned at registry scale
    # by the m6 zone-map tests — 2 keys may share one clustered file)
    t.compact()
    stats = {}
    h = t.key_history(["d1"], prune_stats=stats).collect()
    assert [(r["op_seq"], r["val"]) for r in h] == [(7, "v7")]
    assert stats["files_total"] >= stats["files_read"] >= 1


def test_schema_history_reports_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ev"))
    t.commit_append(
        spark.createDataFrame([("d1", "x")], "doc_id string, val string"),
        batch_id="b0",
    )
    # a delta touching only old columns: NOT a schema event
    t.commit_delta(
        spark.createDataFrame([("d2", "insert", 1, "y")],
                              "doc_id string, op string, op_seq long, val string"),
        batch_id="b1",
    )
    # evolution: a new payload column arrives mid-stream
    t.commit_delta(
        spark.createDataFrame([("d3", "insert", 2, "z", 7)],
                              "doc_id string, op string, op_seq long, val string, extra int"),
        batch_id="b2",
    )
    t.compact()  # same union schema: not a schema event

    h = t.schema_history()
    assert [e["version"] for e in h] == [1, 3]
    assert h[0]["added"] == {"doc_id": "string", "val": "string"}
    assert h[1]["added"] == {"extra": "int"} and not h[1]["removed"]
    assert all(not e["retyped"] for e in h)


def test_compact_lineage_folds_files_and_preserves_consumers(spark, tmp_path):
    """Lineage compaction: per-epoch files beyond keep_recent fold into
    one JSON-lines file; every consumer (rolling rate, lag, resume
    bookmarks, last_applied_epoch, lineage rows) answers identically,
    and a second fold over the already-folded dir is a no-op."""
    from pyspark.sql import functions as F

    from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
    from yadex_spark.streaming.bookmarks import resume_points
    from yadex_spark.streaming.pipeline import CdcPipeline, rolling_events_per_sec

    feed = str(tmp_path / "oplog")
    write_oplog_chunks(gen_oplog(spark, 4000, 500, seed=17), feed,
                       n_chunks=5, bounds=(0, 3999))
    pipe = CdcPipeline(spark, feed, str(tmp_path / "lake"),
                       str(tmp_path / "ckpt"), max_files_per_trigger=1)
    pipe.run_available_now(timeout_s=600)

    lin_dir = os.path.join(pipe.lake_dir, "_lineage")
    n_before = len(os.listdir(lin_dir))
    assert n_before >= 5
    rows_before = sorted(map(tuple, pipe.lineage().collect()))
    rate_before = rolling_events_per_sec(spark, pipe.lake_dir)
    lag_before = pipe.lag()
    resume_before = sorted(map(tuple, resume_points(spark, pipe.lake_dir).collect()))
    epoch_before = pipe.last_applied_epoch()

    rep = pipe.compact_lineage(keep_recent=2)
    assert rep["folded"] == n_before - 2 and rep["kept"] == 2
    names = sorted(os.listdir(lin_dir))
    assert sum(n.startswith("compacted-") for n in names) == 1
    assert sum(n.startswith("epoch-") for n in names) == 2

    assert sorted(map(tuple, pipe.lineage().collect())) == rows_before
    assert rolling_events_per_sec(spark, pipe.lake_dir) == rate_before
    assert pipe.lag() == lag_before
    assert sorted(map(tuple, resume_points(spark, pipe.lake_dir).collect())) == resume_before
    assert pipe.last_applied_epoch() == epoch_before

    # idempotent: nothing new to fold
    rep2 = pipe.compact_lineage(keep_recent=2)
    assert rep2["folded"] == 0
    assert sorted(map(tuple, pipe.lineage().collect())) == rows_before



def test_fsck_reports_unreadable_manifests(spark, tmp_path):
    """A corrupt manifest is reported, not raised: bad JSON and a
    manifest missing its fields each land in ``errors``, the chain and
    tag checks still run over the manifests that could be read, and
    repair keeps every unreferenced data dir (the unreadable manifest
    may own it)."""
    import json

    t = _tbl(spark, tmp_path)
    t.tag("pin")
    v1_dir = t.snapshots()[-1].files_dir
    meta = os.path.join(t.path, "_meta")
    with open(os.path.join(meta, "v00000002.json"), "w") as f:
        f.write("{not json")
    r = LakeTable(None, t.path).fsck(verify_rows=False)
    assert len(r["errors"]) == 1
    assert r["errors"][0].startswith("unreadable manifest v00000002.json")

    with open(os.path.join(meta, "v00000003.json"), "w") as f:
        json.dump({"version": 3}, f)  # every other field missing
    orphan = os.path.join(t.path, "data", "s-unowned")
    os.makedirs(orphan)
    shutil.rmtree(os.path.join(t.path, v1_dir))
    r = LakeTable(None, t.path).fsck(verify_rows=False, repair=True)
    errs = r["errors"]
    assert [e.split(":")[0] for e in errs[:2]] == [
        "unreadable manifest v00000002.json", "unreadable manifest v00000003.json",
    ]
    # the readable v1 is still audited, as the tag's chain and the active one
    assert f"tag pin: v1 files missing ({v1_dir})" in errs
    assert f"v1: files_dir missing: {v1_dir}" in errs
    assert r["orphans"] == [os.path.join("data", "s-unowned")]
    assert os.path.isdir(orphan) and r["repaired"] == []
