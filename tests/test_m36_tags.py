"""M36 — named refs (tags): reproducible-dataset pinning.

The Iceberg tag / Delta named-version shape: ``tag(name)`` pins a
snapshot version forever — ``read(tag=name)`` resolves it, and
``vacuum`` retains every file the tagged chain references across
compactions and any ``retain_last`` window.  This is the retention rule
a training pipeline actually needs: "the exact bytes run X trained on",
months of maintenance later, without an unbounded rolling window.

Cross-table: ``CdcPipeline.tag(name)`` pins EVERY table at the same
fully-applied epoch (read_consistent, made durable).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.collapse import collapse
from yadex_spark.operators.route import Router, RoutePattern
from yadex_spark.sources.genlog import gen_oplog
from yadex_spark.streaming.pipeline import CdcPipeline


def _state(df):
    return sorted(map(tuple, df.select("doc_id", "n_tok", "source").collect()))


@pytest.fixture(scope="module")
def _two_delta_lake(spark, tmp_path_factory):
    """Built once per module; :func:`lake` hands each test its own copy
    (the lake stores table-relative paths only)."""
    tbl = LakeTable(spark, str(tmp_path_factory.mktemp("two_delta") / "lake"))
    ev = gen_oplog(spark, n_events=4000, n_docs=800, seed=7)
    half = 2000
    tbl.commit_delta(collapse(ev.where(F.col("op_seq") < half)), batch_id="e0")
    tbl.commit_delta(collapse(ev.where(F.col("op_seq") >= half)), batch_id="e1")
    return tbl.path


@pytest.fixture()
def lake(spark, tmp_path, _two_delta_lake):
    path = str(tmp_path / "lake")
    shutil.copytree(_two_delta_lake, path)
    return LakeTable(spark, path)


def test_tag_resolves_and_is_stable_across_commits(lake, spark):
    v = lake.tag("run-a")
    want = _state(lake.read(version=v))
    ev2 = gen_oplog(spark, n_events=1000, n_docs=800, seed=8)
    lake.commit_delta(collapse(ev2), batch_id="e2")
    assert _state(lake.read(tag="run-a")) == want
    assert _state(lake.read()) != want  # the lake itself moved on
    assert lake.tags() == {"run-a": v}


def test_tag_survives_compaction_and_vacuum(lake):
    v = lake.tag("pinned", version=1)  # epoch-0-only state
    want = _state(lake.read(version=1))
    lake.compact()
    lake.vacuum()  # retain_last=0: only tags protect v1 now
    assert _state(lake.read(tag="pinned")) == want
    assert lake.fsck()["errors"] == []
    # dropping the tag releases the files on the next vacuum
    assert lake.drop_tag("pinned") is True
    assert lake.drop_tag("pinned") is False
    removed = lake.vacuum()
    assert removed, "untagged v1 files should now be vacuumed"
    with pytest.raises(ValueError, match="unknown tag"):
        lake.read(tag="pinned")
    assert lake.fsck()["errors"] == []
    assert v == 1


def test_tag_validation(lake):
    lake.tag("dup")
    with pytest.raises(ValueError, match="already exists"):
        lake.tag("dup")
    with pytest.raises(ValueError, match="invalid tag name"):
        lake.tag("no/slashes")
    with pytest.raises(ValueError, match="invalid tag name"):
        lake.tag(".hidden")
    with pytest.raises(ValueError, match="unknown version"):
        lake.tag("v99", version=99)
    with pytest.raises(ValueError, match="version OR tag"):
        lake.read(version=1, tag="dup")
    # a vacuumed version is not taggable (drop the tag first: while it
    # exists it retains v1's files through the vacuum — by design)
    lake.drop_tag("dup")
    lake.compact()
    lake.vacuum()
    with pytest.raises(ValueError, match="already vacuumed"):
        lake.tag("too-late", version=1)


def test_fsck_flags_gutted_and_dangling_tags(lake):
    import shutil

    lake.tag("t1", version=1)
    assert lake.fsck()["errors"] == []
    # hand-delete the tagged chain's files (simulates a pre-tag-aware
    # vacuum or manual deletion)
    s1 = next(s for s in lake.snapshots() if s.version == 1)
    shutil.rmtree(os.path.join(lake.path, s1.files_dir))
    errs = lake.fsck()["errors"]
    assert any("tag t1" in e and "files missing" in e for e in errs)
    # dangling tag: points at a version that never existed
    refs = os.path.join(lake.path, "_meta", "refs")
    with open(os.path.join(refs, "ghost.json"), "w") as f:
        json.dump({"name": "ghost", "version": 42, "created_at": 0.0}, f)
    errs = lake.fsck()["errors"]
    assert any("tag ghost: unknown version 42" in e for e in errs)


def test_tag_survives_metadata_checkpoint_fold(lake):
    v = lake.tag("kept")
    want = _state(lake.read(version=v))
    lake.compact()
    lake.compact_meta(keep_recent=0)
    fresh = LakeTable(lake.spark, lake.path)
    assert fresh.tags() == {"kept": v}
    assert _state(fresh.read(tag="kept")) == want
    assert fresh.fsck()["errors"] == []


TABLES = ("seqs", "seqs_rt")


def test_pipeline_cross_table_tag(spark, tmp_path):
    oplog = gen_oplog(spark, 3000, 600, seed=23, tables=TABLES)
    path = str(tmp_path / "oplog")
    base = time.time() - 600
    for i in range(2):
        oplog.where(
            (F.col("op_seq") >= i * 1501) & (F.col("op_seq") < (i + 1) * 1501)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    pipe = CdcPipeline(
        spark,
        oplog_dir=path,
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        router=Router(patterns=(RoutePattern(r"seqs.*", "ST", exclude=()),)),
        max_files_per_trigger=1,
    )
    pipe.run_available_now()
    tagged = pipe.tag("run-x")
    assert set(tagged) == set(pipe.tables())
    want = {t: _state(df) for t, df in pipe.read_consistent().items()}
    # lake moves on: another epoch + maintenance
    more = gen_oplog(spark, 500, 600, seed=24, tables=TABLES)
    more.repartition(1).write.mode("append").parquet(path)
    pipe.run_available_now()
    pipe.maintain()
    got = {t: _state(df) for t, df in pipe.read_tagged("run-x").items()}
    assert got == want
    for t in pipe.tables():
        assert pipe.table(t).fsck()["errors"] == []


def test_history_lists_versions_and_tags(lake):
    lake.tag("h1", version=1)
    h = {r["version"]: r for r in lake.history().collect()}
    assert set(h) == {1, 2}
    assert h[1]["action"] == "delta" and h[1]["batch_id"] == "e0"
    assert h[1]["tags"] == ["h1"] and h[2]["tags"] == []
    assert all(r["has_files"] for r in h.values())
    lake.compact_minor()
    h2 = {r["version"]: r for r in lake.history().collect()}
    assert h2[3]["action"] == "minicompact" and h2[3]["subsumes"] == [1, 2]


def test_restore_rolls_back_and_future_events_apply(lake, spark):
    from pyspark.sql import functions as F

    want_v1 = _state(lake.read(version=1))
    assert _state(lake.read()) != want_v1
    v = lake.restore(version=1)
    assert _state(lake.read()) == want_v1
    # every later version is still in the log (restore never rewrites)
    assert {r["version"] for r in lake.history().collect()} == {1, 2, v}
    # a replayed pre-restore epoch is a no-op: the rollback sticks
    ev = gen_oplog(spark, n_events=4000, n_docs=800, seed=7)
    assert lake.commit_delta(
        collapse(ev.where(F.col("op_seq") >= 2000)), batch_id="e1"
    ) is None
    assert _state(lake.read()) == want_v1
    # future events apply normally on top
    ev2 = gen_oplog(spark, n_events=500, n_docs=800, seed=9)
    lake.commit_delta(collapse(ev2), batch_id="e2")
    assert _state(lake.read()) != want_v1
    assert lake.fsck()["errors"] == []


def test_restore_by_tag_after_vacuum_needs_the_tag(lake):
    lake.tag("keep", version=1)
    want = _state(lake.read(version=1))
    lake.compact()
    lake.vacuum()  # only the tag retains v1's chain
    lake.restore(tag="keep")
    assert _state(lake.read()) == want
    # an untagged vacuumed version is NOT restorable, and says so
    with pytest.raises(ValueError, match="not restorable"):
        lake.restore(version=2)


def test_pipeline_restore_to_epoch(spark, tmp_path):
    oplog = gen_oplog(spark, 3000, 600, seed=37, tables=TABLES)
    path = str(tmp_path / "oplog")
    base = time.time() - 600
    for i in range(2):
        oplog.where(
            (F.col("op_seq") >= i * 1501) & (F.col("op_seq") < (i + 1) * 1501)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    pipe = CdcPipeline(
        spark,
        oplog_dir=path,
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        router=Router(patterns=(RoutePattern(r"seqs.*", "ST", exclude=()),)),
        max_files_per_trigger=1,
    )
    pipe.run_available_now()
    want_e0 = {t: _state(df) for t, df in pipe.read_consistent(epoch=0).items()}
    restored = pipe.restore(epoch=0)
    assert set(restored) == set(pipe.tables())
    got = {t: _state(pipe.table(t).read()) for t in pipe.tables()}
    assert got == want_e0
    # fresh feed chunks keep applying on top of the rollback
    more = gen_oplog(spark, 400, 600, seed=38, tables=TABLES)
    more.repartition(1).write.mode("append").parquet(path)
    pipe.run_available_now()
    assert any(_state(pipe.table(t).read()) != want_e0[t] for t in pipe.tables())
    for t in pipe.tables():
        assert pipe.table(t).fsck()["errors"] == []


def test_vacuum_dry_run_previews_without_deleting(lake):
    lake.compact()
    preview = lake.vacuum(dry_run=True)
    assert preview, "compaction must leave removable history"
    # nothing deleted: every previewed dir still exists and reads work
    for rel in preview:
        assert os.path.isdir(os.path.join(lake.path, rel))
    assert _state(lake.read(version=1))  # history still readable
    # the real run removes exactly the previewed set
    assert lake.vacuum() == preview
    for rel in preview:
        assert not os.path.isdir(os.path.join(lake.path, rel))
    # tags shift the preview: tagged chains disappear from it
    # (fresh lake state: only current base remains, nothing to remove)
    assert lake.vacuum(dry_run=True) == []
