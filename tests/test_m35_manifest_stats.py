"""Manifest-carried file stats (Iceberg manifest-skip shape).

Every data-bearing commit captures per-file doc_id bounds from the
freshly-written footers into the manifest (``Snapshot.file_stats``);
probe reads (read_keys / lookup / key_history) then plan from the
manifest ALONE — zero data-file footer opens — falling back to footer
probing for pre-stats manifests or unprovable files.  At 100 TB on
object storage this moves O(files) planning GETs per point lookup to
the one manifest read the operation already does.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

import yadex_spark.lake.table as T
from yadex_spark.lake.table import (
    LakeTable,
    _bounds_may_contain,
    _file_key_bounds,
)
from yadex_spark.operators.collapse import collapse
from yadex_spark.sources.genlog import gen_oplog


@pytest.fixture(scope="module")
def _two_delta_lake(spark, tmp_path_factory):
    """Built once per module; :func:`lake` hands each test its own copy
    (the lake stores table-relative paths only)."""
    tbl = LakeTable(spark, str(tmp_path_factory.mktemp("two_delta") / "lake"))
    ev = gen_oplog(spark, n_events=5000, n_docs=1000, seed=3)
    half = 2500
    from pyspark.sql import functions as F

    tbl.commit_delta(collapse(ev.where(F.col("op_seq") < half)), batch_id="e0")
    tbl.commit_delta(collapse(ev.where(F.col("op_seq") >= half)), batch_id="e1")
    return tbl.path


@pytest.fixture()
def lake(spark, tmp_path, _two_delta_lake):
    path = str(tmp_path / "lake")
    shutil.copytree(_two_delta_lake, path)
    return LakeTable(spark, path)


def test_stats_recorded_and_exact(lake):
    for s in lake.snapshots():
        if s.files_dir is None:
            continue
        assert s.file_stats, f"v{s.version} missing stats"
        d = os.path.join(lake.path, s.files_dir)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert set(s.file_stats) == set(files)
        for rel, bounds in s.file_stats.items():
            assert bounds == _file_key_bounds(os.path.join(d, rel))


def test_probe_reads_plan_with_zero_footer_opens(lake, forbid_file_planning):
    probes = [r["doc_id"] for r in lake.read().limit(5).collect()]
    # footer-planned baseline first (stats forced off via a stripped view)
    want_lookup = sorted(r["doc_id"] for r in lake.lookup(probes).collect())
    want_keys = sorted(
        r["doc_id"] for r in lake.read_keys(probes=probes).collect()
    )
    forbid_file_planning()
    st = {}
    got = sorted(r["doc_id"] for r in lake.lookup(probes, prune_stats=st).collect())
    assert got == want_lookup and st["pruned"] > 0
    got = sorted(r["doc_id"] for r in lake.read_keys(probes=probes).collect())
    assert got == want_keys
    hist = lake.key_history(probes[:2])
    assert {r["doc_id"] for r in hist.collect()} <= set(probes[:2])


def test_prestats_manifest_falls_back_to_footers(lake, spark):
    # strip file_stats from every manifest on disk (a pre-stats lake)
    meta = os.path.join(lake.path, "_meta")
    for n in os.listdir(meta):
        if not n.endswith(".json"):
            continue
        p = os.path.join(meta, n)
        with open(p) as f:
            m = json.load(f)
        m.pop("file_stats", None)
        with open(p, "w") as f:
            json.dump(m, f)
    old = LakeTable(spark, lake.path)
    assert all(s.file_stats is None for s in old.snapshots())
    probes = [r["doc_id"] for r in old.read().limit(3).collect()]
    st = {}
    got = {r["doc_id"] for r in old.lookup(probes, prune_stats=st).collect()}
    assert got == set(probes)
    assert st["pruned"] > 0  # footer zone maps still prune


def test_checkpoint_fold_preserves_stats(lake, forbid_file_planning):
    lake.compact()
    lake.compact_meta(keep_recent=0)
    meta = os.path.join(lake.path, "_meta")
    assert any(n.startswith("checkpoint-v") for n in os.listdir(meta))
    fresh = LakeTable(lake.spark, lake.path)
    probes = [r["doc_id"] for r in fresh.read().limit(3).collect()]
    forbid_file_planning()
    st = {}
    got = {r["doc_id"] for r in fresh.lookup(probes, prune_stats=st).collect()}
    assert got == set(probes) and st["pruned"] > 0


def test_bounds_rule_edges():
    # empty file: always prunable
    assert _bounds_may_contain([], ["a"]) is False
    # inside / outside
    assert _bounds_may_contain(["b", "d"], ["c"]) is True
    assert _bounds_may_contain(["b", "d"], ["a", "e"]) is False
    assert _bounds_may_contain(["b", "d"], ["d"]) is True
    # type drift between stored bounds and probes: keep (conservative)
    assert _bounds_may_contain([1, 5], ["3"]) is True
    # no probes: nothing can match
    assert _bounds_may_contain(["b", "d"], []) is False


def test_stats_survive_minor_compaction_and_zorder(lake, forbid_file_planning):
    lake.compact_minor()
    lake.compact(cluster_by=["source", "n_tok"])
    probes = [r["doc_id"] for r in lake.read().limit(3).collect()]
    forbid_file_planning()
    got = {r["doc_id"] for r in lake.lookup(probes).collect()}
    # z-order broadens doc_id bounds (pruning may admit every file) but
    # planning must still come from the manifest and stay correct
    assert got == set(probes)


def test_fsck_detects_stale_file_stats(lake):
    assert lake.fsck()["errors"] == []
    # corrupt one manifest's bounds on disk
    meta = os.path.join(lake.path, "_meta")
    victim = sorted(n for n in os.listdir(meta) if n.startswith("v"))[0]
    p = os.path.join(meta, victim)
    with open(p) as f:
        m = json.load(f)
    rel = next(iter(m["file_stats"]))
    m["file_stats"][rel] = ["zzzz-not-a-real-min", "zzzz-not-a-real-min"]
    with open(p, "w") as f:
        json.dump(m, f)
    errs = LakeTable(lake.spark, lake.path).fsck()["errors"]
    assert any("file_stats bounds stale" in e for e in errs)


def test_fsck_inventory_gap_flagged_none_bounds_tolerated(lake):
    assert lake.fsck()["errors"] == []
    meta = os.path.join(lake.path, "_meta")
    victim = sorted(n for n in os.listdir(meta) if n.startswith("v"))[0]
    p = os.path.join(meta, victim)
    with open(p) as f:
        m = json.load(f)
    rel = next(iter(m["file_stats"]))
    # None bounds (unprovable at commit) are always-keep: never stale
    m["file_stats"][rel] = None
    with open(p, "w") as f:
        json.dump(m, f)
    assert LakeTable(lake.spark, lake.path).fsck()["errors"] == []
    # dropping the entry makes the file invisible to probe planning
    # (readers plan from the inventory alone) — fsck must flag the gap
    del m["file_stats"][rel]
    with open(p, "w") as f:
        json.dump(m, f)
    errs = LakeTable(lake.spark, lake.path).fsck()["errors"]
    assert any("absent from file_stats inventory" in e for e in errs)


# ---------- one manifest-log parse per lake operation ----------

_OPLOG_DDL = (
    "op_seq long, op_ts timestamp, op string, table string, doc_id string, "
    "after struct<tokens:array<int>,n_tok:int,source:string>"
)


def _delta(spark, rows):
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    return collapse(spark.createDataFrame(
        [(seq, ts, op, "t", k, after) for seq, op, k, after in rows], _OPLOG_DDL
    )).drop("table")


@pytest.fixture(scope="module")
def _tagged_lake(spark, tmp_path_factory):
    """A clone, three deltas, a seq barrier and two tags; built once per
    module, copied per use (the lake stores table-relative paths)."""
    tbl = LakeTable(spark, str(tmp_path_factory.mktemp("tagged") / "lake"))
    tbl.commit_append(spark.createDataFrame(
        [("a", [1], 1, "s0"), ("b", [2], 1, "s0"), ("c", [3], 1, "s0")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ), batch_id="clone")
    tbl.commit_delta(_delta(spark, [(10, "update", "a", ([1, 1], 2, "s1")),
                                    (11, "insert", "d", ([4], 1, "s1"))]), "E1")
    tbl.commit_delta(_delta(spark, [(12, "delete", "b", None)]), "E2")
    tbl.commit_delta(_delta(spark, [(14, "insert", "e", ([5], 1, "s3"))]), "E3")
    tbl.commit_truncate(batch_id="barrier", trunc_seq=11)
    tbl.tag("t-clone", version=1)
    tbl.tag("t-e2", version=3)
    return tbl.path


def test_each_lake_operation_parses_the_log_once(spark, tmp_path, _tagged_lake,
                                                  monkeypatch):
    """Pins how often each operation parses the manifest log (calls of
    ``LakeTable.snapshots``, per table path): a commit's claim re-parses
    before its O_EXCL link, everything else reuses one parsed list."""
    from yadex_spark.lake.replicate import LakeReplicator
    from yadex_spark.streaming.pipeline import CdcPipeline

    calls: dict[str, int] = {}
    real = LakeTable.snapshots

    def counted(self):
        calls[self.path] = calls.get(self.path, 0) + 1
        return real(self)

    monkeypatch.setattr(LakeTable, "snapshots", counted)
    n = [0]

    def fresh() -> LakeTable:
        n[0] += 1
        path = str(tmp_path / f"root{n[0]}" / "t")
        shutil.copytree(_tagged_lake, path)
        return LakeTable(spark, path)

    def parses(op, tbl=None) -> int:
        tbl = tbl or fresh()
        calls.clear()
        op(tbl)
        return calls.get(tbl.path, 0)

    clone = spark.createDataFrame([("z", [9], 1, "s9")],
                                  "doc_id string, tokens array<int>, n_tok int, source string")
    delta = _delta(spark, [(20, "insert", "f", ([6], 1, "s4"))])
    assert parses(lambda t: t.commit_delta(delta, "E4")) == 2
    assert parses(lambda t: t.commit_delta(delta, "E1")) == 1  # replay
    assert parses(lambda t: t.commit_append(clone, batch_id="clone2")) == 2
    assert parses(lambda t: t.commit_append(clone, batch_id="clone")) == 1
    assert parses(lambda t: t.compact()) == 2
    assert parses(lambda t: t.compact_minor()) == 2
    assert parses(lambda t: t.restore(version=3)) == 2
    assert parses(lambda t: t.tag("t-new")) == 1
    for k in (0, 3):
        assert parses(lambda t: t.vacuum(retain_last=k)) == 1
    assert parses(lambda t: t.purge_keys(["a"])) == 3

    # fsck: no strict parse at all, one lenient one
    lenient = []
    real_parse = T._parse_log
    monkeypatch.setattr(T, "_parse_log",
                        lambda d, errors=None: lenient.append(errors is not None)
                        or real_parse(d, errors))
    assert parses(lambda t: t.fsck(verify_rows=False)) == 0
    assert lenient == [True]
    monkeypatch.setattr(T, "_parse_log", real_parse)

    # physical replication: one source parse per sync, and on the target
    # one bookmark parse plus one (the claim) per replayed snapshot
    src, dst = fresh(), LakeTable(spark, str(tmp_path / "replica"))
    calls.clear()
    assert LakeReplicator(src, dst).sync() == 5
    assert calls[src.path] == 1 and calls[dst.path] == 1 + 5

    # staging GC: one parse per table, however many versions it keeps
    tbl = fresh()
    root = os.path.dirname(tbl.path)
    os.makedirs(os.path.join(root, "_staging"))
    pipe = CdcPipeline(spark, oplog_dir=str(tmp_path / "no-feed"), lake_dir=root,
                       checkpoint_dir=str(tmp_path / "ckpt"))
    assert parses(lambda t: pipe.vacuum_staging(retain_last=3), tbl) == 1
