"""M37 — manifest-planned range scans (``LakeTable.read_where``).

``compact(cluster_by=...)`` commits per-file [min, max] for each
cluster column into the manifest (``Snapshot.col_stats`` — the Iceberg
sort-order column-stats shape); ``read_where`` then skips whole files
on range predicates with zero footer opens and zero directory listings.

The load-bearing correctness claim: LWW winners are decided over the
FULL narrow chain and only the payload join-back is pruned, so a key
whose WINNING row is pruned (it provably fails the predicate) is
absent — a naive prune-then-LWW would resurrect the newest surviving
row instead.  That stale-read hazard is pinned here by hand-injecting
accurate col_stats into delta manifests.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable, _file_key_bounds, _range_may_overlap
from yadex_spark.operators.collapse import collapse
from yadex_spark.sources.genlog import gen_oplog

PRED = {"source": ("books", "books"), "n_tok": (1, 40)}


def _state(df):
    return sorted(map(tuple, df.select("doc_id", "n_tok", "source").collect()))


@pytest.fixture(scope="module")
def _two_delta_lake(spark, tmp_path_factory):
    """Built once per module; :func:`lake` hands each test its own copy
    (the lake stores table-relative paths only)."""
    tbl = LakeTable(spark, str(tmp_path_factory.mktemp("two_delta") / "lake"))
    ev = gen_oplog(spark, n_events=5000, n_docs=1000, seed=13)
    half = 2500
    tbl.commit_delta(collapse(ev.where(F.col("op_seq") < half)), batch_id="e0")
    tbl.commit_delta(collapse(ev.where(F.col("op_seq") >= half)), batch_id="e1")
    return tbl.path


@pytest.fixture()
def lake(spark, tmp_path, _two_delta_lake):
    path = str(tmp_path / "lake")
    shutil.copytree(_two_delta_lake, path)
    return LakeTable(spark, path)


def test_read_where_equals_filtered_read_unclustered(lake):
    want = _state(lake.read().where(F.col("source") == "books"))
    got = _state(lake.read_where({"source": "books"}))
    assert got == want and want  # fixture must exercise the filter


def test_clustered_compact_records_col_stats_and_prunes(lake, forbid_file_planning):
    want = _state(
        lake.read().where((F.col("source") == "books") & F.col("n_tok").between(1, 40))
    )
    lake.compact(cluster_by=["source", "n_tok"])
    lake.vacuum()
    s = lake.snapshots()[-1]
    assert set(s.col_stats) == {"source", "n_tok"}
    d = os.path.join(lake.path, s.files_dir)
    for c, stats in s.col_stats.items():
        for rel, b in stats.items():
            assert b == _file_key_bounds(os.path.join(d, rel), c)
    forbid_file_planning()  # planning must use the manifest alone
    st = {}
    got = _state(lake.read_where(PRED, prune_stats=st))
    assert got == want
    assert st["pruned"] > 0 and st["files_read"] >= 1


def test_range_and_open_ended_predicates(lake):
    lake.compact(cluster_by=["n_tok"])
    want = _state(lake.read().where(F.col("doc_id") >= "u5"))
    assert _state(lake.read_where({"doc_id": ("u5", None)})) == want
    want2 = _state(lake.read().where((F.col("n_tok") >= 1) & (F.col("n_tok") <= 40)))
    assert _state(lake.read_where({"n_tok": (1, 40)})) == want2


def test_doc_id_predicate_prunes_via_file_stats(lake, forbid_file_planning):
    lake.compact()  # doc_id range-clustered: tight file_stats bounds
    lake.vacuum()
    probe = lake.read().limit(1).collect()[0]["doc_id"]
    forbid_file_planning()
    st = {}
    got = _state(lake.read_where({"doc_id": probe}, prune_stats=st))
    assert [r[0] for r in got] == [probe]
    assert st["pruned"] > 0


def _inject_col_stats(tbl, version, col):
    """Hand-add accurate col_stats to a DELTA manifest (simulating a
    stats-writing delta author) so naive pruning would fire on it."""
    p = os.path.join(tbl.path, "_meta", f"v{version:08d}.json")
    with open(p) as f:
        m = json.load(f)
    d = os.path.join(tbl.path, m["files_dir"])
    stats = {
        rel: _file_key_bounds(os.path.join(d, rel), col)
        for rel in os.listdir(d) if rel.endswith(".parquet")
    }
    m["col_stats"] = {col: stats}
    with open(p, "w") as f:
        json.dump(m, f)


def test_pruned_winner_is_absent_not_stale(spark, tmp_path):
    """Key updated OUT of the predicate range by a newer delta whose
    file the predicate prunes: the key must be ABSENT (its live row
    fails the predicate), not served from the older in-range row."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    ddl = "doc_id string, op string, op_seq long, n_tok int, source string"
    tbl.commit_delta(
        spark.createDataFrame([("x1", "i", 1, 500, "web"),
                               ("x2", "i", 2, 450, "web")], ddl).coalesce(1),
        batch_id="e0",
    )
    tbl.commit_delta(
        spark.createDataFrame([("x1", "u", 3, 10, "web")], ddl).coalesce(1),
        batch_id="e1"
    )
    _inject_col_stats(tbl, 1, "n_tok")  # [450, 500] — kept by pred
    _inject_col_stats(tbl, 2, "n_tok")  # [10, 10]  — pruned by pred
    st = {}
    got = _state(tbl.read_where({"n_tok": (400, 1000)}, prune_stats=st))
    assert st["pruned"] == 1, "the out-of-range delta file must be pruned"
    assert got == [("x2", 450, "web")]  # x1 absent — NOT the stale 500
    # and the law holds against the unpruned filtered read
    assert got == _state(tbl.read().where(F.col("n_tok").between(400, 1000)))


def test_update_into_range_is_served(spark, tmp_path):
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    ddl = "doc_id string, op string, op_seq long, n_tok int, source string"
    tbl.commit_delta(
        spark.createDataFrame([("x1", "i", 1, 10, "web")], ddl), batch_id="e0"
    )
    tbl.commit_delta(
        spark.createDataFrame([("x1", "u", 2, 500, "web")], ddl), batch_id="e1"
    )
    _inject_col_stats(tbl, 1, "n_tok")
    _inject_col_stats(tbl, 2, "n_tok")
    got = _state(tbl.read_where({"n_tok": (400, 1000)}))
    assert got == [("x1", 500, "web")]


def test_deleted_winner_is_absent(spark, tmp_path):
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    ddl = "doc_id string, op string, op_seq long, n_tok int, source string"
    tbl.commit_delta(
        spark.createDataFrame([("x1", "i", 1, 500, "web")], ddl), batch_id="e0"
    )
    tbl.commit_delta(
        spark.createDataFrame([("x1", "delete", 2, None, None)], ddl), batch_id="e1"
    )
    assert _state(tbl.read_where({"n_tok": (400, 1000)})) == []


def test_empty_result_keeps_schema(lake):
    lake.compact(cluster_by=["n_tok"])
    df = lake.read_where({"n_tok": (10**9, None)})
    assert df.count() == 0
    assert set(df.columns) == set(lake.read().columns)


def test_fsck_flags_stale_col_stats(lake):
    lake.compact(cluster_by=["source"])
    assert lake.fsck()["errors"] == []
    meta = os.path.join(lake.path, "_meta")
    victim = sorted(n for n in os.listdir(meta) if n.startswith("v"))[-1]
    p = os.path.join(meta, victim)
    with open(p) as f:
        m = json.load(f)
    assert m["col_stats"], "clustered compact must record col_stats"
    col = next(iter(m["col_stats"]))
    rel = next(iter(m["col_stats"][col]))
    m["col_stats"][col][rel] = ["zzz", "zzz"]
    with open(p, "w") as f:
        json.dump(m, f)
    errs = LakeTable(lake.spark, lake.path).fsck()["errors"]
    assert any(f"col_stats[{col}] stale" in e for e in errs)


def test_range_may_overlap_edges():
    assert _range_may_overlap(None, 1, 2) is True
    assert _range_may_overlap([], 1, 2) is False
    assert _range_may_overlap([5, 9], 1, 4) is False
    assert _range_may_overlap([5, 9], 9, None) is True
    assert _range_may_overlap([5, 9], None, 5) is True
    assert _range_may_overlap([5, 9], 10, None) is False
    assert _range_may_overlap(["b", "d"], "a", "b") is True
    assert _range_may_overlap(["b", "d"], "e", None) is False
    # type drift between stored bounds and predicate: keep
    assert _range_may_overlap([1, 5], "a", "z") is True


def test_minor_compact_cluster_by_keeps_col_stats(lake, forbid_file_planning):
    """Z-ordered L1: compact_minor(cluster_by=...) folds the trailing
    deltas into a merge that commits col_stats, so read_where keeps
    file-skipping between full compactions."""
    want_all = _state(lake.read())
    want = _state(
        lake.read().where((F.col("source") == "books") & F.col("n_tok").between(1, 40))
    )
    v = lake.compact_minor(cluster_by=["source", "n_tok"])
    assert v is not None
    s = lake.snapshots()[-1]
    assert s.action == "minicompact" and set(s.col_stats) == {"source", "n_tok"}
    assert _state(lake.read()) == want_all  # purely physical
    lake.vacuum()
    assert lake.fsck()["errors"] == []
    forbid_file_planning()
    st = {}
    got = _state(lake.read_where(PRED, prune_stats=st))
    assert got == want and st["pruned"] > 0
