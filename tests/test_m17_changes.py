"""M17 — incremental change feed (LakeTable.table_changes) + time travel.

Delta-CDF / Iceberg-changelog semantics over the from-scratch MOR lake:
`table_changes(v_from, v_to)` emits one row per key whose LIVE state
changed inside the version window, with pre/post images and the
committing version.  The reference has no incremental consumer at all
(compare-dbs.go re-reads the full target); this is the read that lets
downstream jobs tail the lake the way the pipeline tails the oplog.
"""

from __future__ import annotations

import datetime
import shutil

import pytest
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.collapse import collapse

TS = datetime.datetime(2026, 1, 1)
OPLOG_DDL = (
    "op_seq long, op_ts timestamp, op string, table string, doc_id string, "
    "after struct<tokens:array<int>,n_tok:int,source:string>"
)


def _oplog(spark, rows):
    return spark.createDataFrame(rows, OPLOG_DDL)


def _commit(spark, tbl, rows, batch_id):
    return tbl.commit_delta(
        collapse(_oplog(spark, rows)).drop("table"), batch_id=batch_id
    )


def _changes(tbl, v_from, v_to=None):
    return {
        r["doc_id"]: r.asDict()
        for r in tbl.table_changes(v_from, v_to).collect()
    }


@pytest.fixture(scope="module")
def _two_batch_lake(spark, tmp_path_factory):
    """Built once per module; :func:`two_batch_table` hands each test
    its own copy (the lake stores table-relative paths only)."""
    tbl = LakeTable(spark, str(tmp_path_factory.mktemp("two_batch") / "lake"))
    v_a = _commit(spark, tbl, [
        (1, TS, "insert", "t", "a", ([1, 2], 2, "s1")),
        (2, TS, "insert", "t", "b", ([3], 1, "s1")),
        (3, TS, "update", "t", "a", ([9], 1, "s1")),
        (4, TS, "insert", "t", "d", ([7], 1, "s1")),
    ], "A")
    v_b = _commit(spark, tbl, [
        (5, TS, "update", "t", "a", ([5, 5], 2, "s2")),   # update
        (6, TS, "delete", "t", "b", None),                # delete
        (7, TS, "insert", "t", "c", ([8], 1, "s2")),      # insert
        (8, TS, "delete", "t", "z", None),                # delete of absent key
    ], "B")
    return tbl.path, v_a, v_b


@pytest.fixture()
def two_batch_table(spark, tmp_path, _two_batch_lake):
    template, v_a, v_b = _two_batch_lake
    path = str(tmp_path / "lake")
    shutil.copytree(template, path)
    return LakeTable(spark, path), v_a, v_b


def test_change_feed_classification(two_batch_table):
    tbl, v_a, v_b = two_batch_table
    ch = _changes(tbl, v_a, v_b)
    assert set(ch) == {"a", "b", "c"}  # z: delete of a dead key -> no row
    assert ch["a"]["change_type"] == "update"
    assert (ch["a"]["pre_tokens"], ch["a"]["post_tokens"]) == ([9], [5, 5])
    assert ch["b"]["change_type"] == "delete"
    assert ch["b"]["pre_tokens"] == [3] and ch["b"]["post_tokens"] is None
    assert ch["c"]["change_type"] == "insert"
    assert ch["c"]["pre_tokens"] is None and ch["c"]["post_tokens"] == [8]
    assert all(r["_commit_version"] == v_b for r in ch.values())


def test_change_feed_since_creation_is_all_inserts(two_batch_table):
    tbl, v_a, _ = two_batch_table
    ch = _changes(tbl, 0, v_a)
    assert {k: r["change_type"] for k, r in ch.items()} == {
        "a": "insert", "b": "insert", "d": "insert"
    }
    # terminal row per key, not per event: a's insert+update collapse
    assert ch["a"]["post_tokens"] == [9]


def test_time_travel_read_matches_prefix_state(two_batch_table):
    tbl, v_a, _ = two_batch_table
    got = {r["doc_id"]: r["tokens"] for r in tbl.read(version=v_a).collect()}
    assert got == {"a": [9], "b": [3], "d": [7]}


def test_applying_changes_to_prefix_reproduces_final_state(two_batch_table):
    """The CDF contract: state(v_from) + changes(v_from, v_to) == state(v_to)."""
    tbl, v_a, v_b = two_batch_table
    pre = {r["doc_id"]: r["tokens"] for r in tbl.read(version=v_a).collect()}
    for r in tbl.table_changes(v_a, v_b).collect():
        if r["change_type"] == "delete":
            pre.pop(r["doc_id"])
        else:
            pre[r["doc_id"]] = r["post_tokens"]
    final = {r["doc_id"]: r["tokens"] for r in tbl.read(version=v_b).collect()}
    assert pre == final


def test_stale_out_of_order_commit_emits_no_change(spark, tmp_path):
    """A late epoch replaying already-superseded op_seqs commits files but
    does not change live state — the feed must emit nothing for it."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    v1 = _commit(spark, tbl, [
        (10, TS, "insert", "t", "a", ([1], 1, "s")),
        (20, TS, "update", "t", "b", ([2], 1, "s")),
    ], "fresh")
    v2 = _commit(spark, tbl, [
        (5, TS, "update", "t", "a", ([99], 1, "s")),  # loses LWW vs seq 10
        (6, TS, "delete", "t", "b", None),            # loses LWW vs seq 20
    ], "late-replay")
    assert tbl.table_changes(v1, v2).count() == 0
    # and the mixed case: one stale row, one genuine win
    v3 = _commit(spark, tbl, [
        (7, TS, "delete", "t", "a", None),            # stale (seq 7 < 10)
        (30, TS, "update", "t", "b", ([3], 1, "s")),  # wins
    ], "mixed")
    ch = _changes(tbl, v2, v3)
    assert set(ch) == {"b"} and ch["b"]["change_type"] == "update"
    assert ch["b"]["post_tokens"] == [3]


def test_change_feed_schema_evolution_in_window(spark, tmp_path):
    """A column added mid-stream appears as post_<col>, null on pre-images
    of rows written before the evolution (mergeSchema semantics)."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    v1 = _commit(spark, tbl, [(1, TS, "insert", "t", "a", ([1], 1, "s"))], "A")
    evolved = _oplog(spark, [(2, TS, "update", "t", "a", ([2], 1, "s"))]).withColumn(
        "after", F.struct("after.*", F.lit("m1").alias("source_meta"))
    )
    v2 = tbl.commit_delta(collapse(evolved).drop("table"), batch_id="B")
    ch = _changes(tbl, v1, v2)
    assert ch["a"]["change_type"] == "update"
    assert ch["a"]["post_source_meta"] == "m1"
    assert ch["a"]["pre_source_meta"] is None  # pre-evolution pre-image


def test_change_feed_fallback_across_compact_matches_fast_path(two_batch_table):
    tbl, v_a, v_b = two_batch_table
    fast = _changes(tbl, v_a, v_b)
    tbl.compact()  # window (v_a, latest] now contains a compact
    slow = _changes(tbl, v_a)
    assert {k: r["change_type"] for k, r in slow.items()} == {
        k: r["change_type"] for k, r in fast.items()
    }
    for k in fast:
        assert slow[k]["pre_tokens"] == fast[k]["pre_tokens"]
        assert slow[k]["post_tokens"] == fast[k]["post_tokens"]


def test_change_feed_incremental_consumption_composes(spark, tmp_path):
    """Consuming epoch-by-epoch equals consuming the whole window at once
    (modulo updates collapsing across epochs) — the tailing-consumer use."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    versions = [0]
    versions.append(_commit(spark, tbl, [
        (1, TS, "insert", "t", "a", ([1], 1, "s")),
        (2, TS, "insert", "t", "b", ([2], 1, "s")),
    ], "e1"))
    versions.append(_commit(spark, tbl, [
        (3, TS, "update", "t", "a", ([3], 1, "s")),
        (4, TS, "insert", "t", "c", ([4], 1, "s")),
    ], "e2"))
    versions.append(_commit(spark, tbl, [
        (5, TS, "delete", "t", "b", None),
        (6, TS, "update", "t", "c", ([6], 1, "s")),
    ], "e3"))
    state: dict[str, list[int]] = {}
    for lo, hi in zip(versions, versions[1:]):
        for r in tbl.table_changes(lo, hi).collect():
            if r["change_type"] == "delete":
                state.pop(r["doc_id"])
            else:
                state[r["doc_id"]] = r["post_tokens"]
    final = {r["doc_id"]: r["tokens"] for r in tbl.read().collect()}
    assert state == final


def test_change_feed_prestate_is_key_filtered(two_batch_table):
    """Scale pin: the pre-state materialization joins the changed-key set
    BELOW its per-key aggregate (LeftSemi under the Aggregate), so the
    LWW shuffle carries changed keys only — never the whole table."""
    tbl, v_a, v_b = two_batch_table
    plan = tbl.table_changes(v_a, v_b)._jdf.queryExecution().optimizedPlan().toString()
    semi_at = plan.find("LeftSemi")
    assert semi_at != -1, plan
    # at least one Aggregate sits ABOVE the semi join in the plan text
    assert "Aggregate" in plan[:semi_at], plan


def test_change_feed_empty_window(two_batch_table):
    tbl, _, v_b = two_batch_table
    assert tbl.table_changes(v_b, v_b).count() == 0


def test_incremental_verify_over_change_feed(spark, two_batch_table):
    """V1 composed with the feed: a clean target verifies all-equal over
    exactly the changed upserts; a corrupted changed key is caught."""
    from yadex_spark import verify

    tbl, v_a, v_b = two_batch_table
    expected = _oplog(spark, [
        (5, TS, "update", "t", "a", ([5, 5], 2, "s2")),
        (7, TS, "insert", "t", "c", ([8], 1, "s2")),
        (4, TS, "insert", "t", "d", ([7], 1, "s1")),  # unchanged since v_a
    ]).select("doc_id", "after.*")
    d = verify.incremental_diff(expected, tbl, v_a)
    got = {r["doc_id"]: r["status"] for r in d.collect()}
    # a,c re-verified equal; b deleted on both sides -> no row; d not
    # changed since v_a -> not re-verified
    assert got == {"a": "equal", "c": "equal"}
    # corruption on a changed key is caught
    bad = expected.withColumn(
        "n_tok", F.when(F.col("doc_id") == "a", 99).otherwise(F.col("n_tok"))
    )
    d2 = verify.incremental_diff(bad, tbl, v_a)
    assert {r["doc_id"]: r["status"] for r in d2.collect()}["a"] == "changed"


def test_incremental_group_stats_equals_recompute(spark, tmp_path):
    """Delta rule over upserts: stats(vA) + feed-deltas == full
    recompute at vB, including a cross-group update (source move: the
    pre-image retracts from the old group, the post adds to the new)."""
    from yadex_spark.lake.cdf_views import (
        group_stats,
        incremental_group_stats,
    )

    tbl = LakeTable(spark, str(tmp_path / "lake"))
    v_a = _commit(spark, tbl, [
        (1, TS, "insert", "t", "a", ([10], 1, "s1")),
        (2, TS, "insert", "t", "b", ([20], 1, "s1")),
        (3, TS, "insert", "t", "c", ([30], 1, "s2")),
    ], "A")
    v_b = _commit(spark, tbl, [
        (4, TS, "update", "t", "a", ([11], 1, "s2")),  # s1 -> s2 move
        (5, TS, "delete", "t", "b", None),             # retract from s1
        (6, TS, "insert", "t", "d", ([40], 1, "s2")),
    ], "B")
    measures = {"n_docs": "1", "sum_tok0": "element_at(tokens, 1)"}
    base = group_stats(tbl.read(version=v_a), "source", measures)
    inc = incremental_group_stats(tbl, base, v_a, "source", measures, v_b)
    full = group_stats(tbl.read(version=v_b), "source", measures)
    as_map = lambda df: {r["source"]: (r["n_docs"], r["sum_tok0"]) for r in df.collect()}
    got, want = as_map(inc), as_map(full)
    assert got == want == {"s2": (3, 81)}  # s1 fully departed -> no row


def test_changes_from_zero_across_barrier_typed_nulls(spark, tmp_path):
    """Regression: table_changes(0, v) over a window containing a
    truncate falls back to the value diff, whose v_from=0 side is an
    EMPTY frame that only knows the key — its pre_<col> nulls must be
    TYPED or the eqNullSafe struct compare fails to resolve (found by
    driving a fresh logical replica of a lake whose chain contains a
    drop barrier)."""
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    _commit(spark, tbl, [
        (1, TS, "insert", "t", "a", ([1], 1, "s1")),
        (2, TS, "insert", "t", "b", ([2], 1, "s1")),
    ], "A")
    tbl.commit_truncate(batch_id="BAR", trunc_seq=2)  # kills a (_seq<2)
    _commit(spark, tbl, [
        (3, TS, "insert", "t", "c", ([3], 1, "s2")),
    ], "B")
    ch = _changes(tbl, 0)
    assert set(ch) == {"b", "c"}
    assert all(v["change_type"] == "insert" for v in ch.values())
    assert ch["c"]["post_source"] == "s2" and ch["c"]["pre_source"] is None
