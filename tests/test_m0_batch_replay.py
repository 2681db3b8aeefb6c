"""M0 — minimum end-to-end slice (SURVEY.md §7.2):

generate a deterministic oplog → collapse per key → apply as one
batch-MERGE into a LakeTable → verify against the single-threaded
pandas replay oracle under token-array equality.

Reference analogues: TestSync end-to-end semantics
(/root/reference/msync/msync_test.go:72-126) and compare-dbs diff.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.collapse import collapse
from yadex_spark.operators.route import Router
from yadex_spark.oracle import replay, state_to_pdf
from yadex_spark.schema import oplog_schema
from yadex_spark.sources.genlog import gen_oplog
from yadex_spark.streaming.pipeline import EpochRules
from yadex_spark.verify import assert_equal_state, diff_counts

N_EVENTS = 10_000
N_DOCS = 2_000


@pytest.fixture(scope="module")
def oplog(spark):
    df = gen_oplog(spark, N_EVENTS, N_DOCS, seed=42)
    df.cache().count()
    return df


def test_generator_deterministic_and_typed(spark, oplog):
    # compare types (nullability flags differ for generated columns)
    assert oplog.schema.simpleString() == oplog_schema().simpleString()
    again = gen_oplog(spark, N_EVENTS, N_DOCS, seed=42)
    assert oplog.exceptAll(again).count() == 0
    assert again.exceptAll(oplog).count() == 0
    ops = dict(oplog.groupBy("op").count().collect())
    # FIXTURES.md mix: ~55% insert, ~30% update/replace, ~15% delete
    assert 0.45 < ops["insert"] / N_EVENTS < 0.65
    assert ops["delete"] / N_EVENTS > 0.10


def test_generator_skew_exists(oplog):
    top = (
        oplog.groupBy("doc_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    # log-uniform law: hottest key gets far more than uniform share
    assert top["count"] > 10 * (N_EVENTS / N_DOCS)


def test_collapse_impls_agree(spark, oplog):
    # cached: the Arrow grouped-map collapse is the slow side, compared 3x
    b = collapse(oplog.where("op != 'drop'"), impl="arrow", n_salt=4).cache()
    c = collapse(oplog.where("op != 'drop'"), impl="narrow")
    assert b.count() == c.count()
    assert b.exceptAll(c).count() == 0
    assert c.exceptAll(b).count() == 0
    b.unpersist()


def test_collapse_is_one_row_per_key(oplog):
    c = collapse(oplog.where("op != 'drop'"))
    dup = c.groupBy("table", "doc_id").count().where("count > 1").count()
    assert dup == 0


def test_batch_replay_matches_oracle(spark, tmp_path, oplog, one_epoch):
    live = one_epoch(oplog).live
    collapsed = collapse(live).where(F.col("doc_id").isNotNull())

    tbl = LakeTable(spark, str(tmp_path / "seqs"))
    batch = collapsed.where(F.col("table") == "seqs").drop("table")
    assert tbl.commit_delta(batch, batch_id="b0") == 1
    actual = tbl.read()

    expected_pdf = state_to_pdf(replay(oplog.toPandas()), "seqs")
    expected = spark.createDataFrame(
        expected_pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    assert_equal_state(expected, actual)


def test_idempotent_recommit(spark, tmp_path, oplog, one_epoch):
    live = one_epoch(oplog).live
    batch = collapse(live).where("table = 'seqs'").drop("table")
    tbl = LakeTable(spark, str(tmp_path / "seqs2"))
    v1 = tbl.commit_delta(batch, batch_id="epoch-0")
    v2 = tbl.commit_delta(batch, batch_id="epoch-0")  # replayed epoch
    assert v1 == 1 and v2 is None
    assert tbl.latest_version() == 1


def test_drop_barrier(spark, tmp_path, one_epoch):
    """A 'drop' kills all prior state for its table; later events apply
    (reference: buffer discard + collection drop, msync/input.go:113-123).
    The barrier is the pipeline's own epoch filter."""
    drop_seq = 6_000
    oplog = gen_oplog(spark, N_EVENTS, N_DOCS, seed=43, drop_at=(drop_seq,))
    ep = one_epoch(oplog)
    live = ep.live
    assert len(ep.barriers) == 1

    tbl = LakeTable(spark, str(tmp_path / "seqs3"))
    tbl.commit_truncate(batch_id="b0-trunc")
    batch = collapse(live).where("table = 'seqs'").drop("table")
    tbl.commit_delta(batch, batch_id="b0")
    actual = tbl.read()

    expected_pdf = state_to_pdf(replay(oplog.toPandas()), "seqs")
    expected = spark.createDataFrame(
        expected_pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    assert_equal_state(expected, actual)


def test_compaction_preserves_state(spark, tmp_path, oplog, one_epoch):
    """Split the oplog into 4 sequential batches, compact mid-way; final
    state identical to single-batch apply."""
    live = one_epoch(oplog).live
    live = live.where("table = 'seqs'")
    tbl = LakeTable(spark, str(tmp_path / "seqs4"))
    span = N_EVENTS // 4
    for i in range(4):
        part = live.where((F.col("op_seq") >= i * span) & (F.col("op_seq") < (i + 1) * span))
        tbl.commit_delta(collapse(part).drop("table"), batch_id=f"e{i}")
        if i == 1:
            tbl.compact()
    actual = tbl.read()

    ref = LakeTable(spark, str(tmp_path / "seqs4ref"))
    ref.commit_delta(collapse(live).drop("table"), batch_id="all")
    expected = ref.read()
    assert_equal_state(expected, actual)
    assert diff_counts(expected, actual)["equal"] == expected.count()


def test_field_diff_reports_what_changed(spark):
    """V2: per-field change report (compare-dbs.go:327-380 — which
    fields differ, arrays element-wise, float tolerance)."""
    from yadex_spark.verify import field_diff

    exp = spark.createDataFrame(
        [("a", [1, 2], 0.5, "web"), ("b", [3], 0.25, "code"), ("c", [9], 1.0, "wiki")],
        "doc_id string, tokens array<int>, score double, source string",
    )
    act = spark.createDataFrame(
        [("a", [1, 2], 0.5, "web"),          # equal
         ("b", [3, 4], 0.2500001, "books"),  # tokens + source changed; score within tol
         ("d", [7], 0.1, "web")],            # added (not a field diff)
        "doc_id string, tokens array<int>, score double, source string",
    )
    got = {
        (r["doc_id"], r["field"]): (r["expected"], r["actual"])
        for r in field_diff(exp, act, float_tolerance=1e-3).collect()
    }
    assert got == {
        ("b", "tokens"): ("3", "3,4"),
        ("b", "source"): ("code", "books"),
    }
    # without tolerance the float diff is reported too
    strict = {r["field"] for r in field_diff(exp, act).collect()}
    assert strict == {"tokens", "source", "score"}


def test_field_diff_null_transitions_with_tolerance(spark):
    """A null<->non-null change on a float field must be reported even
    with float_tolerance set: (l - r) with a null side is NULL, and the
    old ~(false | NULL) silently dropped the diff row."""
    from yadex_spark.verify import field_diff

    exp = spark.createDataFrame(
        [("a", 0.5), ("b", None), ("c", None)], "doc_id string, score double"
    )
    act = spark.createDataFrame(
        [("a", None), ("b", 0.25), ("c", None)], "doc_id string, score double"
    )
    got = {
        (r["doc_id"], r["field"])
        for r in field_diff(exp, act, float_tolerance=1e-3).collect()
    }
    assert got == {("a", "score"), ("b", "score")}  # c (null==null) not reported

    # equal NaN / equal Inf reproduced by both sides must NOT be
    # reported as a score diff (NaN - NaN is NaN, so the tolerance test
    # alone says "changed"; Spark's null-safe equality treats NaN<=>NaN
    # as equal).  The rows differ in `src` so they reach the per-field
    # expressions as status='changed'.
    nan, inf = float("nan"), float("inf")
    exp2 = spark.createDataFrame(
        [("a", nan, "x"), ("b", inf, "x"), ("c", nan, "x")],
        "doc_id string, score double, src string",
    )
    act2 = spark.createDataFrame(
        [("a", nan, "y"), ("b", inf, "y"), ("c", 1.0, "y")],
        "doc_id string, score double, src string",
    )
    got2 = {
        (r["doc_id"], r["field"])
        for r in field_diff(exp2, act2, float_tolerance=1e-3).collect()
    }
    assert got2 == {
        ("a", "src"), ("b", "src"), ("c", "src"),
        ("c", "score"),  # the one real float change (NaN -> 1.0)
    }


def test_compaction_keeps_tombstones_against_late_arrivals(spark, tmp_path):
    """Out-of-order epoch arrival across a compaction: a late pre-delete
    upsert (lower op_seq committed after compact) must NOT resurrect a
    deleted key — compaction retains tombstones by default.  With
    min_live_seq (the feed's replay low-watermark) dead tombstones are
    garbage-collected."""
    tbl = LakeTable(spark, str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, op string, op_seq long, after struct<x:int>"
    )
    # epoch B (arrives first): delete k1 at seq 10, upsert k2 at seq 11
    tbl.commit_delta(mk([("k1", "delete", 10, None), ("k2", "insert", 11, (2,))]), "eB")
    tbl.compact()  # default: tombstone for k1 survives
    # epoch A (late, lower seqs): the pre-delete upsert of k1
    tbl.commit_delta(mk([("k1", "insert", 5, (1,))]), "eA")
    state = {r["doc_id"]: r["x"] for r in tbl.read().collect()}
    assert state == {"k2": 2}  # k1 stays dead
    # GC: everything below seq 6 can never arrive again -> k1's tombstone
    # (seq 10) is still live, so it must survive even this GC pass
    tbl.compact(min_live_seq=6)
    assert {r["doc_id"] for r in tbl.read().collect()} == {"k2"}
    # ...but once the watermark passes it, the tombstone is collected
    tbl.compact(min_live_seq=11)
    snaps, kill = tbl._active_chain()
    rows = tbl._materialize(snaps, keep_deleted=True, kill_seq=kill).collect()
    assert {r["doc_id"] for r in rows} == {"k2"}


def test_vacuum_expires_precompact_snapshots(spark, tmp_path, oplog, one_epoch):
    """vacuum() removes data files unreachable from the active chain;
    current reads survive, pre-compaction time travel expires."""
    live = one_epoch(oplog).live
    live = live.where("table = 'seqs'")
    tbl = LakeTable(spark, str(tmp_path / "v"))
    tbl.commit_delta(collapse(live.where("op_seq < 5000")).drop("table"), "e0")
    tbl.commit_delta(collapse(live.where("op_seq >= 5000")).drop("table"), "e1")
    before = tbl.read().count()
    tbl.compact()
    removed = tbl.vacuum()
    assert len(removed) == 2  # both pre-compact deltas collected
    assert tbl.read().count() == before  # current state intact
    with pytest.raises(Exception):
        tbl.read(version=1).collect()  # expired time travel


def test_concurrent_writers_cannot_claim_one_version(spark, tmp_path):
    """Optimistic concurrency (manifest O_EXCL): N interleaved writers
    race the version counter; every commit lands on a distinct version
    and no batch is lost (Iceberg-style commit protocol).

    Only the manifest claim is raced — the protocol under test is the
    driver-side O_EXCL link (the analogue of the reference's serialized
    bookmark commit, /root/reference/msync/changecoll_test.go:9-45).
    The data files are written ONCE up front: racing whole
    ``commit_delta`` calls from Python threads races Spark's write path
    through one shared session, which is a session-thread-safety stress
    test, not this protocol — and it flaked (round-2 verdict #1)."""
    import threading

    path = str(tmp_path / "race")
    tbl = LakeTable(spark, path)
    df = spark.createDataFrame(
        [("k1", "insert", 1, (1,))],
        "doc_id string, op string, op_seq long, after struct<x:int>",
    )
    tbl.commit_delta(df, batch_id="seed")  # one real write; races reuse its dir
    rel = tbl.snapshots()[-1].files_dir
    writers = [LakeTable(spark, path) for _ in range(4)]
    results: dict[str, int] = {}
    start = threading.Barrier(len(writers))

    def commit(w, tag):
        start.wait()  # maximize interleaving
        for i in range(8):
            results[f"{tag}{i}"] = w._commit_manifest(
                "delta", f"{tag}-{i}", "doc_id string", 1, rel
            )

    threads = [
        threading.Thread(target=commit, args=(w, chr(ord("a") + j)))
        for j, w in enumerate(writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    versions = sorted(results.values())
    assert versions == list(range(2, 34))  # 32 distinct versions after the seed
    ids = [s.batch_id for s in tbl.snapshots() if s.batch_id]
    assert len(ids) == len(set(ids)) == 33

    # every writer replays ONE epoch: the claim decides "already
    # committed" from the same log parse that yields its version, so a
    # writer that loses the O_EXCL race cannot retry the batch id into
    # a second version
    def replay(w, bid):
        start.wait()
        w.commit_delta_dir(rel, bid, 1, "doc_id string")

    for r in range(5):
        threads = [
            threading.Thread(target=replay, args=(w, f"same-epoch-{r}"))
            for w in writers
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        ids = [s.batch_id for s in tbl.snapshots()]
        assert ids.count(f"same-epoch-{r}") == 1


def test_lineage_stats(oplog):
    """The pipeline's per-table lineage stats (EpochRules.routed().stats)
    over the raw events: op counts and the offset range."""
    tables = sorted(r["table"] for r in oplog.select("table").distinct().collect())
    rules = EpochRules(None).routed({t: Router().classify(t) for t in tables})
    st = oplog.where("op != 'drop'").agg(*rules.stats).first()
    idx = range(len(rules.names))
    agg = [
        sum(st[f"ni_{i}"] for i in idx), sum(st[f"nu_{i}"] for i in idx),
        sum(st[f"nd_{i}"] for i in idx), min(st[f"lo_{i}"] for i in idx),
        max(st[f"hi_{i}"] for i in idx),
    ]
    assert agg[0] + agg[1] + agg[2] == N_EVENTS
    assert agg[3] == 0 and agg[4] == N_EVENTS - 1


def test_typed_empty_read_after_truncate(spark, tmp_path):
    """A truncated (or fully-deleted) table reads back EMPTY but TYPED —
    the latest manifest's recorded schema — so verify.diff against an
    expected frame reports all-removed instead of raising on missing
    columns."""
    from yadex_spark.verify import diff

    tbl = LakeTable(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame(
        [("d1", "insert", 1, ([1, 2], 2, "web"))],
        "doc_id string, op string, op_seq long, "
        "after struct<tokens:array<int>,n_tok:int,source:string>",
    )
    tbl.commit_delta(batch, batch_id="b0")
    assert tbl.read().columns == ["doc_id", "tokens", "n_tok", "source"]
    tbl.commit_truncate(batch_id="b1-trunc")
    empty = tbl.read()
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "tokens", "n_tok", "source"]
    expected = spark.createDataFrame(
        [("d1", [1, 2], 2, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    d = diff(expected, empty)
    assert [(r["doc_id"], r["status"]) for r in d.collect()] == [("d1", "removed")]
    # a never-written table still falls back to the bare key schema
    fresh = LakeTable(spark, str(tmp_path / "fresh"))
    assert fresh.read().columns == ["doc_id"]


def test_empty_delta_commits_nothing(spark, tmp_path):
    """An all-filtered (0-row) delta must not chain an empty parquet
    snapshot (no readable schema) nor burn a version."""
    tbl = LakeTable(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame(
        [("d1", "insert", 1, ([1], 1, "web"))],
        "doc_id string, op string, op_seq long, "
        "after struct<tokens:array<int>,n_tok:int,source:string>",
    )
    tbl.commit_delta(batch, batch_id="b0")
    v = tbl.latest_version()
    assert tbl.commit_delta(batch.where("op_seq < 0"), batch_id="b1") is None
    assert tbl.latest_version() == v
    # a staged epoch whose table got no rows has no files dir at all
    missing = str(tmp_path / "staging" / "table=t")
    assert tbl.commit_delta_dir(missing, "b2", n_rows=0, schema_ddl="doc_id string") is None
    assert tbl.latest_version() == v
    assert tbl.read().count() == 1  # chain still readable


def test_read_keys_fast_path_matches_read(spark, tmp_path):
    """Insert-only fast path: read_keys == read()'s key set, with no
    LWW aggregation in the plan."""
    tbl = LakeTable(spark, str(tmp_path / "t"))
    for i in range(3):
        batch = spark.createDataFrame(
            [(f"h{i}-{j}", "insert", i * 10 + j, (f"doc{j}",)) for j in range(4)],
            "doc_id string, op string, op_seq long, after struct<canonical:string>",
        )
        tbl.commit_delta(batch, batch_id=f"b{i}")
    keys = {r["doc_id"] for r in tbl.read_keys().collect()}
    assert keys == {r["doc_id"] for r in tbl.read().select("doc_id").collect()}
    assert len(keys) == 12
    plan = tbl.read_keys()._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan


def test_maintenance_lease_steal_and_release_guards(tmp_path):
    """Lease hygiene (ADVICE r3): a fresh lease blocks; a stale lease is
    stolen with nonce confirmation; a holder never releases a lock that
    was legitimately re-stolen from it (overrun past the staleness
    window)."""
    import json
    import os
    import time

    from yadex_spark.lake.lease import maintenance_lease

    root = str(tmp_path)
    path = os.path.join(root, "_maintenance.lock")

    # fresh holder -> refused
    with open(path, "w") as f:
        json.dump({"pid": 1, "nonce": "x", "at": time.time()}, f)
    import pytest as _pt
    with _pt.raises(RuntimeError, match="already running"):
        with maintenance_lease(root):
            pass
    assert os.path.exists(path)  # refusal must not delete the live lock

    # stale holder -> stolen, lock removed on clean exit
    with open(path, "w") as f:
        json.dump({"pid": 1, "nonce": "x", "at": time.time() - 7200}, f)
    with maintenance_lease(root):
        assert json.load(open(path))["pid"] == os.getpid()
    assert not os.path.exists(path)

    # overrun holder: lock re-stolen mid-run -> holder must NOT release
    with maintenance_lease(root):
        with open(path, "w") as f:
            json.dump({"pid": 2, "nonce": "thief", "at": time.time()}, f)
    assert os.path.exists(path)
    assert json.load(open(path))["nonce"] == "thief"
    os.unlink(path)
