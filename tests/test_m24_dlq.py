"""M24 — dead-letter quarantine for malformed events.

The reference's bulk-write error path advances the bookmark anyway
(msync/bulkwrite.go:96-110), so a malformed event is lost forever; the
pipeline previously filtered keyless rows silently and would have
APPLIED an unknown verb as an upsert.  Laws pinned here:

- malformed rows (unknown op, null op_seq, keyless row op) never reach
  the lake, land in the DLQ with the right reason, and healthy rows in
  the same epoch apply normally (oracle equality);
- system rows (null table) and table-level drops stay NON-quarantined
  (they are intended reference semantics, not malformations);
- the DLQ write precedes the lineage completion proof and is
  deterministic per (scope, epoch): a crash-replayed epoch cannot lose
  or duplicate quarantined rows;
- re-injecting repaired rows as a fresh feed chunk converges (op_seq
  placement under LWW).
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from yadex_spark.oracle import replay, state_to_pdf
from yadex_spark.schema import oplog_schema
from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
from yadex_spark.streaming.pipeline import CdcPipeline
from yadex_spark.verify import assert_equal_state

TS = datetime.datetime(2026, 1, 1)
N_EVENTS = 4_000
N_DOCS = 800


def _nullable_oplog_schema():
    """A producer can ship any nullability; the engine must cope.  The
    canonical schema pins op_seq non-null, so malformed fixtures build
    through an all-nullable copy (parquet carries it fine)."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in oplog_schema().fields]
    )


def _bad_rows(spark):
    """Three malformed + two healthy-but-weird-looking rows."""
    rows = [
        # unknown verb — must NOT be applied as an upsert
        (N_EVENTS + 1, TS, "upsertMany", "seqs", "poison1", ([1], 1, "s1")),
        # no order key — unorderable under LWW
        (None, TS, "update", "seqs", "poison2", ([2], 1, "s1")),
        # keyless row op
        (N_EVENTS + 3, TS, "insert", "seqs", None, ([3], 1, "s1")),
        # system/DB-level row (null table): reference-intended drop, NOT DLQ
        (N_EVENTS + 4, TS, "insert", None, "sysrow", ([4], 1, "s1")),
    ]
    return spark.createDataFrame(rows, _nullable_oplog_schema())


def _feed(spark, tmp_path):
    oplog = gen_oplog(spark, N_EVENTS, N_DOCS, seed=21)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=3)
    # malformed rows arrive in a later chunk (their own epoch tail)
    _bad_rows(spark).write.mode("append").parquet(path)
    return oplog, path


def _pipe(spark, tmp_path, path) -> CdcPipeline:
    return CdcPipeline(
        spark,
        oplog_dir=path,
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def test_malformed_rows_quarantined_healthy_rows_applied(spark, tmp_path):
    oplog, path = _feed(spark, tmp_path)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()

    # the lake equals the oracle replay of the HEALTHY feed alone
    pdf = state_to_pdf(replay(oplog.toPandas()), "seqs")
    expected = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    assert_equal_state(expected, pipe.table("seqs").read())
    live_ids = {r["doc_id"] for r in pipe.table("seqs").read().collect()}
    assert not live_ids & {"poison1", "poison2", "sysrow"}

    got = {
        (r["doc_id"], r["reason"]) for r in pipe.dlq().collect()
    }
    assert got == {
        ("poison1", "unknown_op"),
        ("poison2", "null_seq"),
        (None, "null_key"),
    }


def test_dlq_precedes_lineage_and_replay_is_idempotent(spark, tmp_path):
    _, path = _feed(spark, tmp_path)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    assert pipe.dlq().count() == 3

    # crash-replay simulation: re-run the LAST epoch's foreachBatch body.
    # Its lineage file exists, so apply_batch must skip all work and the
    # DLQ must be unchanged (the write happened before the proof).
    last = pipe.last_applied_epoch()
    assert last is not None
    pipe.apply_batch(spark.createDataFrame([], oplog_schema()), last)
    assert pipe.dlq().count() == 3

    # harder crash: lineage proof missing (epoch died mid-write) — the
    # replayed epoch rewrites the SAME deterministic DLQ dir, no dupes
    os.remove(pipe._lineage_path(last))
    pipe.apply_batch(spark.createDataFrame([], oplog_schema()), last)
    assert pipe.dlq().count() == 3
    reasons = {r["reason"] for r in pipe.dlq().collect()}
    assert reasons == {"unknown_op", "null_seq", "null_key"}


def test_clean_feed_pays_nothing_and_dlq_reads_empty(spark, tmp_path):
    oplog = gen_oplog(spark, 2_000, 400, seed=22)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=2)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    assert not os.path.isdir(os.path.join(str(tmp_path / "lake"), "_dlq"))
    df = pipe.dlq()  # typed empty frame, schema stable
    assert df.count() == 0
    assert {"reason", "epoch_id", "doc_id", "op", "op_seq"} <= set(df.columns)


def test_repaired_rows_reinject_and_converge(spark, tmp_path):
    oplog, path = _feed(spark, tmp_path)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()

    # operator repairs the quarantined rows (fills verb/seq/key) and
    # re-injects them as a fresh feed chunk; LWW places them by op_seq
    repaired = spark.createDataFrame(
        [
            (N_EVENTS + 1, TS, "insert", "seqs", "poison1", ([1], 1, "s1")),
            (N_EVENTS + 2, TS, "update", "seqs", "poison1", ([2, 2], 2, "s1")),
        ],
        oplog_schema(),
    )
    repaired.write.mode("append").parquet(path)
    pipe.run_available_now()
    got = {
        r["doc_id"]: r["n_tok"] for r in pipe.table("seqs").read().collect()
    }
    assert got["poison1"] == 2  # the higher-seq repair won
    assert pipe.dlq().count() == 3  # quarantine history is an audit log


def test_quarantine_reason_is_first_match_and_drop_is_healthy(spark):
    from yadex_spark.streaming.pipeline import quarantine_reason

    df = spark.createDataFrame(
        [
            (10, TS, "drop", "seqs", None, None),        # healthy barrier
            (11, TS, "insert", "seqs", "a", ([1], 1, "s")),  # healthy
            (None, TS, "nonsense", "seqs", None, None),  # 2 faults: op wins
        ],
        _nullable_oplog_schema(),
    ).withColumn("reason", quarantine_reason())
    got = {r["op_seq"]: r["reason"] for r in df.collect()}
    assert got == {10: None, 11: None, None: "unknown_op"}


def _repair(df):
    """Operator's fix: name the verb, assign the missing order key.
    The keyless row is left broken on purpose — the redrive epoch must
    re-quarantine it rather than lose or apply it."""
    return df.withColumn(
        "op",
        F.when(F.col("reason") == "unknown_op", F.lit("insert")).otherwise(
            F.col("op")
        ),
    ).withColumn(
        "op_seq",
        F.when(F.col("reason") == "null_seq", F.lit(N_EVENTS + 2)).otherwise(
            F.col("op_seq")
        ),
    )


def test_redrive_applies_fixed_rows_and_requarantines_the_rest(spark, tmp_path):
    oplog, path = _feed(spark, tmp_path)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    old_epochs = {r["epoch_id"] for r in pipe.dlq().collect()}

    n = pipe.redrive_dlq(_repair)
    assert n == 3  # every quarantined row handed back, fixed or not
    assert pipe.dlq().count() == 0  # consumed dirs are gone pre-drain

    pipe.run_available_now()

    # lake == oracle replay of healthy feed + the two repaired events
    import pandas as pd

    repaired = pd.DataFrame(
        [
            {"op_seq": N_EVENTS + 1, "op_ts": TS, "op": "insert",
             "table": "seqs", "doc_id": "poison1",
             "after": {"tokens": [1], "n_tok": 1, "source": "s1"}},
            {"op_seq": N_EVENTS + 2, "op_ts": TS, "op": "update",
             "table": "seqs", "doc_id": "poison2",
             "after": {"tokens": [2], "n_tok": 1, "source": "s1"}},
        ]
    )
    full = pd.concat([oplog.toPandas(), repaired], ignore_index=True)
    pdf = state_to_pdf(replay(full), "seqs")
    expected = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    assert_equal_state(expected, pipe.table("seqs").read())

    # the unfixable row re-quarantined under a FRESH epoch, same reason
    left = pipe.dlq().collect()
    assert [(r["doc_id"], r["reason"]) for r in left] == [(None, "null_key")]
    assert left[0]["epoch_id"] not in old_epochs


def test_redrive_duplicate_injection_is_state_idempotent(spark, tmp_path):
    """Crash between feed-append and DLQ-dir removal => the retry
    re-appends the same rows.  Simulated by appending the repaired rows
    a second time by hand: final state must not change (per-key LWW)."""
    oplog, path = _feed(spark, tmp_path)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    pipe.redrive_dlq(_repair)
    pipe.run_available_now()
    before = {(r["doc_id"], tuple(r["tokens"] or []), r["n_tok"])
              for r in pipe.table("seqs").read().collect()}

    dup = spark.createDataFrame(
        [
            (N_EVENTS + 1, TS, "insert", "seqs", "poison1", ([1], 1, "s1")),
            (N_EVENTS + 2, TS, "update", "seqs", "poison2", ([2], 1, "s1")),
        ],
        oplog_schema(),
    )
    dup.write.mode("append").parquet(path)
    pipe.run_available_now()
    after = {(r["doc_id"], tuple(r["tokens"] or []), r["n_tok"])
             for r in pipe.table("seqs").read().collect()}
    assert after == before


def test_redrive_empty_dlq_is_a_noop(spark, tmp_path):
    oplog = gen_oplog(spark, 1_000, 200, seed=23)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=1)
    pipe = _pipe(spark, tmp_path, path)
    pipe.run_available_now()
    assert pipe.redrive_dlq(_repair) == 0


def test_expectations_quarantine_contract_violations(spark, tmp_path):
    """RoutePattern.expect (the Delta Live Tables expect_or_drop shape):
    data-setting rows failing the payload contract are quarantined with
    reason 'expectation' instead of applied; deletes are exempt (no
    payload to judge); the lake equals the oracle replay of the
    CONFORMING feed alone."""
    from yadex_spark.operators.route import Router, RoutePattern

    oplog = gen_oplog(spark, N_EVENTS, N_DOCS, seed=29)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=2)
    rows = [
        # violates the contract below (n_tok must be <= 1000)
        (N_EVENTS + 1, TS, "insert", "seqs", "fat1", ([1], 9999, "s1")),
        # NULL expectation value == violation (SQL CHECK under ingest)
        (N_EVENTS + 2, TS, "insert", "seqs", "nullq", ([2], None, "s1")),
        # delete is exempt even though it carries no payload
        (N_EVENTS + 3, TS, "delete", "seqs", "u1", None),
    ]
    rows_df = spark.createDataFrame(rows, _nullable_oplog_schema())
    rows_df.write.mode("append").parquet(path)

    pipe = CdcPipeline(
        spark,
        oplog_dir=path,
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        router=Router(patterns=(
            RoutePattern(r"seqs", "ST", exclude=(), expect="after.n_tok <= 1000"),
        )),
    )
    pipe.run_available_now()

    # oracle: healthy feed + the delete, WITHOUT the two violators
    healthy = oplog.toPandas()
    extra = rows_df.where(F.col("op") == "delete").toPandas()
    import pandas as pd

    pdf = state_to_pdf(replay(pd.concat([healthy, extra], ignore_index=True)), "seqs")
    expected = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    assert_equal_state(expected, pipe.table("seqs").read())
    live_ids = {r["doc_id"] for r in pipe.table("seqs").read().collect()}
    assert not live_ids & {"fat1", "nullq"} and "u1" not in live_ids

    got = {(r["doc_id"], r["reason"]) for r in pipe.dlq().collect()}
    assert got == {("fat1", "expectation"), ("nullq", "expectation")}


def test_rt_expectation_epoch_counts_late_rows_and_quarantines(spark, tmp_path):
    """One epoch carrying both an RT expiry window and an expectation:
    the late count still reaches lineage (it rides the late-count
    Observation, which only such epochs attach) and the violators still
    reach the DLQ."""
    import pandas as pd

    from yadex_spark.operators.route import RT, RoutePattern, Router

    oplog = gen_oplog(spark, N_EVENTS, N_DOCS, seed=31, late_frac=0.05, late_lag_ms=10_000)
    max_ts = oplog.agg(F.max("op_ts")).first()[0]
    violators = spark.createDataFrame(
        [(N_EVENTS + 1, max_ts, "insert", "seqs", "fat1", ([1], 9999, "s1"))],
        _nullable_oplog_schema(),
    )
    path = str(tmp_path / "oplog")
    oplog.unionByName(violators).coalesce(1).write.parquet(path)  # ONE epoch
    pipe = CdcPipeline(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        router=Router(patterns=(
            RoutePattern(r"seqs", RT, expires_ms=5_000, expect="after.n_tok <= 1000"),
        )),
    )
    pipe.run_available_now()

    pdf = oplog.toPandas()
    want_late = int((pdf.op_ts < max_ts - pd.Timedelta(milliseconds=5_000)).sum())
    lin = pipe.lineage().collect()
    assert [r["batch_id"] for r in lin] == [0]
    assert want_late > 0 and lin[0]["n_dropped_late"] == want_late
    assert {(r["doc_id"], r["reason"]) for r in pipe.dlq().collect()} == {("fat1", "expectation")}


@pytest.mark.parametrize("tier", ["ST", "RT"])
def test_epoch_with_no_live_rows_writes_zero_lineage(spark, tmp_path, monkeypatch, tier):
    """An epoch whose rows are all malformed or below its drop barrier
    collapses to nothing, and lineage records zero counts.  An ST epoch
    attaches no late-count Observation and its stats Observation fires
    over the empty result.  An RT epoch's late-count Observation sits in
    the subtree AQE drops as empty, never fires, and the epoch takes the
    recompute fallback."""
    from pyspark.sql import Observation

    from yadex_spark.operators.route import RoutePattern, Router
    from yadex_spark.streaming import pipeline

    unfired = []

    class SpyObservation(Observation):
        @property
        def get(self):
            try:
                return Observation.get.fget(self)
            except Exception:
                unfired.append(self)
                raise

    monkeypatch.setattr(pipeline, "Observation", SpyObservation)
    oplog = gen_oplog(spark, 1_000, 200, seed=37, num_partitions=1)
    path = str(tmp_path / "oplog")
    oplog.write.parquet(path)
    spark.createDataFrame(
        [
            (N_EVENTS + 1, TS, "insert", "seqs", "k1", ([1], 1, "s1")),
            (N_EVENTS + 2, TS, "update", "seqs", "k1", ([1], 2, "s1")),
            (N_EVENTS + 3, TS, "drop", "seqs", None, None),
            (N_EVENTS + 4, TS, "bogus", "seqs", "k2", ([1], 1, "s1")),
        ],
        _nullable_oplog_schema(),
    ).coalesce(1).write.mode("append").parquet(path)
    pipe = CdcPipeline(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        router=Router(patterns=(RoutePattern(".*", tier, expires_ms=5_000),)),
    )
    pipe.run_available_now()

    last = max(pipe.lineage().collect(), key=lambda r: r["batch_id"])
    assert last["batch_id"] == 1 and bool(unfired) == (tier == "RT")
    counts = ("n_insert", "n_update", "n_delete", "n_dropped_late")
    assert [last[c] for c in counts] == [0, 0, 0, 0]
    assert last["offset_lo"] is None and last["offset_hi"] is None
    assert pipe.table("seqs").read().count() == 0  # the drop killed all history
    assert [(r["doc_id"], r["reason"]) for r in pipe.dlq().collect()] == [("k2", "unknown_op")]
