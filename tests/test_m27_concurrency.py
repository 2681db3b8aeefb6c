"""M27 — concurrent writers and readers against one LakeTable.

The manifest commit claims optimistic concurrency (O_EXCL + link: two
racing writers cannot both claim a version, table.py:_commit_manifest).
This pins it under a real race: many threads committing deltas to the
SAME table through one SparkSession (Spark schedules concurrent jobs),
while reader threads continuously materialize state.

Laws: every commit lands exactly once, versions are contiguous and
unique, the final state is the union of every thread's keys, and no
concurrent read ever fails or sees a key count go backwards
(snapshot isolation over atomic manifests).
"""

from __future__ import annotations

import datetime
from concurrent.futures import ThreadPoolExecutor

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.collapse import collapse

TS = datetime.datetime(2026, 1, 1)
OPLOG_DDL = (
    "op_seq long, op_ts timestamp, op string, table string, doc_id string, "
    "after struct<tokens:array<int>,n_tok:int,source:string>"
)

N_WRITERS = 6
COMMITS_PER_WRITER = 4


def test_concurrent_commits_serialize_and_reads_never_break(spark, tmp_path):
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    errors: list[str] = []
    counts: list[int] = []

    def writer(i: int):
        try:
            for j in range(COMMITS_PER_WRITER):
                seq = i * 1000 + j
                rows = [(seq, TS, "insert", "t", f"k{i}-{j}", ([i, j], 2, f"s{i}"))]
                df = collapse(spark.createDataFrame(rows, OPLOG_DDL)).drop("table")
                v = tbl.commit_delta(df, batch_id=f"w{i}-{j}")
                assert v is not None
        except Exception as ex:  # surfaced below; threads must not die silently
            errors.append(f"writer{i}: {ex!r}")

    def reader(_: int):
        try:
            last = 0
            for _ in range(6):
                n = tbl.read().count()
                assert n >= last, f"count went backwards: {last} -> {n}"
                last = n
                counts.append(n)
        except Exception as ex:
            errors.append(f"reader: {ex!r}")

    with ThreadPoolExecutor(max_workers=N_WRITERS + 2) as ex:
        futs = [ex.submit(writer, i) for i in range(N_WRITERS)]
        futs += [ex.submit(reader, i) for i in range(2)]
        for f in futs:
            f.result()
    assert not errors, errors

    total = N_WRITERS * COMMITS_PER_WRITER
    snaps = tbl.snapshots()
    assert [s.version for s in snaps] == list(range(1, total + 1))
    assert len(tbl.committed_batch_ids()) == total
    got = {r["doc_id"] for r in tbl.read().collect()}
    assert got == {
        f"k{i}-{j}" for i in range(N_WRITERS) for j in range(COMMITS_PER_WRITER)
    }
    # a replayed batch_id from ANY thread is a no-op after the race
    rows = [(9_999, TS, "insert", "t", "dup", ([1], 1, "s"))]
    df = collapse(spark.createDataFrame(rows, OPLOG_DDL)).drop("table")
    assert tbl.commit_delta(df, batch_id="w0-0") is None
    assert "dup" not in {r["doc_id"] for r in tbl.read().collect()}


def test_checkpoint_scope_race_has_one_winner(tmp_path):
    """Threads of one process racing to create a checkpoint's scope id
    (two streams in one driver) all get the same scope and none fails:
    the O_EXCL publish uses a per-thread tmp file, so no thread can
    unlink or half-write another's."""
    import sys
    import threading

    from yadex_spark.streaming.ingest_core import checkpoint_scope

    n = 8
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for r in range(6):
            ckpt = str(tmp_path / f"ckpt{r}")
            start = threading.Barrier(n)
            scopes: list[str] = []
            errors: list[str] = []

            def claim():
                start.wait(timeout=30)
                try:
                    scopes.append(checkpoint_scope(ckpt))
                except Exception as ex:  # noqa: BLE001 - the law is "none raises"
                    errors.append(repr(ex))

            threads = [threading.Thread(target=claim) for _ in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
                assert not t.is_alive()
            assert errors == [] and len(scopes) == n and len(set(scopes)) == 1
    finally:
        sys.setswitchinterval(old_switch)


def test_watermark_race_never_raises(tmp_path):
    """Threads of one process advancing one lake's ``_watermarks.json``
    at once (two pipelines in one driver) never fail: each replace goes
    through a per-thread tmp file, so no thread can publish or lose
    another's.  Every thread gets back its own table's watermark, the
    file stays valid JSON and no tmp file is left behind."""
    import json
    import os
    import sys
    import threading

    from yadex_spark.streaming.pipeline import CdcPipeline

    n = 8
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for r in range(6):
            lake = str(tmp_path / f"lake{r}")
            pipe = CdcPipeline(None, str(tmp_path / "feed"), lake, str(tmp_path / "ckpt"))
            start = threading.Barrier(n)
            got: dict[int, dict] = {}
            errors: list[str] = []

            def advance(i):
                start.wait(timeout=30)
                try:
                    got[i] = pipe._advance_watermarks({f"t{i}": TS + datetime.timedelta(seconds=i)})
                except Exception as ex:  # noqa: BLE001 - the law is "none raises"
                    errors.append(repr(ex))

            threads = [threading.Thread(target=advance, args=(i,)) for i in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
                assert not t.is_alive()
            assert errors == []
            assert all(got[i][f"t{i}"] == TS + datetime.timedelta(seconds=i) for i in range(n))
            assert os.listdir(lake) == ["_watermarks.json"]
            with open(os.path.join(lake, "_watermarks.json")) as f:
                assert json.load(f)
    finally:
        sys.setswitchinterval(old_switch)
