"""M41 — the CDC epoch's fixed driver cost stays paid once.

- the session turns off PySpark's call-site capture (about five JVM
  round trips per Column or DataFrame call) and writes streaming
  checkpoint metadata through the FileSystem checkpoint manager;
- a pipeline builds its epoch rules once: a multi-epoch drain calls the
  quarantine classifier and the expectation builder once in total, not
  once (or twice) per epoch, and still lands on the oracle's state.
"""

from __future__ import annotations

import datetime
from collections import Counter

from yadex_spark.oracle import replay, state_to_pdf
from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
from yadex_spark.streaming import pipeline
from yadex_spark.streaming.pipeline import CdcPipeline
from yadex_spark.verify import assert_equal_state

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_session_skips_call_site_capture_and_uses_fs_checkpoints(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == FS_MANAGER


def test_epoch_rules_are_built_once_per_pipeline(spark, tmp_path, monkeypatch):
    calls = Counter()
    for name in ("quarantine_reason", "expect_fail"):
        def counted(*a, _fn=getattr(pipeline, name), _name=name):
            calls[_name] += 1
            return _fn(*a)

        monkeypatch.setattr(pipeline, name, counted)

    # 3 one-file chunks with a drop barrier, then one file with a
    # malformed row: 4 epochs, the last one writing the DLQ
    oplog = gen_oplog(spark, 3_000, 500, seed=61, drop_at=(1_200,), num_partitions=1)
    path = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, path, n_chunks=3)
    spark.createDataFrame(
        [(3_001, datetime.datetime(2026, 1, 1), "upsertMany", "seqs", "bad", None)],
        oplog.schema,
    ).coalesce(1).write.mode("append").parquet(path)

    pipe = CdcPipeline(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    pipe.run_available_now()

    assert pipe.last_applied_epoch() == 3
    assert [r["reason"] for r in pipe.dlq().collect()] == ["unknown_op"]
    assert calls == {"quarantine_reason": 1, "expect_fail": 1}
    expected = spark.createDataFrame(
        state_to_pdf(replay(oplog.toPandas()), "seqs"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_equal_state(expected, pipe.table("seqs").read())
