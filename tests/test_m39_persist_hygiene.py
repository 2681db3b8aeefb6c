"""M39 — persist hygiene: a call that caches frames and then raises
mid-way must still release every frame it cached.  A leaked cache
pins executor storage for the session's life, and a retried job
leaks another copy each time.
"""

from __future__ import annotations

import pytest

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.bpe import bpe_train_merges
from yadex_spark.streaming.boiler_ingest import BoilerplateIngest


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _boom(*_args, **_kwargs):
    raise RuntimeError("injected failure")


def test_raise_mid_call_leaves_no_persistent_rdds(spark, tmp_path, monkeypatch):
    docs = spark.createDataFrame(
        [(0, "d0", "x\nunique-a"), (1, "d1", "x\nunique-b"), (2, "d2", "x\nunique-c")],
        "ingest_seq long, doc_id string, text string",
    )

    # bpe: fail at the first lineage truncation, after the cached word
    # table has fed one merge
    before = _persistent(spark)
    with monkeypatch.context() as m:
        m.setattr(type(docs), "localCheckpoint", _boom)
        with pytest.raises(RuntimeError, match="injected"):
            bpe_train_merges(docs, n_merges=3, checkpoint_every=1)
    assert _persistent(spark) == before

    # boilerplate ingest: two clean epochs ("x" crosses min_df in the
    # second, so doc 0 is under-scrubbed), then fail every commit
    ing = BoilerplateIngest(
        spark, feed_dir=str(tmp_path / "feed"), lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"), min_df=2,
    )
    ing.apply_batch(docs.where("ingest_seq = 0"), 0)
    ing.apply_batch(docs.where("ingest_seq = 1"), 1)
    before = _persistent(spark)
    with monkeypatch.context() as m:
        m.setattr(LakeTable, "commit_delta", _boom)
        with pytest.raises(RuntimeError, match="injected"):
            ing.apply_batch(docs.where("ingest_seq = 2"), 2)
        assert _persistent(spark) == before
        with pytest.raises(RuntimeError, match="injected"):
            ing.reconcile()  # fails committing doc 0's repair
        assert _persistent(spark) == before
