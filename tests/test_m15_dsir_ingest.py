"""M15 — streaming DSIR-model-on-ingest (CDC machinery x dsir_weights).

The incrementally-accumulated raw-corpus bucket model must equal a
fresh corpus-pass model over everything ingested — so `weights()` is
BIT-IDENTICAL to batch `dsir_weights` (shared feature extractor,
associative counting; no online caveat) — and a crash-replayed epoch
must not double-add its partial (idempotent counters via scoped batch
ids).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.fold_ingest import DsirIngest

N_DOCS = 240
B = 64


def _docs(spark):
    """Deterministic feed with two vocabularies (doc_id parity), so
    weights actually vary across docs."""
    return spark.range(N_DOCS).select(
        F.col("id").alias("ingest_seq"),
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("alpha beta gamma "))
            .otherwise(F.lit("omega sigma tau ")),
            F.repeat(F.lit("word "),
                     F.pmod(F.xxhash64((F.col("id") / 2).cast("long")), F.lit(9))
                     .cast("int")),
            F.format_string("tail%d", F.pmod((F.col("id") / 2).cast("long"), F.lit(5))),
        ).alias("text"),
    )


def _target(spark):
    return spark.range(8).select(
        F.format_string("t%02d", F.col("id")).alias("doc_id"),
        F.lit("alpha beta gamma alpha beta").alias("text"),
    )


@pytest.fixture()
def feed(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "docs")
    base = time.time() - 600
    span = N_DOCS // 3
    for i in range(3):
        docs.where(
            (F.col("ingest_seq") >= i * span) & (F.col("ingest_seq") < (i + 1) * span)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    return docs, path


def _batch_weights(spark, docs):
    from yadex_spark.operators.text import dsir_weights

    return {
        r["doc_id"]: (r["n_feats"], r["weight_bp"], r["keep"])
        for r in dsir_weights(docs, _target(spark), n_buckets=B).collect()
    }


def test_streamed_model_and_weights_match_batch(spark, tmp_path, feed):
    from yadex_spark.operators.text import dsir_features

    docs, path = feed
    ing = DsirIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                     max_files_per_trigger=1, n_buckets=B)
    assert ing.raw_model().collect() == []  # typed-empty before any epoch
    assert ing.raw_model().schema.simpleString() == "struct<b:bigint,c_r:bigint>"
    ing.run_available_now()

    # model equality vs a fresh full-corpus pass
    want_model = {
        r["b"]: r["c"]
        for r in dsir_features(docs, B).groupBy("b")
        .agg(F.count("*").alias("c")).collect()
    }
    got_model = {r["b"]: r["c_r"] for r in ing.raw_model().collect()}
    assert got_model == want_model
    # multiple epochs actually contributed partials
    assert ing.seen.read_keys("b").count() > len(want_model)

    # weights() over the ingested corpus is bit-identical to batch
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_bp"], r["keep"])
        for r in ing.weights(docs, _target(spark)).collect()
    }
    want = _batch_weights(spark, docs)
    assert got == want
    # the fixture genuinely splits: within each pair (same filler/tail,
    # only the lead vocabulary differs) the target-vocab doc outweighs
    for m in range(N_DOCS // 2):
        assert got[f"doc{2 * m:05d}"][1] > got[f"doc{2 * m + 1:05d}"][1]

    # maintenance compacts the partials without changing the model
    rep = ing.maintain()
    assert rep["dsir"]["compacted_version"] is not None
    assert {r["b"]: r["c_r"] for r in ing.raw_model().collect()} == want_model


def test_crash_replay_does_not_double_add(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = DsirIngest(spark, path, str(tmp_path / "lake"), ckpt,
                     max_files_per_trigger=1, n_buckets=B)
    ing.run_available_now()
    n_versions = ing.seen.latest_version()
    want = _batch_weights(spark, docs)

    last = forget_commits(ckpt)  # crash between partial commit and checkpoint commit
    ing2 = DsirIngest(spark, path, str(tmp_path / "lake"), ckpt,
                      max_files_per_trigger=1, n_buckets=B)
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_versions  # replay no-oped by batch id
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_bp"], r["keep"])
        for r in ing2.weights(docs, _target(spark)).collect()
    }
    assert got == want


def test_weights_over_unsynced_doc_uses_smoothed_default(spark, tmp_path, feed):
    """A corpus doc whose features are NOT yet in the accumulated model
    (feed landed after the last drain) must score by the exact c_r=0
    add-one-smoothed formula — the dense bucket spine guarantees every
    possible bucket has a weight row, so nothing is silently dropped
    from the per-doc mean."""
    import hashlib

    from pyspark.sql import Row

    docs, path = feed
    ing = DsirIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                     max_files_per_trigger=4, n_buckets=B)
    ing.run_available_now()

    extra = Row(doc_id="doc-late", text="zz qq zz")  # vocab the model never saw
    corpus_plus = docs.select("doc_id", "text").union(
        spark.createDataFrame([extra])
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_bp"])
        for r in ing.weights(corpus_plus, _target(spark)).collect()
    }
    assert len(got) == N_DOCS + 1

    # python replica: model from the INGESTED docs only, late doc scored
    # with c_r = 0 for its unseen buckets
    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def feats(text):
        ws = text.split(" ")
        return [h60(g) % B for g in ws + [" ".join(ws[i:i + 2])
                                          for i in range(len(ws) - 1)]]

    c_t, c_r = {}, {}
    for r in _target(spark).collect():
        for b in feats(r["text"]):
            c_t[b] = c_t.get(b, 0) + 1
    for r in docs.select("text").collect():
        for b in feats(r["text"]):
            c_r[b] = c_r.get(b, 0) + 1
    n_t, n_r = sum(c_t.values()), sum(c_r.values())
    fs = feats("zz qq zz")
    want = sum(
        (10_000 * (c_t.get(b, 0) + 1) * (n_r + B))
        // ((c_r.get(b, 0) + 1) * (n_t + B))
        for b in fs
    ) // len(fs)
    assert got["doc-late"] == (len(fs), want)


def test_epoch_never_reads_partial_rows(spark, tmp_path, feed):
    """The O(batch) per-epoch claim, pinned structurally: apply_batch
    must not read the partials table's DATA at all (only the manifest
    list for batch-id idempotence) — so per-epoch cost cannot carry an
    O(accumulated-model) term.  Any data-read path raising proves it
    is never taken."""
    from yadex_spark.lake.table import LakeTable

    docs, path = feed
    ing = DsirIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                     max_files_per_trigger=1, n_buckets=B)

    def boom(*a, **k):
        raise AssertionError("apply_batch read partial data rows")

    orig_apply = ing.apply_batch

    def guarded(batch, eid):
        unpatched_read, unpatched_keys = LakeTable.read, LakeTable.read_keys
        LakeTable.read = boom
        LakeTable.read_keys = boom
        try:
            orig_apply(batch, eid)
        finally:
            LakeTable.read, LakeTable.read_keys = unpatched_read, unpatched_keys

    ing.apply_batch = guarded
    ing.run_available_now()
    # and the model is still complete afterwards
    from yadex_spark.operators.text import dsir_features

    want = {
        r["b"]: r["c"]
        for r in dsir_features(docs, B).groupBy("b")
        .agg(F.count("*").alias("c")).collect()
    }
    assert {r["b"]: r["c_r"] for r in ing.raw_model().collect()} == want
