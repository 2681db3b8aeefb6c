"""M9 — streaming corpus-stats-on-ingest (CDC machinery x corpus_stats).

The accumulated per-source composition must equal the batch
corpus_stats answer over everything ingested, and a crash-replayed
epoch must not double-count (additive counters made exactly-once by
per-epoch partials keyed by (epoch, source) + scoped batch ids).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.fold_ingest import StatsIngest

N_DOCS = 300


def _docs(spark):
    """Deterministic multi-source feed with varied doc lengths (hits
    several word-length histogram bands)."""
    return spark.range(N_DOCS).select(
        F.col("id").alias("ingest_seq"),
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        F.concat(
            F.lit("body "),
            F.repeat(
                F.lit("word "),
                (F.pmod(F.xxhash64("id"), F.lit(90)) * 3).cast("int"),
            ),
            F.format_string("tail %d", F.pmod(F.col("id"), F.lit(7))),
        ).alias("text"),
        F.format_string("src%d", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4)))
        .alias("source"),
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


def _want(docs):
    from yadex_spark.operators.text import corpus_stats

    return {r["source"]: r.asDict() for r in corpus_stats(docs).collect()}


def test_streamed_stats_match_batch_corpus_stats(spark, tmp_path, feed):
    docs, path = feed
    ing = StatsIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                      max_files_per_trigger=1)
    assert ing.stats().collect() == []  # typed-empty before any epoch
    assert ing.stats().schema.simpleString().startswith("struct<source:string")
    ing.run_available_now()

    got = {r["source"]: r.asDict() for r in ing.stats().collect()}
    want = _want(docs)
    assert got == want
    assert len(want) == 4  # all sources represented
    # multiple epochs actually contributed partials
    assert ing.seen.read_keys("source").count() > len(want)

    # maintenance compacts the partials without changing the answer
    rep = ing.maintain()
    assert rep["stats"]["compacted_version"] is not None
    assert rep["stats"]["data_dirs_removed"] >= 1
    assert {r["source"]: r.asDict() for r in ing.stats().collect()} == want


def test_crash_replay_does_not_double_count(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = StatsIngest(spark, path, str(tmp_path / "lake"), ckpt,
                      max_files_per_trigger=1)
    ing.run_available_now()
    n_versions = ing.seen.latest_version()

    last = forget_commits(ckpt)  # crash between partial commit and checkpoint commit
    ing2 = StatsIngest(spark, path, str(tmp_path / "lake"), ckpt,
                       max_files_per_trigger=1)
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_versions  # replay no-oped by batch id
    assert {r["source"]: r.asDict() for r in ing2.stats().collect()} == _want(docs)
