"""M20 — streaming distinct-count-on-ingest (CDC machinery x KMV sketch).

The accumulated per-source estimate must equal the batch distinct_kmv
answer over everything ingested (the union law through the lake), a
crash-replayed epoch must not change it, and — the sketch's own
guarantee — not even a FORCED double-commit of an epoch's state can,
since min-k of a multiset ignores multiplicity.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.fold_ingest import KmvIngest

N_DOCS = 240


def _docs(spark):
    """Multi-source feed with per-source vocabulary sizes straddling k:
    src0/src1 get rich vocab (> k distinct words — estimator path),
    src2/src3 stay small (< k — exact path)."""
    rich = F.format_string(
        "w%d w%d w%d common tail",
        F.pmod(F.xxhash64("id"), F.lit(400)),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(400)),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(400)),
    )
    poor = F.format_string("p%d common", F.pmod(F.col("id"), F.lit(9)))
    src = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4))
    return spark.range(N_DOCS).select(
        F.col("id").alias("ingest_seq"),
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        F.when(src < 2, rich).otherwise(poor).alias("text"),
        F.format_string("src%d", src).alias("source"),
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
    from yadex_spark.operators.sketch import distinct_kmv

    w = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    return {r["source"]: r.asDict() for r in distinct_kmv(w, "source", F.col("w")).collect()}


def test_streamed_kmv_matches_batch_distinct(spark, tmp_path, feed):
    docs, path = feed
    ing = KmvIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                    max_files_per_trigger=1)
    assert ing.distinct().collect() == []  # typed-empty before any epoch
    assert ing.distinct().schema.simpleString().startswith("struct<source:string")
    ing.run_available_now()

    got = {r["source"]: r.asDict() for r in ing.distinct().collect()}
    want = _want(docs)
    assert got == want
    assert len(want) == 4
    # both estimator regimes exercised
    assert any(r["n_kept"] == 64 for r in want.values())
    assert any(r["n_kept"] < 64 for r in want.values())
    # multiple epochs actually contributed partial states
    assert ing.seen.read_keys("source").count() > len(want)

    # maintenance compacts the partials without changing the answer
    rep = ing.maintain()
    assert rep["kmv"]["compacted_version"] is not None
    assert {r["source"]: r.asDict() for r in ing.distinct().collect()} == want


def test_crash_replay_and_forced_double_commit_are_invisible(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = KmvIngest(spark, path, str(tmp_path / "lake"), ckpt,
                    max_files_per_trigger=1)
    ing.run_available_now()
    want = _want(docs)
    n_versions = ing.seen.latest_version()

    last = forget_commits(ckpt)  # crash between state commit and checkpoint commit
    ing2 = KmvIngest(spark, path, str(tmp_path / "lake"), ckpt,
                     max_files_per_trigger=1)
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_versions  # replay no-oped by batch id
    assert {r["source"]: r.asDict() for r in ing2.distinct().collect()} == want

    # the sketch's own idempotence: force a duplicate state commit
    # PAST the batch-id guard — the answer still cannot move, because
    # min-k of a multiset ignores multiplicity
    partials = ing2.seen.read_keys("source", "hs")
    dup = partials.select(
        F.concat(F.lit("forced|"), F.col("source")).alias("doc_id"),
        F.lit("insert").alias("op"),
        F.lit(10_000).cast("long").alias("op_seq"),
        F.struct("source", "hs").alias("after"),
    )
    ing2.seen.commit_delta(dup, batch_id="forced-duplicate")
    assert {r["source"]: r.asDict() for r in ing2.distinct().collect()} == want


def test_minor_maintain_folds_partials_unchanged(spark, tmp_path, feed):
    """maintain(minor=True) on the partials table: per-epoch state rows
    carry epoch-prefixed keys (never updated), so the trailing-run merge
    is a plain union and the folded distinct() answer is bit-identical;
    the subsumed per-epoch dirs are vacuumed."""
    docs, path = feed
    ing = KmvIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                    max_files_per_trigger=1)
    ing.run_available_now()
    want = {r["source"]: r.asDict() for r in ing.distinct().collect()}
    n_rows = ing.seen.read_keys("source").count()

    rep = ing.maintain(minor=True)
    assert rep["kmv"]["minicompacted_version"] is not None
    assert rep["kmv"]["data_dirs_removed"] >= 2
    assert ing.seen.read_keys("source").count() == n_rows  # plain union
    assert {r["source"]: r.asDict() for r in ing.distinct().collect()} == want
