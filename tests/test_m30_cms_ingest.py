"""M30 — streaming frequency-sketch-on-ingest (CDC machinery x CMS).

The folded sketch must equal the batch cms_sketch over everything
ingested (additivity through the lake), estimates must obey the
one-sided-error law against exact counts, and — the INVERSE of KMV's
multiplicity-blindness — a crash-replayed epoch must no-op at the
commit layer, because CMS counts multiplicity: the same test that
proves KMV immune to a forced double-commit proves CMS is NOT, which
is exactly why the scoped batch id is load-bearing here.
"""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.fold_ingest import CmsIngest

N_DOCS = 240


def _docs(spark):
    rich = F.format_string(
        "w%d w%d common tail",
        F.pmod(F.xxhash64("id"), F.lit(300)),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(300)),
    )
    src = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(3))
    return spark.range(N_DOCS).select(
        F.col("id").alias("ingest_seq"),
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        rich.alias("text"),
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


def _batch_sketch(docs):
    from yadex_spark.operators.sketch import cms_sketch

    w = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w")).where(
        F.col("w") != ""
    )
    return cms_sketch(w, "w", depth=3, width=2048)


def test_streamed_sketch_matches_batch_and_estimates_bound(spark, tmp_path, feed):
    docs, path = feed
    ing = CmsIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                    max_files_per_trigger=1)
    assert ing.sketch().collect() == []  # typed-empty before any epoch
    assert ing.sketch().schema.simpleString() == "struct<r:string,cell:bigint,cnt:bigint>"
    ing.run_available_now()

    got = sorted(map(tuple, ing.sketch().collect()))
    want = sorted(map(tuple, _batch_sketch(docs).collect()))
    assert got == want  # additivity through the lake, bit-for-bit
    # multiple epochs actually contributed partials
    assert ing.seen.read_keys("r").count() > len(want)

    # estimates: one-sided error against exact counts
    w = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    exact = {r["w"]: r["n"] for r in w.groupBy("w").agg(F.count("*").alias("n")).collect()}
    probes = spark.createDataFrame([(x,) for x in list(exact)[:50]], "w string")
    est = {r["w"]: r["est"] for r in ing.estimate(probes).collect()}
    assert all(est[x] >= exact[x] for x in est)

    # maintenance compacts the partials without changing the answer
    rep = ing.maintain()
    assert rep["cms"]["compacted_version"] is not None
    assert sorted(map(tuple, ing.sketch().collect())) == want


def test_crash_replay_noops_but_forced_double_commit_inflates(spark, tmp_path, feed):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = CmsIngest(spark, path, str(tmp_path / "lake"), ckpt,
                    max_files_per_trigger=1)
    ing.run_available_now()
    want = sorted(map(tuple, ing.sketch().collect()))
    n_versions = ing.seen.latest_version()

    commits = sorted(
        f for f in glob.glob(os.path.join(ckpt, "commits", "*"))
        if not f.endswith(".tmp") and not os.path.basename(f).startswith(".")
    )
    os.remove(commits[-1])  # crash between state commit and checkpoint commit
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    ing2 = CmsIngest(spark, path, str(tmp_path / "lake"), ckpt,
                     max_files_per_trigger=1)
    ing2.run_available_now()
    assert ing2.seen.latest_version() == n_versions  # replay no-oped by batch id
    assert sorted(map(tuple, ing2.sketch().collect())) == want

    # the contrast with KMV: push a duplicate of one epoch's partials
    # PAST the batch-id guard and the sketch DOES inflate — counting
    # multiplicity is the point of CMS, so the guard is load-bearing
    partials = ing2.seen.read_keys("r", "cell", "cnt")
    # distinct cells, so the 5 duplicated keys are 5 distinct bumps
    one_epoch = (
        partials.groupBy("r", "cell").agg(F.sum("cnt").alias("cnt"))
        .orderBy("r", "cell").limit(5)
    )
    dup = one_epoch.select(
        F.concat(F.lit("forced|"), F.col("r"), F.lit("|"),
                 F.col("cell").cast("string")).alias("doc_id"),
        F.lit("insert").alias("op"),
        F.lit(10_000).cast("long").alias("op_seq"),
        F.struct("r", "cell", "cnt").alias("after"),
    )
    ing2.seen.commit_delta(dup, batch_id="forced-duplicate")
    inflated = {(r["r"], r["cell"]): r["cnt"] for r in ing2.sketch().collect()}
    base = dict(((r, c), n) for r, c, n in want)
    bumped = [k for k in inflated if inflated[k] > base.get(k, 0)]
    assert len(bumped) == 5  # exactly the duplicated cells moved
