"""M11 — streaming clean-on-ingest (scrub -> filter -> decontaminate ->
first-arrival dedup).

Unlike the near-dup member, equivalence with the batch composition is
UNCONDITIONAL (stages 1-3 are per-row stateless; stage 4 is the M6
epoch-split-invariant rule), so the streamed accepted set must equal
the batch pipeline over the same feed — plus crash replay stability and
the scrub-before-dedup ordering pin."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.clean_ingest import CleanIngest

#: params relaxed so the hand-built corpus exercises every stage
PARAMS = dict(
    decontam_n=3, min_words=4, max_words=100, min_wlen_c=100,
    max_wlen_c=2_000, min_stop=1, max_top_word_bp=10_000,
    max_dup_2gram_bp=10_000,
)

DOCS = [
    (0, "d00", "the contact is alice@example.com for details"),   # accept (scrubbed)
    (1, "d01", "tiny"),                                            # quality filter
    (2, "d02", "this text contains the secret eval question inside"),  # decontam
    (3, "d03", "the contact is bob@example.com for details"),      # dup of 0 POST-scrub
    (4, "d04", "a completely different sentence with other words"),  # accept
    (5, "d05", "a completely different sentence with other words"),  # dup of 4
    (6, "d06", "the quick brown fox jumps over the lazy dog"),     # accept
    (7, "d07", "ip address 10.0.0.1 should vanish from the text"),  # accept (scrubbed)
    (8, "d08", "another normal document the corpus will keep here"),  # accept
    (9, "d09", "the quick brown fox jumps over the lazy dog"),     # cross-epoch dup of 6
    (10, "d10", "the secret eval question appears again here now"),  # decontam, late epoch
    (11, "d11", "one more clean document survives into the final corpus"),  # accept
]
ACCEPTED_SEQS = {0, 4, 6, 7, 8, 11}

BENCH = [(100, "prior secret eval question text")]


@pytest.fixture()
def feed(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "ingest_seq long, doc_id string, text string")
    path = str(tmp_path / "docs")
    base = time.time() - 600
    for i in range(3):  # 3 ordered single-file epochs of 4 arrivals
        docs.where(
            (F.col("ingest_seq") >= i * 4) & (F.col("ingest_seq") < (i + 1) * 4)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame(BENCH, "doc_id long, text string").write.parquet(bench_dir)
    return docs, path, bench_dir


def _batch_oracle(spark, docs, bench_dir):
    """The batch composition over the whole feed: scrub -> filter ->
    decontaminate -> first-arrival dedup (the prepare_corpus streamable
    stages with first-arrival canonical)."""
    from yadex_spark.operators.text import (
        decontaminate, filter_corpus, scrub_exprs,
    )

    _, clean = scrub_exprs(F.col("text"))
    scr = docs.select("ingest_seq", F.col("doc_id").alias("orig"), clean.alias("text"))
    flags = filter_corpus(
        scr.select(F.col("ingest_seq").alias("doc_id"), "text", "orig"),
        min_words=PARAMS["min_words"], max_words=PARAMS["max_words"],
        min_wlen_c=PARAMS["min_wlen_c"], max_wlen_c=PARAMS["max_wlen_c"],
        min_stop=PARAMS["min_stop"], max_top_word_bp=PARAMS["max_top_word_bp"],
        max_dup_2gram_bp=PARAMS["max_dup_2gram_bp"], carry=("text", "orig"),
    )
    kept = flags.where("keep = 1").select("doc_id", "text", "orig")
    bench = spark.read.parquet(bench_dir)
    flagged = decontaminate(kept, bench, n=PARAMS["decontam_n"]).select("doc_id")
    k3 = kept.join(flagged, "doc_id", "left_anti")
    w = k3.groupBy(F.md5("text").alias("h")).agg(
        F.min(F.struct(F.col("doc_id").alias("seq"), F.col("orig"))).alias("w")
    )
    return {(r["w"]["orig"], r["w"]["seq"]) for r in w.collect()}


def test_streamed_clean_matches_batch_composition(spark, tmp_path, feed):
    docs, path, bench_dir = feed
    ing = CleanIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, bench_dir=bench_dir, **PARAMS,
    )
    ing.run_available_now()
    got = {(r["doc_id"], r["ingest_seq"]) for r in ing.accepted().collect()}
    assert got == _batch_oracle(spark, docs, bench_dir)
    assert {s for _, s in got} == ACCEPTED_SEQS  # hand-derived funnel


def test_scrub_runs_before_dedup_and_registry_stores_redacted_text(spark, tmp_path, feed):
    docs, path, bench_dir = feed
    ing = CleanIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, bench_dir=bench_dir, **PARAMS,
    )
    ing.run_available_now()
    acc = {r["ingest_seq"]: r["text"] for r in ing.accepted().collect()}
    # the bob@ twin (seq 3) collapsed into the alice@ arrival (seq 0):
    # dedup ran on the SCRUBBED text
    assert 3 not in acc and 0 in acc
    assert acc[0] == "the contact is <EMAIL> for details"
    assert acc[7] == "ip address <IP> should vanish from the text"
    # nothing persisted anywhere carries raw PII
    for text in acc.values():
        assert "@example.com" not in text and "10.0.0.1" not in text


def test_crash_replay_does_not_double_accept(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path, bench_dir = feed
    ckpt = str(tmp_path / "ckpt")
    ing = CleanIngest(
        spark, path, str(tmp_path / "lake"), ckpt,
        max_files_per_trigger=1, bench_dir=bench_dir, **PARAMS,
    )
    ing.run_available_now()
    n_versions = ing.seen.latest_version()
    want = {(r["doc_id"], r["ingest_seq"]) for r in ing.accepted().collect()}

    last = forget_commits(ckpt)  # crash between lake commit and checkpoint commit
    ing2 = CleanIngest(
        spark, path, str(tmp_path / "lake"), ckpt,
        max_files_per_trigger=1, bench_dir=bench_dir, **PARAMS,
    )
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_versions  # replay no-ops by batch id
    got = {(r["doc_id"], r["ingest_seq"]) for r in ing2.accepted().collect()}
    assert got == want


def test_line_dedup_stage_composes_and_matches_batch(spark, tmp_path):
    """line_dedup=True inserts the intra-doc line scrub between PII
    scrub and the quality rules (CCNet order): a doc whose bulk is a
    repeated boilerplate line must be judged on its SCRUBBED+DEDUPED
    form — here the repeats would pass min_words but the deduped form
    fails it — and the accepted text is the line-deduped one.  The
    streamed result equals the batch composition with the same stage
    (per-row/stateless, so equivalence is unconditional)."""
    import time as _t

    from yadex_spark.operators.text import dedup_lines_expr, scrub_exprs

    rows = [
        # 9 words of pure boilerplate repeats (with a stopword):
        # ACCEPTED without the line stage, whose deduped form (3 words)
        # fails min_words=4 -> the stage changes the verdict
        (0, "b00", "the spam line\nthe spam line\nthe spam line"),
        # duplicate lines but still >= 4 words after dedup -> accepted
        # with the DEDUPED text
        (1, "b01", "the alpha beta gamma\nthe alpha beta gamma\nepsilon zeta"),
        (2, "b02", "a plain single line document with enough words"),
    ]
    docs = spark.createDataFrame(rows, "ingest_seq long, doc_id string, text string")
    path = str(tmp_path / "docs")
    docs.repartition(1).write.parquet(path)

    ing = CleanIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, line_dedup=True,
        decontam_n=3, min_words=4, max_words=100, min_wlen_c=100,
        max_wlen_c=2_000, min_stop=1, max_top_word_bp=10_000,
        max_dup_2gram_bp=10_000,
    )
    ing.run_available_now()
    got = {r["doc_id"]: r["text"] for r in ing.accepted().collect()}

    # batch oracle with the same line stage
    _, clean = scrub_exprs(F.col("text"))
    scr = docs.select("doc_id", dedup_lines_expr(clean).alias("text"))
    want = {r["doc_id"]: r["text"] for r in scr.collect()
            if len(r["text"].split()) >= 4}
    assert set(got) == {"b01", "b02"} == set(want) - {"b00"}
    assert got["b01"] == "the alpha beta gamma\nepsilon zeta"
    assert got == {k: v for k, v in want.items() if k in got}
