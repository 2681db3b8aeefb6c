"""M8 — streaming SPAN dedup-on-ingest (persistent chunk-hash registry).

Span dedup is exactly batch-equivalent (chunk identity is exact, not
similarity-based), so the bar is strict: streaming the corpus in
arrival order under a multi-epoch split must produce BIT-IDENTICAL
cleaned documents to the batch ``passage_dedup`` operator, stay
crash-replay stable, and never shuffle the chunk registry.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.spandedup_ingest import SpanDedupIngest

P, MINW = 6, 4

WORDS = ["amber", "basalt", "cobalt", "dune", "ember", "fjord", "garnet",
         "heath", "iris", "jade", "krill", "lotus", "moss", "nectar"]


def _texts() -> list[str]:
    """Docs sharing long passages at DIFFERENT offsets (the case
    content-defined chunking exists for), plus unique docs, exact
    repeats of a span-bearing doc, and short dedup-exempt docs."""
    shared_a = " ".join(WORDS[i % len(WORDS)] + "sa" for i in range(14))
    shared_b = " ".join(WORDS[(i * 3) % len(WORDS)] + "sb" for i in range(12))
    out = []
    for g in range(12):
        unique = " ".join(WORDS[(g * 5 + i) % len(WORDS)] + f"u{g}" for i in range(8))
        if g % 3 == 0:
            out.append(unique + " " + shared_a)          # span at tail
        elif g % 3 == 1:
            out.append(shared_a + " " + unique)          # same span at head
        else:
            out.append(unique + " " + shared_b + " tailword" + str(g))
    out.append(out[0])            # exact repeat: every chunk duplicated
    out += ["tiny doc", "wee"]    # short docs: chunks under min_words
    return out


def _feed(spark, tmp_path, n_files=3):
    texts = _texts()
    rows = [(i, f"doc{i:05d}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "ingest_seq long, doc_id string, text string")
    path = str(tmp_path / "docs")
    base = time.time() - 600
    span = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        docs.where(
            (F.col("ingest_seq") >= i * span) & (F.col("ingest_seq") < (i + 1) * span)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    return docs, path


@pytest.fixture()
def feed(spark, tmp_path):
    return _feed(spark, tmp_path)


def test_streamed_span_dedup_equals_batch(spark, tmp_path, feed):
    """Multi-epoch streamed cleaning == the batch operator, bit for bit
    (winner order (arrival, position) is the same total order)."""
    from yadex_spark.operators.dedup import passage_dedup

    docs, path = feed
    ing = SpanDedupIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, p=P, min_words=MINW,
    )
    ing.run_available_now()
    got = {
        r["ingest_seq"]: (r["n_chunks"], r["n_dropped"], r["clean_text"])
        for r in ing.cleaned().collect()
    }

    batch = passage_dedup(
        docs.select(F.col("ingest_seq").alias("doc_id"), "text"), p=P, min_words=MINW
    )
    want = {
        r["doc_id"]: (r["n_chunks"], r["n_dropped"], r["clean_text"])
        for r in batch.collect()
    }
    assert got == want
    assert sum(d for _, d, _ in got.values()) > 0   # spans actually stripped
    # the exact-repeat doc lost every eligible chunk
    rep_seq = 12
    assert got[rep_seq][1] > 0
    # short docs untouched — and rebuilt losslessly (chunking is an
    # exact partition of the word list)
    n = docs.count()
    texts = {r["ingest_seq"]: r["text"] for r in docs.collect()}
    for seq in (n - 1, n - 2):
        assert got[seq][1] == 0 and got[seq][2] == texts[seq]

    # maintenance preserves output and registry
    n_reg = ing.seen.read_keys().count()
    rep = ing.maintain()
    assert rep["seen"]["compacted_version"] is not None
    assert {
        r["ingest_seq"]: (r["n_chunks"], r["n_dropped"], r["clean_text"])
        for r in ing.cleaned().collect()
    } == want
    assert ing.seen.read_keys().count() == n_reg


def test_span_crash_replay_is_stable(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = SpanDedupIngest(spark, path, str(tmp_path / "lake"), ckpt,
                          max_files_per_trigger=1, p=P, min_words=MINW)
    ing.run_available_now()
    n_seen, n_out = ing.seen.latest_version(), ing.accepted_table.latest_version()
    got = {r["ingest_seq"]: r["clean_text"] for r in ing.cleaned().collect()}

    last = forget_commits(ckpt)  # crash between lake commit and checkpoint commit
    ing2 = SpanDedupIngest(spark, path, str(tmp_path / "lake"), ckpt,
                           max_files_per_trigger=1, p=P, min_words=MINW)
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_seen           # no double-register
    assert ing2.accepted_table.latest_version() == n_out  # no double-commit
    assert {r["ingest_seq"]: r["clean_text"] for r in ing2.cleaned().collect()} == got


def test_span_registry_is_never_shuffled(spark, tmp_path, feed):
    """Same scale pin as M6/M7: the chunk registry contributes only a
    narrow scan probed by broadcast batch hashes — no shuffle, no LWW."""
    docs, path = feed
    ing = SpanDedupIngest(spark, path, str(tmp_path / "lake"),
                          str(tmp_path / "ckpt"), p=P, min_words=MINW)
    ing.run_available_now()
    assert ing.seen.latest_version() >= 1
    chunks = ing._chunks(docs.where("ingest_seq < 5"))
    batch_keys = chunks.where(F.col("nw") >= MINW).select("ph").distinct()
    seen_keys = ing.seen.read_keys("doc_id").select(F.col("doc_id").alias("ph"))
    probe = seen_keys.join(F.broadcast(batch_keys), "ph", "left_semi")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "LeftSemi, BuildRight" in plan


def test_span_accepted_view_is_cleaned_corpus(spark, tmp_path, feed):
    """accepted() (the ingest-family contract) = every arrival with its
    rebuilt text — span dedup transforms, it never drops arrivals."""
    docs, path = feed
    ing = SpanDedupIngest(spark, path, str(tmp_path / "lake"),
                          str(tmp_path / "ckpt"), p=P, min_words=MINW)
    ing.run_available_now()
    acc = {r["ingest_seq"]: r["text"] for r in ing.accepted().collect()}
    cln = {r["ingest_seq"]: r["clean_text"] for r in ing.cleaned().collect()}
    assert acc == cln
    assert len(acc) == docs.count()
