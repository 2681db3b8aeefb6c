"""M6 — streaming dedup-on-ingest (CDC machinery x dedup suite).

First-arrival-wins exact dedup of a document stream: accepted set must
equal the global batch oracle (min ingest_seq per content hash), state
must stay duplicate-free, and a crash-replayed epoch must not
double-accept (the same exactly-once bar as the CDC engine,
/root/reference/msync/syncst_test.go:40-94 restart analogue).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.dedup_ingest import DedupIngest

N_DOCS = 600
N_TEXTS = 200  # ~3 arrivals per text; ~184 distinct actually drawn


def _docs(spark):
    """Deterministic duplicate-heavy document stream."""
    return spark.range(N_DOCS).select(
        F.col("id").alias("ingest_seq"),
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        F.format_string(
            "text body number %d repeated content",
            F.pmod(F.xxhash64("id"), F.lit(N_TEXTS)),
        ).alias("text"),
    )


@pytest.fixture()
def feed(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "docs")
    # ordered single-file drops with explicit increasing mtimes: epoch
    # order must equal arrival order for first-wins to be well-defined
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
    """Global first-arrival-wins oracle."""
    w = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min(F.struct("ingest_seq", "doc_id")).alias("w")
    )
    return {(r["w"]["doc_id"], r["w"]["ingest_seq"]) for r in w.collect()}


def test_streamed_dedup_matches_global_oracle(spark, tmp_path, feed):
    docs, path = feed
    ing = DedupIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    ing.run_available_now()
    got = {
        (r["doc_id"], r["ingest_seq"]) for r in ing.accepted().collect()
    }
    want = _want(docs)
    assert got == want
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert len(got) == n_distinct < N_DOCS  # dedup actually removed arrivals
    # the seen table is duplicate-free
    seen = ing.seen.read()
    assert seen.count() == seen.select("doc_id").distinct().count() == n_distinct
    # out-of-band maintenance preserves the state and the accepted set
    # — and now covers BOTH tables (accepted/ no longer accretes one
    # directory per epoch forever)
    rep = ing.maintain()
    for t in ("seen", "accepted"):
        assert rep[t]["compacted_version"] is not None
        assert rep[t]["data_dirs_removed"] >= 1
    assert ing.seen.read().count() == n_distinct
    assert {
        (r["doc_id"], r["ingest_seq"]) for r in ing.accepted().collect()
    } == want


def test_crash_replay_does_not_double_accept(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = DedupIngest(spark, path, str(tmp_path / "lake"), ckpt,
                      max_files_per_trigger=1)
    ing.run_available_now()
    n_versions = ing.seen.latest_version()

    last = forget_commits(ckpt)  # crash between lake commit and checkpoint commit
    ing2 = DedupIngest(spark, path, str(tmp_path / "lake"), ckpt,
                       max_files_per_trigger=1)
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_versions  # no double-commit
    got = {(r["doc_id"], r["ingest_seq"]) for r in ing2.accepted().collect()}
    assert got == _want(docs)
    n_distinct = docs.select(F.md5("text")).distinct().count()
    seen = ing2.seen.read()
    assert seen.count() == seen.select("doc_id").distinct().count() == n_distinct


def test_registry_is_never_shuffled_or_aggregated(spark, tmp_path, feed):
    """Scale shape (round-4 hardening): the per-epoch cross-epoch dedup
    must not shuffle or LWW-aggregate the seen-hash registry — the
    registry contributes ONLY a narrow column-pruned scan probed by a
    broadcast of the batch's keys.  Pins the O(batch)-shuffle cost
    model against regressions (a SortMergeJoin or registry-side
    aggregate here is the 10^9-doc killer round 3 flagged)."""
    docs, path = feed
    ing = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    ing.run_available_now()
    assert ing.seen.latest_version() >= 1  # registry is populated
    first = ing._first_arrivals(docs.where("ingest_seq < 50"))
    plan = (
        ing._not_seen(first, ing.seen)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan          # no corpus shuffle join
    assert "LeftSemi, BuildRight" in plan       # registry probed by broadcast batch keys
    assert "LeftAnti, BuildRight" in plan       # matched set broadcast into the anti-join
    assert "SortAggregate" not in plan          # winners agg stays codegen HashAggregate
    # the registry scan is narrow: no registry FileScan materializes text
    for line in plan.splitlines():
        if "FileScan" in line and "_seen_hashes" in line:
            assert "text" not in line.split("FileScan")[1].split("]")[0]


def test_zone_map_pruning_skips_registry_files(spark, tmp_path, feed):
    """Iceberg-manifest-style file skipping (round-4): after maintain()
    range-clusters the registry, an epoch's cross-epoch probe reads
    ONLY the registry files whose footer [min, max] can contain a batch
    hash — O(min(batch, files)) files, not O(corpus files) — and the
    accepted set is byte-identical to the unpruned semantics."""
    docs, path = feed
    ing = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                      max_files_per_trigger=1)
    ing.run_available_now()
    ing.maintain()  # compact registry into range-clustered files
    n_files = ing.seen.read_keys("doc_id", probes=None).count()  # rows, sanity
    assert n_files > 0

    # a tiny late batch: 2 brand-new texts + 1 exact dup of an old one
    late = spark.createDataFrame(
        [(10_000, "late0", "fresh text never seen before alpha"),
         (10_001, "late1", "fresh text never seen before beta"),
         (10_002, "late2", "text body number 7 repeated content")],
        "ingest_seq long, doc_id string, text string",
    )
    late.repartition(1).write.mode("append").parquet(path)
    ing2 = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                       max_files_per_trigger=1)
    ing2.run_available_now()

    st = ing2.last_prune
    assert st["files_total"] > 4          # compaction produced many files
    assert st["files_read"] <= 3          # ≤ one file per probe hash
    assert st["pruned"] >= st["files_total"] - 3

    # correctness unchanged: global first-arrival oracle over the whole feed
    all_docs = docs.unionByName(late)
    got = {(r["doc_id"], r["ingest_seq"]) for r in ing2.accepted().collect()}
    assert got == _want(all_docs)
    # the dup arrival was rejected, the fresh ones accepted
    assert ("late0", 10_000) in got and ("late1", 10_001) in got
    assert not any(d == "late2" for d, _ in got)


def test_file_bounds_pruning_is_conservative(tmp_path):
    """The footer path of the probe prune rule (LakeTable._probe_prune
    over _file_key_bounds) keeps any file it cannot PROVE probe-free:
    missing stats, type mismatch, truncation-length strings — and
    prunes only on exact disjoint bounds.  Pure driver-side check."""
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.parquet as pq

    from yadex_spark.lake.table import LakeTable

    def table_file(name, table, **kw):
        d = tmp_path / name  # one file per dir: the prune plans a dir
        d.mkdir()
        pq.write_table(table, str(d / "part-0.parquet"), **kw)
        return str(d / "part-0.parquet")

    def may_contain(f, key, probes):
        prune = LakeTable._probe_prune(key, probes)
        kept, n = prune(SimpleNamespace(file_stats=None), os.path.dirname(f))
        assert n == 1
        return kept == [f]

    f_stats = table_file("stats", pa.table({"doc_id": ["bbb", "ccc", "ddd"]}))
    f_nostats = table_file("nostats", pa.table({"doc_id": ["bbb", "ccc"]}),
                           write_statistics=False)
    f_empty = table_file("empty", pa.table({"doc_id": pa.array([], type=pa.string())}))

    assert may_contain(f_stats, "doc_id", ["ccc"])          # inside
    assert may_contain(f_stats, "doc_id", ["aaa", "bbb"])   # boundary
    assert not may_contain(f_stats, "doc_id", ["aaa"])      # below min
    assert not may_contain(f_stats, "doc_id", ["eee"])      # above max
    assert not may_contain(f_stats, "doc_id", [])           # no probes
    assert may_contain(f_nostats, "doc_id", ["zzz"])        # no stats: keep
    assert not may_contain(f_empty, "doc_id", ["ccc"])      # 0 rows: skip
    assert may_contain(f_stats, "other_col", ["x"])         # key absent: keep
    assert may_contain(f_stats, "doc_id", [123])            # type mismatch: keep
    # truncation-length guard: a 64-char bound may be inexact -> keep
    f_long = table_file("long", pa.table({"doc_id": ["a" * 64, "b" * 64]}))
    assert may_contain(f_long, "doc_id", ["zzz"])


def test_probe_budget_fallback_keeps_semantics(spark, tmp_path, feed):
    """A batch with more distinct keys than MAX_PRUNE_PROBES must skip
    the driver-side probe collect (zone-map pruning off) and still
    dedup correctly via the executor-side broadcast semi-join — the
    span/band variants can legitimately exceed the budget."""
    docs, path = feed
    ing = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                      max_files_per_trigger=1)
    ing.MAX_PRUNE_PROBES = 10  # every epoch (200 arrivals) exceeds this
    ing.run_available_now()
    assert ing.last_prune == {"fallback": "probe_budget_exceeded"}
    got = {(r["doc_id"], r["ingest_seq"]) for r in ing.accepted().collect()}
    assert got == _want(docs)


def test_minor_maintain_preserves_semantics_and_prunes(spark, tmp_path, feed):
    """maintain(minor=True): the cheap L0 tier folds the per-epoch
    registry deltas (keys unique across epochs — a plain union) at
    O(trailing deltas); accepted set and seen registry byte-identical,
    subsumed delta dirs vacuumed, and the NEXT epoch's footer probe
    still prunes against the merged range-clustered files."""
    docs, path = feed
    want = _want(docs)
    ing = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                      max_files_per_trigger=1)
    ing.run_available_now()
    seen_before = {r["doc_id"] for r in ing.seen.read_keys("doc_id").collect()}

    rep = ing.maintain(minor=True)
    for t in ("seen", "accepted"):
        assert rep[t]["minicompacted_version"] is not None
        assert rep[t]["data_dirs_removed"] >= 1
    assert {r["doc_id"] for r in ing.seen.read_keys("doc_id").collect()} == seen_before
    assert {(r["doc_id"], r["ingest_seq"]) for r in ing.accepted().collect()} == want

    # a late epoch still dedups exactly-once against the merged registry
    late = spark.createDataFrame(
        [(20_000, "mlate0", "fresh minor text alpha"),
         (20_001, "mlate1", "text body number 3 repeated content")],
        "ingest_seq long, doc_id string, text string",
    )
    late.repartition(1).write.mode("append").parquet(path)
    ing2 = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                       max_files_per_trigger=1)
    ing2.run_available_now()
    st = ing2.last_prune
    assert st["files_read"] <= 2  # merged files are range-clustered
    got = {(r["doc_id"], r["ingest_seq"]) for r in ing2.accepted().collect()}
    assert got == want | {("mlate0", 20_000)}  # dup dropped, fresh kept


def test_maintain_folds_every_tables_manifest_log(spark, tmp_path, feed, monkeypatch):
    """Both maintenance tiers fold the manifest log of every table they
    maintain, once each (the CdcPipeline's per-table step): a registry
    takes one version per epoch and is parsed several times per epoch,
    so an unfolded log makes every epoch's parse grow with history."""
    from yadex_spark.lake.table import LakeTable

    _, path = feed
    ing = DedupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                      max_files_per_trigger=1)
    ing.run_available_now()
    calls = []
    real = LakeTable.compact_meta
    monkeypatch.setattr(LakeTable, "compact_meta",
                        lambda self, *a, **k: calls.append(self.path) or real(self, *a, **k))
    for minor in (True, False):
        calls.clear()
        rep = ing.maintain(minor=minor)
        assert sorted(calls) == sorted([ing.seen.path, ing.accepted_table.path])
        assert all(rep[t]["manifests_folded"] >= 0 for t in ("seen", "accepted"))
