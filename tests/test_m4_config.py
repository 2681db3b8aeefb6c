"""M4 — config file + hot-reload loop (config/watch.go:19-79 analogue).

The reference's reaction to a config change is stop → recreate → rerun
(cmd/yadex.go:59-77); here the driver loop rebuilds the pipeline against
the same checkpoint between drain rounds.  The reload test mutates the
config (and extends the feed) exactly in the between-rounds window by
patching the loop's sleep — deterministic, no racing threads.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import yadex_spark.config as cfgmod
from yadex_spark.config import ConfigWatcher, load_config, run_with_reload
from yadex_spark.oracle import replay, state_to_pdf
from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
from yadex_spark.verify import assert_equal_state


def _write_cfg(path, **kw):
    with open(path, "w") as f:
        json.dump(kw, f)


def test_load_config_defaults_and_repair(tmp_path):
    p = str(tmp_path / "cfg.json")
    # RT pattern without expires_ms -> reference default 5000 (config.go:19);
    # expires_ms <= delay_ms -> repaired upward (config.go:100-112)
    _write_cfg(p, rt_patterns=[{"regex": "rt_.*"}], delay_ms=100)
    cfg = load_config(p)
    rt = cfg.patterns[0]
    assert rt.tier == "RT" and rt.expires_ms == 5_000
    # RT-only config: NO silent ST catch-all — in the reference a
    # collection matching no configured pattern is not synced
    # (msync/match.go findEntry -> nil); round-2 advice flagged the old
    # catch-all fill-in as a lossless sync of every non-RT table
    assert len(cfg.patterns) == 1
    r = cfg.router()
    assert r.classify("rt_x") is not None and r.classify("rt_x").tier == "RT"
    assert r.classify("seqs") is None  # unmatched -> not synced

    _write_cfg(p, rt_patterns=[{"regex": "rt_.*", "expires_ms": 50}], delay_ms=100)
    assert load_config(p).patterns[0].expires_ms > 100  # repaired, not failed

    # neither key present -> the catch-all default still applies
    _write_cfg(p, delay_ms=100)
    assert load_config(p).router().classify("anything").tier == "ST"


def test_config_watcher_detects_change(tmp_path):
    p = str(tmp_path / "cfg.json")
    _write_cfg(p, patterns=[{"regex": ".*"}])
    w = ConfigWatcher(p)
    assert w.changed()        # first sighting
    assert not w.changed()    # stable
    _write_cfg(p, patterns=[{"regex": "seqs"}])
    assert w.changed()        # mtime moved


def test_hot_reload_picks_up_new_table(spark, tmp_path, monkeypatch):
    """Round 1 syncs only 'seqs'; the config gains 'aux' between rounds;
    round 2 must route aux events (from the new feed chunk) into a new
    lake table while seqs stays complete and exactly-once."""
    n1, n2 = 3_000, 6_000
    oplog = gen_oplog(spark, n2, 800, seed=19, tables=("seqs", "aux"))
    feed = str(tmp_path / "oplog")
    write_oplog_chunks(oplog.where(F.col("op_seq") < n1), feed, n_chunks=2)

    cfg_path = str(tmp_path / "cfg.json")
    _write_cfg(cfg_path, patterns=[{"regex": "seqs"}], delay_ms=10)

    def between_rounds(_cfg):
        # the reference's "config changed while running" moment
        _write_cfg(cfg_path, patterns=[{"regex": "seqs"}, {"regex": "aux"}],
                   delay_ms=10)
        oplog.where(F.col("op_seq") >= n1).coalesce(1).write.mode("append").parquet(feed)

    monkeypatch.setattr(cfgmod, "_sleep_between_rounds", between_rounds)
    rounds = run_with_reload(
        spark, cfg_path, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_rounds=2,
    )
    assert rounds == 2

    from yadex_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    pdf = oplog.toPandas()
    # seqs saw every chunk
    expected_seqs = spark.createDataFrame(
        state_to_pdf(replay(pdf[pdf.table == "seqs"]), "seqs"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_equal_state(expected_seqs, pipe.table("seqs").read())
    # aux was routed only from the post-change chunk (pre-change aux
    # events were skipped while unrouted — reference semantics: an
    # unsynced collection's oplog entries are not buffered)
    aux_pdf = pdf[(pdf.table == "aux") & (pdf.op_seq >= n1)]
    expected_aux = spark.createDataFrame(
        state_to_pdf(replay(aux_pdf), "aux"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_equal_state(expected_aux, pipe.table("aux").read())


def test_reload_loop_minicompact_cadence(spark, tmp_path, monkeypatch):
    """minicompact_every=1 folds each round's small deltas between drain
    rounds (the cheap LSM tier the full compact_every rarely runs);
    state must stay oracle-equal and the manifest log must show the
    minicompact."""
    n1, n2 = 2_000, 4_000
    oplog = gen_oplog(spark, n2, 500, seed=23)
    feed = str(tmp_path / "oplog")
    write_oplog_chunks(oplog.where(F.col("op_seq") < n1), feed, n_chunks=2)

    cfg_path = str(tmp_path / "cfg.json")
    _write_cfg(cfg_path, patterns=[{"regex": "seqs"}], delay_ms=10,
               minicompact_every=1, max_files_per_trigger=1)
    assert load_config(cfg_path).minicompact_every == 1

    def between_rounds(_cfg):
        oplog.where(F.col("op_seq") >= n1).coalesce(1).write.mode("append").parquet(feed)

    monkeypatch.setattr(cfgmod, "_sleep_between_rounds", between_rounds)
    run_with_reload(
        spark, cfg_path, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_rounds=2,
    )

    from yadex_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    tbl = pipe.table("seqs")
    actions = [s.action for s in tbl.snapshots()]
    assert "minicompact" in actions
    # each round left at most one files-bearing snapshot behind: round 2
    # merged everything committed up to it
    active, _ = tbl._active_chain()
    assert active[-1].action == "minicompact"
    expected = spark.createDataFrame(
        state_to_pdf(replay(oplog.toPandas()), "seqs"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_equal_state(expected, tbl.read())


def test_idle_rounds_run_no_maintenance(spark, tmp_path, monkeypatch):
    """compact_every counts committed epochs, not rounds: over a feed
    written once, three rounds with compact_every=1 compact once — the
    later rounds commit no epoch, so there is nothing to maintain."""
    oplog = gen_oplog(spark, 2_000, 400, seed=29)
    feed = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, feed, n_chunks=2)
    cfg_path = str(tmp_path / "cfg.json")
    _write_cfg(cfg_path, patterns=[{"regex": "seqs"}], delay_ms=10, compact_every=1)
    monkeypatch.setattr(cfgmod, "_sleep_between_rounds", lambda _cfg: None)
    assert run_with_reload(
        spark, cfg_path, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_rounds=3,
    ) == 3

    from yadex_spark.streaming.pipeline import CdcPipeline

    tbl = CdcPipeline(spark, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt")).table("seqs")
    assert [s.action for s in tbl.snapshots()].count("compact") == 1
    expected = spark.createDataFrame(
        state_to_pdf(replay(oplog.toPandas()), "seqs"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert_equal_state(expected, tbl.read())


def test_cadence_survives_commit_log_purge(spark, tmp_path, monkeypatch):
    """Spark purges old commit files (minBatchesToRetain), so the
    cadence reads the max committed batch id, not a file count: two
    rounds of 3 epochs each with compact_every=3 run one full
    maintenance per round, although the commit log keeps fewer files
    than there are epochs."""
    import os

    from yadex_spark.streaming.bookmarks import checkpoint_epochs
    from yadex_spark.streaming.pipeline import CdcPipeline

    n1, n2 = 3_000, 6_000
    oplog = gen_oplog(spark, n2, 800, seed=31, num_partitions=3)
    feed, ckpt = str(tmp_path / "oplog"), str(tmp_path / "ckpt")
    write_oplog_chunks(oplog.where(F.col("op_seq") < n1), feed, n_chunks=3, bounds=(0, n1 - 1))
    cfg_path = str(tmp_path / "cfg.json")
    _write_cfg(cfg_path, patterns=[{"regex": "seqs"}], delay_ms=10, compact_every=3,
               max_files_per_trigger=1)

    calls: list[str] = []
    after_round1: list[list[str]] = []

    def spy(name):
        run = getattr(CdcPipeline, name)

        def counted(self, *a, **k):
            calls.append(name)
            return run(self, *a, **k)

        monkeypatch.setattr(CdcPipeline, name, counted)

    spy("maintain")
    spy("maintain_minor")

    def between_rounds(_cfg):
        after_round1.append(list(calls))
        for lo in range(n1, n2, 1_000):  # three more files, one epoch each
            oplog.where((F.col("op_seq") >= lo) & (F.col("op_seq") < lo + 1_000)) \
                .coalesce(1).write.mode("append").parquet(feed)

    monkeypatch.setattr(cfgmod, "_sleep_between_rounds", between_rounds)
    key = "spark.sql.streaming.minBatchesToRetain"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        run_with_reload(spark, cfg_path, feed, str(tmp_path / "lake"), ckpt, max_rounds=2)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    assert after_round1 == [["maintain"]] and calls == ["maintain", "maintain"]
    assert checkpoint_epochs(ckpt)[1] == 5  # six epochs, 0..5
    assert len([f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]) < 6
    expected = spark.createDataFrame(
        state_to_pdf(replay(oplog.toPandas()), "seqs"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    pipe = CdcPipeline(spark, feed, str(tmp_path / "lake"), ckpt)
    assert_equal_state(expected, pipe.table("seqs").read())


def _windows(router):
    """{table: (tier, expiry window)} for a few names, None = not synced."""
    names = ("rt_a", "rt_tmp", "seqs", "tmp", "tmpseqs", "other")
    return {n: (p.tier, p.expires_ms) if (p := router.classify(n)) else None for n in names}


def test_flags_and_config_file_route_alike(tmp_path):
    """The command line's pattern flags go through the config parser:
    each flag set routes every table to the tier and RT window that the
    equivalent config file gives."""
    from yadex_spark.main import build_parser, flag_config

    base = ["--oplog", "f", "--lake", "l", "--checkpoint", "c"]
    p = str(tmp_path / "cfg.json")
    cases = [
        (["--rt-pattern", "rt_.*", "--pattern", "seqs", "--exclude", "tmp",
          "--expires-ms", "7000"],
         dict(rt_patterns=[{"regex": "rt_.*", "exclude": ["tmp"], "expires_ms": 7000}],
              patterns=[{"regex": "seqs", "exclude": ["tmp"]}])),
        # --expires-ms alone: every --pattern (default: all) is RT
        (["--expires-ms", "7000"],
         dict(rt_patterns=[{"regex": ".*", "expires_ms": 7000}])),
        # --rt-pattern alone: the config's default window; the rest ST
        (["--rt-pattern", "rt_.*"],
         dict(rt_patterns=[{"regex": "rt_.*"}], patterns=[{"regex": ".*"}])),
    ]
    for flags, raw in cases:
        _write_cfg(p, **raw)
        from_flags = cfgmod.parse_config(flag_config(build_parser().parse_args(base + flags)))
        assert _windows(from_flags.router()) == _windows(load_config(p).router()), flags
    assert _windows(from_flags.router())["rt_a"] == ("RT", cfgmod.DEFAULT_EXPIRES_MS)
