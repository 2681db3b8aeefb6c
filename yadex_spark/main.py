"""spark-submit entry point: run the CDC pipeline from flags or a config file.

    spark-submit --py-files yadex_spark.zip -m yadex_spark.main \
        --oplog /data/feed --lake /data/lake --checkpoint /data/ckpt \
        --pattern 'seqs.*' --exclude 'seqs_tmp.*' --expires-ms 5000

Config surface mirrors the reference's config/config.go:26-54 knobs
that the engine actually consumes (Batch→max_files_per_trigger,
Delay→trigger cadence, Expires→expires_ms, include/exclude regexes);
the vestigial MinDelay/Queue knobs are not ported (SURVEY.md §1.3).
The pattern flags become the same config dict a ``--config`` file
holds (:func:`flag_config`), with the same default-fill and repair
rules, and both run the one drain loop, ``config.run_with_reload``:
``--drain`` runs one round, otherwise rounds repeat every ``delay_ms``
(a ``--config`` file is re-read when it changes), with maintenance
every ``--compact-every`` committed epochs.
"""

from __future__ import annotations

import argparse
import json

from yadex_spark.config import parse_config, run_with_reload
from yadex_spark.session import get_spark
from yadex_spark.streaming.pipeline import CdcPipeline


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="yadex_spark CDC pipeline")
    p.add_argument("--oplog", required=True, help="change-feed parquet dir")
    p.add_argument("--lake", required=True, help="lake root dir")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--config", default=None,
                   help="JSON config file, hot-reloaded between drain rounds "
                        "(config/watch.go analogue; overrides pattern flags)")
    p.add_argument("--pattern", action="append", default=None,
                   help="ST (lossless) table include regex (repeatable, first match wins)")
    p.add_argument("--rt-pattern", action="append", default=[],
                   help="RT (lossy, expiring) table regex; tried before --pattern")
    p.add_argument("--exclude", action="append", default=[],
                   help="exclude regex applied to every pattern")
    p.add_argument("--expires-ms", type=int, default=None,
                   help="RT expiry window: drop events older than this vs the "
                        "per-table watermark (applies to RT patterns only — "
                        "ST is lossless, msync/bulkwrite.go runBulkWriteRT; "
                        "default 5000, raised above the 1000 ms round delay); "
                        "with no --rt-pattern, every --pattern is RT")
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--compact-every", type=int, default=16,
                   help="full maintenance every N committed epochs, run "
                        "between drain rounds, never on the epoch path "
                        "(0 = never; a --config file sets its own)")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--drain", action="store_true",
                   help="run one drain round (Trigger.AvailableNow) and "
                        "exit; without it, rounds repeat until stopped")
    p.add_argument("--maintain", action="store_true",
                   help="run out-of-band maintenance (compact + vacuum + "
                        "staging GC, tombstone watermark from the feed) "
                        "instead of streaming — the Iceberg maintenance-job "
                        "analogue; must not run concurrently with ingest")
    p.add_argument("--maintain-minor", action="store_true",
                   help="run the CHEAP maintenance tier instead of "
                        "streaming: fold each table's trailing small "
                        "deltas (compact_minor) + vacuum — O(those "
                        "deltas), safe to cron at high cadence between "
                        "rare --maintain runs; must not run concurrently "
                        "with ingest")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if args.maintain or args.maintain_minor:
        spark = get_spark("yadex-spark-maintain", cpus=args.cpus)
        pipe = CdcPipeline(
            spark, oplog_dir=args.oplog, lake_dir=args.lake,
            checkpoint_dir=args.checkpoint,
        )
        print(json.dumps(
            pipe.maintain_minor() if args.maintain_minor else pipe.maintain()
        ))
        return
    if args.expires_ms is not None and args.expires_ms <= 0:
        raise SystemExit("--expires-ms must be positive (config.go:100-112 validation)")
    spark = get_spark("yadex-spark-cdc", cpus=args.cpus)
    rounds = run_with_reload(
        spark, args.config or parse_config(flag_config(args)),
        args.oplog, args.lake, args.checkpoint,
        max_rounds=1 if args.drain else None, timeout_s=24 * 3600, sighup=True,
    )
    print(json.dumps({"rounds": rounds}))


def flag_config(args: argparse.Namespace) -> dict:
    """The pattern flags as a config-file dict (``config.parse_config``
    input).  ``--exclude`` applies to every pattern; ``--expires-ms``
    sets every RT window, and with no ``--rt-pattern`` makes every
    ``--pattern`` RT (the reference's single-tier RT config)."""
    rt = [{"regex": rx, "exclude": args.exclude} for rx in args.rt_pattern]
    st = [{"regex": rx, "exclude": args.exclude} for rx in args.pattern or [".*"]]
    if args.expires_ms is not None:
        if not rt:
            rt, st = st, []
        for p in rt:
            p["expires_ms"] = args.expires_ms
    return {"rt_patterns": rt, "patterns": st,
            "max_files_per_trigger": args.max_files_per_trigger,
            "compact_every": args.compact_every}


if __name__ == "__main__":
    main()
