"""Config model + the one drain loop (SURVEY.md M4).

The reference watches its YAML config with fsnotify (+ SIGHUP) and, on
change, stops every config-dependent object, recreates them, and reruns
(/root/reference/config/watch.go:19-79, consumed cmd/yadex.go:59-77).
The Spark analogue: the driver polls the config file between drain
rounds (and accepts SIGHUP to force a re-read), and on change rebuilds
the Router/CdcPipeline against the SAME checkpoint — Structured
Streaming's offset log plus the lake's idempotent batch ids make the
recreate-and-rerun safe (no replayed epoch can double-apply).  The
command line's pattern flags are turned into the same config dict and
run through the same loop with a fixed config (no watcher).

Config format (JSON; the reference's config.DataSync knobs that the
engine consumes — /root/reference/config/config.go:19,26-54):

    {"patterns":    [{"regex": "seqs.*", "exclude": ["seqs_tmp.*"]}],
     "rt_patterns": [{"regex": "rt_.*", "expires_ms": 5000}],
     "max_files_per_trigger": 8,
     "compact_every": 16,
     "minicompact_every": 4,
     "delay_ms": 1000}

``compact_every``/``minicompact_every`` count committed epochs, read
from the checkpoint (0 = never): after a drain round the full tier runs
if the count crossed a multiple of ``compact_every`` during the round,
otherwise the minor tier if it crossed one of ``minicompact_every``.
An idle round commits nothing and so runs no maintenance.

Default-filling and constraint repair mirror config.go:100-112 /
config_test.go:15-146: missing expires_ms on an RT pattern gets the
reference's 5000 default; expires_ms must exceed delay_ms (the
reference repairs Delay >= Expires by raising Expires).
"""

from __future__ import annotations

import json
import os
import signal
import time
from dataclasses import dataclass, field

from yadex_spark.operators.route import RT, ST, RoutePattern, Router
from yadex_spark.streaming.bookmarks import checkpoint_epochs

DEFAULT_EXPIRES_MS = 5_000  # config.go:19


@dataclass(frozen=True)
class PipelineConfig:
    patterns: tuple[RoutePattern, ...]
    max_files_per_trigger: int = 8
    #: full maintenance (maintain()) every N committed epochs (0 = never)
    compact_every: int = 0
    #: cheap-tier cadence: maintain_minor() every N committed epochs —
    #: O(trailing small deltas), so it can run far more often than
    #: compact_every (the LSM minor/major compaction split)
    minicompact_every: int = 0
    delay_ms: int = 1_000  # poll cadence between drain rounds (Delay)

    def router(self) -> Router:
        return Router(patterns=self.patterns)


def load_config(path: str) -> PipelineConfig:
    """:func:`parse_config` over a JSON config file."""
    with open(path) as f:
        return parse_config(json.load(f))


def parse_config(raw: dict) -> PipelineConfig:
    """Parse + default-fill + constraint-repair (config.go:100-112)."""
    delay_ms = int(raw.get("delay_ms", 1_000))
    pats: list[RoutePattern] = []
    for p in raw.get("rt_patterns", []):
        expires = int(p.get("expires_ms", DEFAULT_EXPIRES_MS))
        if expires <= delay_ms:
            # the reference repairs Delay >= Expires rather than failing
            expires = delay_ms + DEFAULT_EXPIRES_MS
        pats.append(
            RoutePattern(p["regex"], RT, exclude=tuple(p.get("exclude", ())),
                         expires_ms=expires, expect=p.get("expect"))
        )
    # catch-all default ONLY when no pattern key is present at all: an
    # RT-only config must not silently sync every non-RT table losslessly
    # — in the reference, collections matching no configured pattern are
    # not synced (msync/match.go findEntry returns nil)
    default_st = [{"regex": ".*"}] if ("patterns" not in raw and "rt_patterns" not in raw) else []
    for p in raw.get("patterns", default_st):
        pats.append(RoutePattern(p["regex"], ST, exclude=tuple(p.get("exclude", ())),
                                 expect=p.get("expect")))
    return PipelineConfig(
        patterns=tuple(pats),
        max_files_per_trigger=int(raw.get("max_files_per_trigger", 8)),
        compact_every=int(raw.get("compact_every", 0)),
        minicompact_every=int(raw.get("minicompact_every", 0)),
        delay_ms=delay_ms,
    )


@dataclass
class ConfigWatcher:
    """Change detector: file mtime polling + SIGHUP (watch.go semantics
    minus fsnotify — the driver has no event loop to park a watcher on,
    and a between-rounds poll is the same freshness at drain cadence)."""
    path: str
    _mtime: float = field(default=-1.0)
    _hup: bool = field(default=False)

    def install_sighup(self) -> None:
        signal.signal(signal.SIGHUP, lambda *_: setattr(self, "_hup", True))

    def changed(self) -> bool:
        hup, self._hup = self._hup, False
        try:
            m = os.stat(self.path).st_mtime
        except FileNotFoundError:
            return hup
        if m != self._mtime:
            self._mtime = m
            return True
        return hup


def run_with_reload(
    spark,
    config: str | PipelineConfig,
    oplog_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    max_rounds: int | None = None,
    timeout_s: int = 3600,
    sighup: bool = False,
) -> int:
    """Drive the pipeline in drain rounds.  ``config`` is a watched
    config file, re-read between rounds when it changed (stop → recreate
    → rerun, cmd/yadex.go:59-77), or a fixed :class:`PipelineConfig`
    (no watcher, no SIGHUP).  After each round, the stream stopped,
    maintenance runs at most once on the committed-epoch cadence (see
    the module docstring), so compact/vacuum never stall an epoch (the
    reference never blocks its apply path on maintenance).  Returns the
    number of rounds run.  ``max_rounds=None`` runs forever
    (production); tests pass a bound.
    """
    from yadex_spark.streaming.pipeline import CdcPipeline

    watcher = None
    if isinstance(config, str):
        watcher = ConfigWatcher(config)
        if sighup:
            watcher.install_sighup()  # SIGHUP forces a re-read (watch.go:60-64)
        watcher.changed()  # prime the mtime
    pipe = None
    rounds, done = 0, _epochs_done(checkpoint_dir)
    while max_rounds is None or rounds < max_rounds:
        if pipe is None or (watcher and watcher.changed()):
            cfg = load_config(config) if watcher else config
            # recreate the config-dependent objects; same checkpoint +
            # scoped batch ids keep exactly-once across the swap
            pipe = CdcPipeline(
                spark, oplog_dir, lake_dir, checkpoint_dir,
                router=cfg.router(),
                max_files_per_trigger=cfg.max_files_per_trigger,
            )
        pipe.run_available_now(timeout_s=timeout_s)
        rounds += 1
        before, done = done, _epochs_done(checkpoint_dir)
        if _crossed(before, done, cfg.compact_every):
            pipe.maintain()
        elif _crossed(before, done, cfg.minicompact_every):
            pipe.maintain_minor()
        if max_rounds is None or rounds < max_rounds:
            _sleep_between_rounds(cfg)
    return rounds


def _epochs_done(checkpoint_dir: str) -> int:
    """Epochs the checkpoint has committed: its max committed batch id
    + 1.  Spark purges old commit files
    (``spark.sql.streaming.minBatchesToRetain``), so counting them
    stops near that setting; the max id survives the purge."""
    committed = checkpoint_epochs(checkpoint_dir)[1]
    return 0 if committed is None else committed + 1


def _crossed(before: int, after: int, every: int) -> bool:
    """The epoch count passed a multiple of ``every`` (0 = never)."""
    return bool(every) and after // every > before // every


def _sleep_between_rounds(cfg: PipelineConfig) -> None:
    """Drain cadence (Delay).  A seam: tests patch this to inject the
    'config changed while running' moment deterministically."""
    time.sleep(cfg.delay_ms / 1000.0)
