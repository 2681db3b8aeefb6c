"""Namespace filter + collection classification (SURVEY.md F1/F2).

The reference classifies each collection by first-match regex over
config patterns with per-pattern excludes, into RT (lossy, expiring)
or ST (lossless, bookmarked) or not-synced
(/root/reference/msync/match.go:22-69), caching the result per
collection name (/root/reference/msync/colldata.go:29-67).

Spark version: classification is a *driver-side pure function* over
the (small) set of distinct table names, applied to the stream as an
``isin`` filter / ``when`` routing column — never a per-event regex.
The per-name cache is just a dict; on a real cluster the resolved
routing table is broadcast by the ``isin`` literal list itself.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ST = "ST"  # stored: lossless, resumable (correctness-bearing tier)
RT = "RT"  # realtime: lossy, expiring


@dataclass(frozen=True)
class RoutePattern:
    """One config entry: regex over table names, optional excludes.

    Mirrors config.DataSync patterns (/root/reference/config/config.go:26-54);
    the vestigial MinDelay/Queue knobs are deliberately not ported
    (SURVEY.md §1.3).
    """
    regex: str
    tier: str = ST
    exclude: tuple[str, ...] = ()
    #: RT expiry window (config.go:19 Expires, default 5000 there).  Used
    #: by the pipeline for RT-classified tables; None falls back to the
    #: pipeline-level default.  ST tables never expire.
    expires_ms: int | None = None
    #: data-quality expectation (Delta Live Tables ``expect_or_drop``):
    #: a SQL boolean over the event (payload under ``after.*``).  Rows
    #: of data-SETTING ops (insert/update/replace) failing it — or
    #: evaluating it to NULL — are quarantined to the DLQ with reason
    #: ``expectation`` instead of being applied; deletes/drops carry no
    #: payload and are exempt.  No reference analogue (the reference
    #: applies whatever arrives); standard lakehouse ingest-contract
    #: surface.
    expect: str | None = None


@dataclass
class Router:
    patterns: tuple[RoutePattern, ...] = (RoutePattern(".*", ST),)
    _cache: dict = field(default_factory=dict)

    def classify(self, table: str) -> RoutePattern | None:
        """First-match wins; excludes checked per pattern (match.go:56-69)."""
        if table in self._cache:
            return self._cache[table]
        result = None
        for p in self.patterns:
            if re.fullmatch(p.regex, table):
                if any(re.fullmatch(e, table) for e in p.exclude):
                    continue
                result = p
                break
        self._cache[table] = result
        return result


def namespace_filter(events: DataFrame) -> DataFrame:
    """F1: drop DB-level/system events — rows with no table
    (/root/reference/msync/oploggetters.go:36-38, run.go:121-125)."""
    return events.where(F.col("table").isNotNull())

