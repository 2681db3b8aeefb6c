"""The closed-loop workloads.

Each workload has the same life cycle, driven by ``run.py``:

``inputs``   generate (or reuse) the seeded input; timed as ``feed_gen_s``
``prepare``  untimed set-up and full-size priming units
``unit``     one closed-loop unit of work, repeated until the run's
             measuring time is spent; returns its samples
``check``    correctness checks, after the measured region
``summary``  named figures for the report

``layer_metrics`` turns a traced run's spans and event log into the
per-layer figures.  One client issues every request and waits for it
(a closed loop), on ``local[<cores>]`` with no extra threads.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import traceback

import feeds
from checks import QueryOracle, exactly_once, expected_state, state_equal
from tracing import covered_ms, spark_totals


def pct(values: list[float], q: float) -> float:
    """The q-quantile (0..1) by linear interpolation."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    k = (len(v) - 1) * q
    i = int(k)
    return v[i] if i + 1 >= len(v) else v[i] + (v[i + 1] - v[i]) * (k - i)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def chain_len(tbl) -> int:
    """Snapshots a current read unions: those since the last compaction
    or wipe, less the deltas a minor compaction replaced (computed from
    the public ``snapshots()`` list)."""
    snaps = tbl.snapshots()
    start = 0
    for i, s in enumerate(snaps):
        if s.action == "truncate" and s.trunc_seq is None:
            start = i + 1
        elif s.action == "compact":
            start = i
    active = snaps[start:]
    dead = {v for s in active for v in (s.subsumes or [])}
    return sum(1 for s in active if s.version not in dead and s.files_dir is not None)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def summary(self, units) -> dict:
        """Named figures beyond the end-to-end metrics (report only)."""
        return {}

    def check(self) -> None:
        """Checks that need the whole run, after the measured region."""

    def op_samples(self, units) -> list[float]:
        """The latency samples (ms) behind ``op_ms_p50``/``op_ms_p90``."""
        return [x for u in units for x in u["ops"]]


class ReplayBulk(Workload):
    """Backlog drain into a fresh lake per unit, one feed file per epoch."""

    name = "replay_bulk"
    EVENTS, DOCS, CHUNKS, FILES_PER_TRIGGER = 24_000, 2_400, 6, 1
    #: untimed full-size drains before the measured ones: the JVM is
    #: still compiling hot driver paths over the first drains
    PRIMING = 2

    def inputs(self):
        self.feed = feeds.bulk_feed(self.ctx.seed, self.EVENTS, self.DOCS, self.CHUNKS,
                                    self.ctx.cores)
        return [self.feed]

    def prepare(self):
        self.drains = []
        self.priming_s = [self.drain()["s"] for _ in range(self.PRIMING)]

    def drain(self) -> dict:
        from yadex_spark.streaming.pipeline import CdcPipeline

        d, n = self.ctx.dirs, len(self.drains)
        lake, ckpt = d.fresh(f"lake{n}"), d.fresh(f"ckpt{n}")
        self.drains.append((lake, ckpt))
        pipe = CdcPipeline(self.spark, self.feed.path, lake, ckpt,
                           max_files_per_trigger=self.FILES_PER_TRIGGER)
        t0 = time.monotonic()
        pipe.run_available_now(timeout_s=170)
        dt = time.monotonic() - t0
        self.lake = lake
        return {"s": dt, "work": self.feed.events, "feed_bytes": self.feed.bytes,
                "ops": self.epoch_cycles(lake)}

    @staticmethod
    def epoch_cycles(lake_dir: str) -> list[float]:
        """Steady-state epoch cycles: per epoch after the drain's first,
        ms from the previous epoch's commit to this one's, from the
        driver-written lineage files (no Spark job).  The first epoch
        also pays the query start, which ``streaming.query_start_ms``
        reports."""
        committed = set()
        for p in glob.glob(os.path.join(lake_dir, "_lineage", "epoch-*.json")):
            with open(p) as f:
                committed.update(json.loads(line)["committed_at"] for line in f)
        t = sorted(committed)
        return [(b - a) * 1000.0 for a, b in zip(t, t[1:])]

    unit = drain

    def check(self):
        """Every drain delivered the feed exactly once; the measured
        drains' final state equals the oracle's.  The priming drains'
        state is not diffed: reading a lake costs about half a second per
        epoch delta, and they are not measured."""
        c = self.ctx.checks
        every = [f"drain{i}" for i in range(len(self.drains))]
        for op, (lake, ckpt) in zip(every, self.drains):
            c.guard(f"replay_bulk.{op}.exactly_once",
                    lambda: exactly_once(ckpt, lake, self.feed.files), ops=[op])  # noqa: B023
        measured = every[self.PRIMING:]
        expected: dict = {}
        paths = [self.feed.file_path(f) for f in self.feed.files]
        if c.guard("replay_bulk.oracle", lambda: (
                expected.update(expected_state(self.spark, paths, self.ctx.dirs.sub("oracle")))
                or True, {"files": len(paths)}), ops=measured):
            c.guard("replay_bulk.state", lambda: state_equal(
                self.spark, expected, [lake for lake, _ in self.drains[self.PRIMING:]]),
                ops=measured)


#: one or two HEADLINE queries per operator module (see README.md)
CORPUS_QUERIES = {
    "cdc_lww_collapse": "spark",
    "dedup_minhash_lsh": "dedup",
    "embed_near_dup": "similarity",
    "text_quality": "text",
    "wordpiece_tokenize": "text",
    "pack_sequences": "packing",
    "corpus_cms_counts": "sketch",
    "quality_score": "qmodel",
    "bpe_train": "bpe",
}


class CorpusOps(Workload):
    """Operator queries over generated corpus tables, noop sink."""

    name = "corpus_ops"

    def inputs(self):
        self.tables = feeds.corpus_tables(self.ctx.seed)
        return [self.tables]

    def prepare(self):
        import __spark_entry__ as entry

        self.qs = entry.queries()
        oracle = QueryOracle(self.tables.path, ["documents", "embeddings", "events"])
        # priming pass: every query once, collected (set-up) and compared
        # with DuckDB (a check); a query that raises is a failed check and
        # is left out of the measured passes
        self.names = []
        for name in CORPUS_QUERIES:
            try:
                df = self.qs[name](self.spark, self.tables.path)
                rows = df.collect()
            except Exception:  # the query itself failed: report, do not stop
                self.ctx.checks.add(f"corpus_ops.{name}", False, traceback.format_exc(limit=3)[-600:],
                                    ops=[name])
                continue
            self.names.append(name)
            self.ctx.checks.guard(f"corpus_ops.{name}",
                                  lambda: oracle.check(name, df, rows), ops=[name])  # noqa: B023

    def unit(self):
        out = {"s": 0.0, "work": 0, "per_query": {}}
        for name in self.names:
            with self.ctx.tracer.span(f"q.{name}"):
                t0 = time.monotonic()
                self.qs[name](self.spark, self.tables.path).write.format("noop").mode(
                    "overwrite").save()
                dt = time.monotonic() - t0
            out["s"] += dt
            out["work"] += 1
            out["per_query"][name] = dt
        return out

    def op_samples(self, units) -> list[float]:
        """One sample per query, its median over the passes: the count
        does not depend on how many passes fit in the run."""
        return [median([u["per_query"][q] for u in units]) * 1000.0 for q in self.names]

    def summary(self, units):
        ms = self.op_samples(units)
        return {"queries_total_s": median([u["s"] for u in units]),
                "queries_geomean_ms": statistics.geometric_mean(ms),
                "query_ms": dict(zip(self.names, ms))}


WORKLOADS = {w.name: w for w in (ReplayBulk, CorpusOps)}


# ---------------------------------------------------------------------------
# per-layer figures of a traced run
# ---------------------------------------------------------------------------

def layer_metrics(names: list[str], tracer, log, units: list[dict], roots: list[dict],
                  lake_dir: str | None) -> dict:
    """The per-layer figures ``names`` of the traced units (``roots`` are
    their spans).
    Counts are per epoch or per unit, so they do not depend on how many
    units fit in the run.  Figures of a layer the workload does not
    exercise are 0."""
    spans = tracer.spans
    log.attribute(spans)
    m = {k: 0.0 for k in names}
    m.update({k: v / len(roots) for k, v in spark_totals(log.jobs_under(spans, roots)).items()})
    named = tracer.named
    dur = lambda s: (s["end"] - s["start"]) * 1000.0  # noqa: E731

    # epoch cycle = from the previous apply's end (the query's start for
    # the first epoch of a run) to this apply's end; the part outside the
    # apply span is the trigger gap (source planning, offsets, commit log)
    applies = named("streaming.apply_batch")
    cycles, gaps, starts = [], [], []
    for run in named("streaming.run"):
        prev = run["start"]
        kids = sorted((a for a in applies if a["parent"] == run["id"]), key=lambda a: a["start"])
        if kids:
            starts.append((kids[0]["start"] - run["start"]) * 1000.0)
        for a in kids:
            cycles.append((a["end"] - prev) * 1000.0)
            gaps.append((a["end"] - prev) * 1000.0 - dur(a))
            prev = a["end"]
    commits = named("lake.commit")
    inv, write, driver, jobs_n, write_jobs = [], [], [], 0, []
    for a in applies:
        jobs = log.jobs_under(spans, [a])
        jobs_n += len(jobs)
        # group the epoch's jobs by SQL execution (AQE submits each query
        # stage as its own job): the execution that writes output is the
        # staged write (the collapse runs inside it); the first other one
        # is the inventory pass
        execs: dict = {}
        for j in sorted(jobs, key=lambda j: j["submit"]):
            execs.setdefault(j["exec"], []).append(j)
        span_ms = lambda js: (max(j["end"] for j in js) - min(j["submit"] for j in js)) * 1000.0  # noqa: E731
        w = [js for js in execs.values() if any(j["bytes_written"] for j in js)]
        rest = [js for js in execs.values() if js not in w]
        inv.append(span_ms(rest[0]) if rest else 0.0)
        write.append(sum(span_ms(js) for js in w))
        write_jobs += [j for js in w for j in js]
        busy = [(j["submit"], j["end"]) for j in jobs] + [
            (c["start"], c["end"]) for c in commits if a["start"] <= c["start"] <= a["end"]]
        driver.append(dur(a) - covered_ms(busy, a["start"], a["end"]))
    n_epochs = len(applies)
    feed_bytes = sum(u.get("feed_bytes", 0) for u in units)
    snaps = named("lake.snapshots")
    if n_epochs:
        m.update({
            "streaming.apply_ms": median([dur(a) for a in applies]),
            "streaming.trigger_gap_ms": median(gaps),
            "streaming.epoch_cycle_ms": median(cycles),
            "streaming.query_start_ms": median(starts),
            "streaming.inventory_ms": median(inv),
            "streaming.jobs_per_epoch": jobs_n / n_epochs,
            "streaming.driver_ms": median(driver),
            "streaming.write_job_ms": median(write),
            "collapse.events_in": sum(j["records_read"] for j in write_jobs) / n_epochs,
            "collapse.rows_out": sum(j["records_written"] for j in write_jobs) / n_epochs,
            "collapse.shuffle_write_bytes": sum(j["shuffle_write"] for j in write_jobs) / n_epochs,
            "collapse.spill_bytes": sum(j["spill"] for j in write_jobs) / n_epochs,
            "lake.bytes_written_per_feed_byte":
                sum(j["bytes_written"] for j in write_jobs) / feed_bytes,
            "lake.commit_ms": median([dur(c) for c in commits]),
            "lake.snapshots_calls": len(snaps) / n_epochs,
            "lake.snapshots_ms": sum(dur(s) for s in snaps) / n_epochs,
        })
    if lake_dir:
        from yadex_spark.lake.table import LakeTable

        tables = [os.path.dirname(d) for d in glob.glob(os.path.join(lake_dir, "*", "_meta"))]
        m["lake.manifest_files"] = float(sum(len(os.listdir(os.path.join(t, "_meta")))
                                             for t in tables))
        m["lake.active_chain_len"] = median(
            [chain_len(LakeTable(None, t)) for t in tables])  # manifests only: no session
    for q, mod in CORPUS_QUERIES.items():
        t = median([u["per_query"][q] for u in units if q in u.get("per_query", {})])
        m[f"q.{q}_s"] = t
        m[f"operators.{mod}_s"] += t
    return m
