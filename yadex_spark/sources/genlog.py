"""Deterministic synthetic oplog generator (FIXTURES.md §2).

Mirrors the reference's deterministic test generator ``CreateDocs``
(/root/reference/msync/syncst_test.go:28-34 — docs ``{_id: i}``) but at
arbitrary scale: every column is a pure Spark SQL expression over
``spark.range(n_events)``, so generation is fully distributed, has no
driver-side state, no wall-clock, and no per-row Python.  The same
(seed, n_events, n_docs, …) always produces byte-identical data — the
replay oracle and restart tests depend on that.

Skew: ``doc_id`` is drawn log-uniformly over the key space (rank r gets
probability ~ 1/r, a Zipf(1)-like law) so hot documents exist and the
salt-based skew splitting in the pipeline is actually exercised.
yadex never faces skew (single consumer per collection,
/root/reference/msync/run.go:191-207) — this is the A-axis gap we add.

Event mix per 1000 (FIXTURES.md): ~500 insert, ~300 update/replace of
existing keys, ~150 delete, ~50 re-insert.  Under last-writer-wins all
upsert flavors set the post-image (update==replace==full-row LWW,
/root/reference/msync/oploggetters.go:99-104: ReplaceOne with upsert),
so the split only matters for lineage stats.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from yadex_spark.operators.common import persisted
from yadex_spark.schema import MAX_TOKENS, VOCAB_SIZE

BASE_TS = "2026-01-01 00:00:00"
SOURCES = ("web", "books", "code", "wiki")


def _u(seed: int, tag: str, *cols: Column) -> Column:
    """Deterministic uniform in [0,1) derived from a 64-bit hash."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), *cols)
    return (F.pmod(h, F.lit(1_000_000_000)).cast("double")) / 1e9


def _doc_key(seed: int, tag: str, n_docs: int, skew: bool, seq: Column) -> Column:
    u = _u(seed, tag, seq)
    if skew:
        # log-uniform rank: P(rank=r) ~ 1/r  (Zipf-like, rank 0 hottest)
        k = F.floor(F.pow(F.lit(float(n_docs)), u)) - F.lit(1)
    else:
        k = F.floor(u * n_docs)
    k = F.least(F.greatest(k, F.lit(0)), F.lit(n_docs - 1))
    return F.format_string("doc%08d", k.cast("long"))


def _payload(seed: int, seq: Column, doc_id: Column, evolved_from: int | None) -> Column:
    """Post-image struct: deterministic tokens derived from (seed, op_seq).

    ONE xxhash64 per row, then cheap per-element arithmetic for the
    token ids (bounded so ANSI-mode long math cannot overflow) — hashing
    every token individually costs ~100× more at generator scale."""
    n_tok = (F.pmod(F.xxhash64(F.lit(seed), F.lit("n"), seq), F.lit(MAX_TOKENS)) + 1).cast("int")
    base = F.pmod(F.xxhash64(F.lit(seed), F.lit("t"), seq), F.lit(2147483647))
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.pmod(base * (i + 7) + i * 104729, F.lit(VOCAB_SIZE)).cast("int"),
    )
    source = F.element_at(
        F.array(*[F.lit(s) for s in SOURCES]),
        (F.pmod(F.xxhash64(doc_id), F.lit(len(SOURCES))) + 1).cast("int"),
    )
    fields = [tokens.alias("tokens"), n_tok.alias("n_tok"), source.alias("source")]
    if evolved_from is not None:
        # schema-evolution fixture: events past EVOLVE_AT carry source_meta
        meta = F.when(
            seq > evolved_from, F.format_string("meta-%d", F.pmod(seq, F.lit(97)))
        ).otherwise(F.lit(None).cast("string"))
        fields.append(meta.alias("source_meta"))
    return F.struct(*fields)


def gen_oplog(
    spark: SparkSession,
    n_events: int,
    n_docs: int,
    *,
    seed: int = 42,
    skew: bool = True,
    tables: tuple[str, ...] = ("seqs",),
    ties_per_ms: int = 4,
    drop_at: tuple[int, ...] = (),
    evolve_at: int | None = None,
    late_frac: float = 0.0,
    late_lag_ms: int = 10_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Synthetic change feed with schema ``oplog_schema()``.

    op_ts has millisecond precision with ties (``ties_per_ms`` events per
    ms) so the (op_ts, op_seq) tiebreak is exercised — the reference
    proves BSON DateTime is ms-precision and needs exactly this tiebreak
    (/root/reference/msync/bookmark_test.go:16-48).
    """
    r = spark.range(0, n_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    seq = F.col("id")
    u_op = _u(seed, "op", seq)

    op = (
        F.when(u_op < 0.50, F.lit("insert"))
        .when(u_op < 0.65, F.lit("update"))
        .when(u_op < 0.80, F.lit("replace"))
        .when(u_op < 0.95, F.lit("delete"))
        .otherwise(F.lit("insert"))  # re-insert flavor
    )
    if drop_at:
        op = F.when(seq.isin(*[int(d) for d in drop_at]), F.lit("drop")).otherwise(op)

    doc_id = _doc_key(seed, "k", n_docs, skew, seq)
    if len(tables) == 1:
        table = F.lit(tables[0])
        drop_table = table
    else:
        table = F.element_at(
            F.array(*[F.lit(t) for t in tables]),
            (F.pmod(F.xxhash64(F.lit(seed), F.lit("tbl"), doc_id), F.lit(len(tables))) + 1).cast("int"),
        )
        # drop events carry no doc_id, so their table comes from op_seq —
        # a concrete table either way, so multi-table drop barriers are
        # actually exercised (round-1 fixture gap: table=NULL drops were
        # silently discarded by the namespace filter)
        drop_table = F.element_at(
            F.array(*[F.lit(t) for t in tables]),
            (F.pmod(F.xxhash64(F.lit(seed), F.lit("droptbl"), seq), F.lit(len(tables))) + 1).cast("int"),
        )

    ts_ms = F.floor(seq / ties_per_ms)
    if late_frac > 0:
        is_late = _u(seed, "late", seq) < late_frac
        ts_ms = F.when(is_late, ts_ms - F.lit(late_lag_ms)).otherwise(ts_ms)
    op_ts = F.timestamp_millis(
        F.unix_millis(F.to_timestamp(F.lit(BASE_TS))) + ts_ms.cast("long")
    )

    is_drop = op == "drop"
    is_del = op == "delete"
    after = F.when(
        ~(is_del | is_drop), _payload(seed, seq, doc_id, evolve_at)
    )

    return r.select(
        seq.alias("op_seq"),
        op_ts.alias("op_ts"),
        op.alias("op"),
        F.when(~is_drop, table).otherwise(drop_table).alias("table"),
        F.when(~is_drop, doc_id).alias("doc_id"),
        after.alias("after"),
    )


def gen_snapshot(
    spark: SparkSession,
    n_docs: int,
    *,
    seed: int = 7,
    num_partitions: int | None = None,
) -> DataFrame:
    """A pre-existing sender table for the initial-clone path (I1/I2):
    one row per doc_id with schema ``target_schema()``."""
    r = spark.range(0, n_docs, 1, num_partitions or spark.sparkContext.defaultParallelism)
    seq = F.col("id")
    doc_id = F.format_string("doc%08d", seq)
    p = _payload(seed, seq, doc_id, None)
    return r.select(doc_id.alias("doc_id"), p.alias("p")).select("doc_id", "p.*")


def write_oplog_chunks(
    df: DataFrame, path: str, n_chunks: int, bounds: tuple[int, int] | None = None
) -> None:
    """Write the oplog as ``n_chunks`` sequential parquet drops so the
    Structured Streaming file source replays it as an ordered feed.
    Chunks are op_seq ranges — the analogue of change-stream arrival
    order.  A chunk is one file per generator partition holding rows of
    its range, all written by one Spark job (:func:`_write_drops`, which
    re-times them in op_seq order): ``maxFilesPerTrigger`` then gives
    deterministic micro-batch boundaries, no zero-row file becomes an
    empty epoch, and a later append still sorts after them.

    The write keeps FULL upstream parallelism (no coalesce or
    repartition — either would collapse or shuffle the generating
    stage).  Pass ``bounds=(min,max)`` when known to skip the extra
    aggregation pass."""
    if bounds is None:
        r = df.agg(F.min("op_seq"), F.max("op_seq")).first()
        bounds = (r[0], r[1])
    mn, mx = bounds
    span = (mx - mn + 1 + n_chunks - 1) // n_chunks
    _write_drops(
        df.where((F.col("op_seq") >= mn) & (F.col("op_seq") < mn + n_chunks * span))
        .withColumn("drop", F.floor((F.col("op_seq") - mn) / span)),
        path,
    )


def _write_drops(df: DataFrame, path: str) -> int:
    """Write ``df`` in ONE job partitioned by its ``drop`` column, move
    the files flat into ``path`` (which they replace) in drop order, and
    re-time them in op_seq order.  A task with no rows for a drop writes
    no file there, so no zero-row file lands.  Returns the number of
    drops written."""
    import shutil

    staged = f"{path}.drops-{os.getpid()}"
    try:
        df.write.mode("overwrite").partitionBy("drop").parquet(staged)
        drops = sorted(
            (int(d.split("=", 1)[1]), os.path.join(staged, d))
            for d in os.listdir(staged) if d.startswith("drop=")
        )
        shutil.rmtree(path, ignore_errors=True)  # a feed is replaced, never appended to
        os.makedirs(path)
        for k, d in drops:
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    os.rename(os.path.join(d, name), os.path.join(path, f"drop-{k:06d}-{name}"))
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    _retime_in_seq_order(path)
    return len(drops)


def _retime_in_seq_order(path: str) -> None:
    """Set the feed files' mtimes one second apart in min-op_seq order,
    the last one a second before now."""
    from yadex_spark.streaming.bookmarks import feed_seq_bounds

    files = sorted(feed_seq_bounds(path).items(), key=lambda kv: kv[1][0])
    t0 = int(time.time()) - len(files)
    for i, (f, _) in enumerate(files):
        os.utime(f, (t0 + i, t0 + i))


def _dir_parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def write_oplog_bytes(
    df: DataFrame,
    path: str,
    chunk_bytes: int,
    bounds: tuple[int, int] | None = None,
    pilot_rows: int = 4_096,
) -> int:
    """Byte-bounded feed drops — B1's size flush rule (the reference
    flushes a batch at ``Batch`` bytes, /root/reference/msync/input.go:
    132-135, default 256 KB config/config.go:18).  Spark's parquet file
    source has no maxBytesPerTrigger, so the byte budget is enforced at
    the FEED layer: each sequential drop is ONE parquet file of
    ~``chunk_bytes``, sized from a measured pilot drop (on-disk bytes
    per row include the real encoding + compression, which no analytic
    estimate gets right).  ``maxFilesPerTrigger=1`` then gives triggers
    that never exceed the budget by more than one file's rounding —
    Spark's own documented sizing rule for file-source byte budgets.
    Returns the number of files written.

    All drops are written by ONE Spark job (:func:`_write_drops`): each
    row is tagged with its drop index and shuffled by it, so
    ``partitionBy`` writes exactly one file per drop.  ``df`` is cached
    for the call (two pilot passes plus the write)."""
    import shutil

    with persisted(df):
        if bounds is None:
            r = df.agg(F.min("op_seq"), F.max("op_seq")).first()
            bounds = (r[0], r[1])
        mn, mx = bounds
        if mn is None or mx is None:
            return 0  # empty feed: nothing to drop

        # pilots go to a throwaway dir: they only measure bytes/row, so the
        # REAL feed's every file (including the first) respects the budget.
        # TWO passes: per-row on-disk cost is strongly size-dependent (a
        # 200-row file amortizes encoding/dictionary/footer overhead far
        # worse than a 4096-row one — measured ~1.8x), so the second pilot
        # re-measures AT the estimated chunk size and converges on it.
        pilot_dir = f"{path}.pilot-{os.getpid()}"
        rows = min(pilot_rows, mx + 1 - mn)
        try:
            for _ in range(2):
                # repartition(1): one file WITHOUT collapsing the
                # generating stage's parallelism (coalesce(1) would)
                df.where(
                    (F.col("op_seq") >= mn) & (F.col("op_seq") < mn + rows)
                ).repartition(1).write.mode("overwrite").parquet(pilot_dir)
                bytes_per_row = max(1.0, _dir_parquet_bytes(pilot_dir) / rows)
                rows = max(1, min(int(chunk_bytes / bytes_per_row), mx + 1 - mn))
        finally:
            # the pilot dir is pure measurement scratch — never leave it
            # behind for a feed reader to mistake for a drop
            shutil.rmtree(pilot_dir, ignore_errors=True)
        n_drops = (mx - mn) // rows + 1
        return _write_drops(
            df.where((F.col("op_seq") >= mn) & (F.col("op_seq") < mn + n_drops * rows))
            .withColumn("drop", F.floor((F.col("op_seq") - mn) / rows))
            .repartition("drop"),
            path,
        )
