"""KMV (k-minimum-values) distinct-count sketch.

The cardinality-estimation primitive behind distinct-count at scale:
hash every element uniformly, keep only the k SMALLEST hash values per
group; if fewer than k survive the group's cardinality is exact, else
the k-th smallest hash h_k estimates it as (k-1) * H / h_k where H is
the hash space size (Beyer et al., "On synopses for distinct-value
estimation under multiset operations", SIGMOD'07).  Unlike
``approx_count_distinct`` (Spark's HLL++), a KMV sketch is a plain
set of bigints: engine-portable (the DuckDB oracle replays it
bit-for-bit), mergeable by union+re-top-k, and auditable.

Hash: top 60 bits of md5 as a bigint — the repo's one portable hash
idiom (dedup.py minhash uses the same form; DuckDB mirrors it as
``CAST('0x' || substr(md5(w),1,15) AS BIGINT)``).

Scale shape: distinct (group, hash) is one partial-agg shuffle; the
top-k then runs as the repo's salted-shard window rule — a first
row_number per (group, shard) keeps at most k rows per shard (windows
sort only within a shard, never a whole group), a second row_number
per group ranks the <= n_shards*k survivors.  No collect_list, no
whole-group sort, no driver-side state; every stage is a bounded
partial aggregate at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: 2^60 — the hash space size for the 15-hex-char md5 prefix.
HASH_SPACE = 1152921504606846976


def kmv_hash(col) -> "F.Column":
    """Portable 60-bit hash of a string column (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def distinct_kmv(
    df: DataFrame,
    group_col: str,
    value_col,
    k: int = 64,
    n_shards: int = 32,
) -> DataFrame:
    """Per-group distinct-count estimate via a k-minimum-values sketch.

    Returns one row per group: ``n_kept`` (sketch size, = min(k,
    exact distinct)), ``kth_hash`` (the largest retained hash — the
    sketch's threshold, what a merge would compare), and ``est_distinct``
    (exact count when n_kept < k, else floor((k-1) * 2^60 / kth_hash)).
    The estimate arithmetic is IEEE-double then floored to bigint, so
    an ANSI-SQL oracle reproduces it exactly.
    """
    topk = _kmv_topk(df, group_col, kmv_hash(value_col), k, n_shards)
    est_full = F.floor(
        F.lit(float(k - 1)) * F.lit(float(HASH_SPACE)) / F.col("kth_hash").cast("double")
    ).cast("long")
    return (
        topk.groupBy("grp")
        .agg(
            F.count("*").alias("n_kept"),
            F.max("h").alias("kth_hash"),
        )
        .withColumn(
            "est_distinct",
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("long")).otherwise(est_full),
        )
        .withColumnRenamed("grp", group_col)
    )


def kmv_state(
    df: DataFrame,
    group_col: str,
    value_col,
    k: int = 64,
    n_shards: int = 32,
) -> DataFrame:
    """Materialized sketch state: one row per group with ``hs`` = the
    sorted array of its <= k minimum hashes.  This is the mergeable
    form — persist it, then fold new data in with :func:`kmv_merge`
    instead of rescanning history (KMV's union is lossless:
    top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B))).  Deletions are NOT
    retractable from a KMV sketch (standard limitation); a delete-heavy
    table re-bootstraps from :func:`distinct_kmv`'s full pass."""
    return _kmv_sketch(df, group_col, kmv_hash(value_col), k, n_shards)


def _kmv_topk(df: DataFrame, group_col: str, h, k: int, n_shards: int = 32) -> DataFrame:
    """(grp, h, rn): each group's <= k smallest distinct non-null hashes
    ``h`` (a Column over ``df``; a generator such as ``explode`` works
    too) — the one top-k of :func:`distinct_kmv`, :func:`kmv_state` and
    the streaming KMV fold.  Local top-k per (grp, shard) first: the
    window sorts one shard, not the whole group (h is uniform, so
    h % n_shards is an unbiased shard); a second window ranks the
    <= n_shards*k survivors per group."""
    hashes = (
        df.select(F.col(group_col).alias("grp"), h.alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    sharded = hashes.withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)))
    w_local = Window.partitionBy("grp", "shard").orderBy(F.asc("h"))
    survivors = (
        sharded.withColumn("rn", F.row_number().over(w_local))
        .where(F.col("rn") <= k)
        .drop("rn", "shard")
    )
    w_global = Window.partitionBy("grp").orderBy(F.asc("h"))
    return (
        survivors.withColumn("rn", F.row_number().over(w_global))
        .where(F.col("rn") <= k)
    )


def _kmv_sketch(df: DataFrame, group_col: str, h, k: int, n_shards: int = 32) -> DataFrame:
    """(group_col, hs): :func:`_kmv_topk` collected into the sorted
    sketch array — bounded by k rows per group (the window already
    pruned), so a constant-size agg, not whole-group state."""
    return (
        _kmv_topk(df, group_col, h, k, n_shards)
        .groupBy("grp")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .withColumnRenamed("grp", group_col)
    )


def kmv_merge(a: DataFrame, b: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Union two sketch states (``group_col``, ``hs``): full-outer on
    the group, per-row array union + sort + truncate to k — zero
    explode, zero window; both sides are #groups-row relations so AQE
    broadcasts from runtime size."""
    l = a.select(F.col(group_col).alias("grp"), F.col("hs").alias("_hl"))
    r = b.select(F.col(group_col).alias("grp"), F.col("hs").alias("_hr"))
    empty = F.expr("CAST(array() AS array<bigint>)")
    return (
        l.join(r, "grp", "full_outer")
        .select(
            F.col("grp").alias(group_col),
            F.slice(
                F.array_sort(
                    F.array_union(
                        F.coalesce(F.col("_hl"), empty),
                        F.coalesce(F.col("_hr"), empty),
                    )
                ),
                1,
                k,
            ).alias("hs"),
        )
    )


def kmv_estimate(state: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """(group, n_kept, kth_hash, est_distinct) from a sketch state —
    the same estimator as :func:`distinct_kmv`, so
    ``kmv_estimate(kmv_state(df))`` equals ``distinct_kmv(df)``."""
    n_kept = F.size("hs")
    kth = F.element_at("hs", -1)
    est_full = F.floor(
        F.lit(float(k - 1)) * F.lit(float(HASH_SPACE)) / kth.cast("double")
    ).cast("long")
    return state.select(
        group_col,
        n_kept.cast("long").alias("n_kept"),
        kth.alias("kth_hash"),
        F.when(n_kept < k, n_kept.cast("long")).otherwise(est_full).alias("est_distinct"),
    )


# ---------- count-min sketch (frequency estimation) ----------

def cms_sketch(df: DataFrame, value_col, depth: int = 3, width: int = 2048) -> DataFrame:
    """Count-min sketch over a value column (Cormode & Muthukrishnan,
    "An improved data stream summary: the count-min sketch and its
    applications", J. Algorithms 2005): ``depth`` independent hash rows
    of ``width`` counters; a value's count is added to one cell per row,
    and its estimate (:func:`cms_estimate`) is the MIN over its cells —
    always >= the true count, within eps*N with probability 1-delta for
    width=e/eps, depth=ln(1/delta).  The bounded-memory complement to
    KMV: KMV answers "how many distinct", CMS answers "how often does X
    occur" in O(depth*width) space no matter how large the corpus.

    Row salts use the repo's portable md5 idiom (``kmv_hash`` of
    ``"<r>|<value>"``), so a DuckDB oracle replays every cell
    bit-for-bit — unlike a native CountMinSketch UDAF, the sketch is a
    plain (r, cell, cnt) relation any engine can read, persist, or sum.

    Scale shape: one projection builds each value's ``depth`` (r, cell)
    pairs, one explode (×depth, a small constant), ONE partial
    HashAggregate keyed by (r, cell) — map-side combine collapses every
    partition to <= depth*width rows before the shuffle, so the shuffle
    is O(depth*width * n_partitions) regardless of corpus size.  No
    window, no driver state."""
    if depth * width > 1 << 22:
        raise ValueError(
            f"depth*width={depth * width} exceeds the 2^22 sketch-size cap "
            "(the sketch is broadcast at estimate time; see dsir_weights' "
            "n_buckets ceiling for the same rule)"
        )
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    vv = F.col("_v")
    pairs = F.array(
        *[
            F.struct(
                F.lit(str(r)).alias("r"),
                F.pmod(
                    kmv_hash(F.concat(F.lit(f"{r}|"), vv)), F.lit(width)
                ).alias("cell"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(v.alias("_v"))
        .where(F.col("_v").isNotNull())
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.cell").alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sum two sketches cell-wise.  CMS is linear in the data, so
    ``cms_merge(cms(A), cms(B)) == cms(A ∪ B)`` exactly — the additive
    law that makes per-epoch sketch states foldable the way the
    stats-ingest family folds its aggregates (absent cells are zero;
    union + re-aggregate, never a join)."""
    return (
        a.unionByName(b)
        .groupBy("r", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, value_col: str,
    depth: int = 3, width: int = 2048,
) -> DataFrame:
    """Estimated count for each probe value: re-derive the probe's
    (r, cell) keys, join the sketch, take MIN over its ``depth`` cells.
    The sketch is <= depth*width rows — a broadcast-sized relation at
    any corpus scale, so the join never shuffles the probe side.  A
    value the sketch never saw estimates 0 (left join + coalesce)."""
    if depth * width > 1 << 22:
        raise ValueError(
            f"depth*width={depth * width} exceeds the 2^22 sketch-size cap"
        )
    v = F.col(value_col)
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(str(r)).alias("r"),
                    F.pmod(
                        kmv_hash(F.concat(F.lit(f"{r}|"), v)), F.lit(width)
                    ).alias("cell"),
                )
                for r in range(depth)
            ]
        )
    ).alias("p")
    probe_cells = probes.select("*", keys).select(
        *probes.columns, F.col("p.r").alias("r"), F.col("p.cell").alias("cell")
    )
    joined = probe_cells.join(F.broadcast(sketch), ["r", "cell"], "left")
    return (
        joined.groupBy(*probes.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
