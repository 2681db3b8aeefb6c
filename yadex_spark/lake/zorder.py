"""Z-order (Morton) clustering for multi-column file pruning.

The default compaction layout range-clusters on ``doc_id`` — the
serving layout: tight per-file doc_id footer bounds, O(K)-file point
lookups.  Analytics scans filter on OTHER columns (``source``,
``n_tok`` ranges), where a doc_id sort gives every file the full value
span and nothing prunes.  Z-ordering interleaves the bits of per-column
rank buckets into one clustering key, so every participating column's
footer min/max stays tight SIMULTANEOUSLY — the Delta ``OPTIMIZE
ZORDER BY`` / Iceberg sort-order idea, built here from plain Spark:

1. per column, driver-side cut points (numeric: ``approxQuantile`` at
   2^bits evenly-spaced ranks, a model-sized list; string: capped
   distinct-collect, evenly-spaced picks) — data-skew-resistant the
   same way Delta's range_partition_id sampling is;
2. per row, bucket = #cut-points <= value (a <=2^bits-term integer
   fold, pure JVM codegen, zero shuffle);
3. z = bitwise interleave of the bucket ids (shiftleft/and, one long);
4. ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` — ONE
   shuffle, same cost shape as the doc_id layout it replaces.

Pruning then needs no reader support at all: parquet footer/row-group
min/max stats on the ORIGINAL columns do the skipping through Spark's
ordinary pushed filters (and in the per-file footer bounds of
`table._file_key_bounds`).  Trade-off (documented contract): the doc_id
footer spans go broad, so point-lookup file pruning degrades to
row-group granularity — z-order is the analytics layout, the doc_id
sort stays the serving default; pick per table at
:meth:`LakeTable.compact(cluster_by=...)`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: refuse to driver-collect more distinct strings than this per column
#: (the repo's explicit-cap convention — a 100 TB high-cardinality
#: string column is not a sane z-order participant; bucket its hash or
#: a prefix instead and pass that expression's materialized column)
MAX_STRING_DISTINCT = 100_000

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal", "date", "timestamp")


def column_cuts(df: DataFrame, col: str, bits: int = 4) -> list:
    """Driver-side cut points for ``col``: at most ``2^bits - 1``
    ascending values splitting the column's observed distribution into
    near-equal-frequency buckets.  Model-sized (<= 15 values at the
    default 4 bits) — the k-means-centroid collect pattern, never rows.
    """
    n_cuts = (1 << bits) - 1
    dtype = dict(df.dtypes)[col]
    if dtype.startswith(_NUMERIC):
        qs = [(i + 1) / (n_cuts + 1) for i in range(n_cuts)]
        cuts = df.stat.approxQuantile(col, qs, 0.001)
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            cuts = [int(c) for c in cuts]
    elif dtype == "string":
        # distinct-collect, capped loudly; evenly-spaced picks give
        # equal-frequency-ish buckets only per distinct value (exact
        # for low-cardinality dimensions, the common string case)
        distinct = (df.select(col).where(F.col(col).isNotNull())
                    .distinct().limit(MAX_STRING_DISTINCT + 1).collect())
        if len(distinct) > MAX_STRING_DISTINCT:
            raise ValueError(
                f"z-order column {col!r} exceeds {MAX_STRING_DISTINCT} "
                "distinct strings; bucket a hash/prefix expression instead"
            )
        vals = sorted(r[0] for r in distinct)
        if len(vals) <= 1:
            return []
        step = len(vals) / (n_cuts + 1)
        picks = sorted({vals[min(len(vals) - 1, int((i + 1) * step))]
                        for i in range(n_cuts)})
        # drop the global minimum: a cut at min() wastes bucket 0
        return [v for v in picks if v > vals[0]]
    else:
        raise ValueError(f"z-order does not support column type {dtype}")
    # dedupe while keeping order (heavy skew collapses quantiles)
    out: list = []
    for c in cuts:
        if not out or c > out[-1]:
            out.append(c)
    return out


def bucket_expr(col: str, cuts: list) -> Column:
    """bucket = #cuts <= value (python ``bisect_right`` over the cut
    list, transcribed as an integer fold); NULL -> bucket 0."""
    b = F.lit(0)
    for c in cuts:
        b = b + F.when(F.col(col) >= F.lit(c), 1).otherwise(0)
    return F.coalesce(b, F.lit(0)).cast("long")


def zorder_expr(df: DataFrame, cols: list[str], bits: int = 4) -> Column:
    """The interleaved Morton key over ``cols`` as one long column.

    Interleaving is MSB-first over each column's EFFECTIVE width (bits
    actually needed for its cut count), not the nominal ``bits`` — a
    low-cardinality column (4 sources -> 2 bits) must contribute its
    top bit right next to the other columns' top bits, or the wider
    column silently dominates the sort and the narrow column's footer
    bounds go broad (measured: naive fixed-width interleave cut source
    pruning from 75% of files to 31% on the 4-source fixture)."""
    if not cols:
        raise ValueError("cluster_by needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError(f"{bits} bits x {len(cols)} columns overflows a long")
    buckets: list[tuple[Column, int]] = []
    for col in cols:
        cuts = column_cuts(df, col, bits)
        width = max(1, len(cuts).bit_length())  # max bucket id = len(cuts)
        buckets.append((bucket_expr(col, cuts), width))
    # round-robin from each column's MSB; exhausted columns drop out
    order: list[tuple[int, int]] = []  # (col index, source bit) high->low
    for i in range(max(w for _, w in buckets)):
        for j, (_, w) in enumerate(buckets):
            if i < w:
                order.append((j, w - 1 - i))
    z = F.lit(0).cast("long")
    out_pos = len(order) - 1
    for j, src_bit in order:
        bit = F.shiftright(buckets[j][0], src_bit).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(bit, out_pos)
        out_pos -= 1
    return z
