"""Incremental materialized aggregates over a LakeTable's change feed.

The consumer-side payoff of :meth:`LakeTable.table_changes`: a
per-group aggregate (per-source composition, token totals, ...) stays
current at O(changed keys) per epoch instead of an O(table) rescan.
Upserts make this harder than the additive stream counters of
``streaming/fold_ingest.py`` (insert-only partials): an update must
RETRACT the pre-image's contribution and add the post-image's, and a
delete only retracts — exactly the information the feed's pre_*/post_*
columns carry.  ``new = old + Σ(post images) − Σ(pre images)`` is the
classic delta rule for distributive aggregates (SUM/COUNT; MIN/MAX are
not retractable this way and need the full recompute path).

Scale shape: the delta aggregation is one partial HashAggregate over
the change set (O(changed keys) → #groups rows); applying it is a
#groups-row full-outer merge — AQE broadcasts both sides from runtime
size.  Nothing rescans the table; the full recompute
(:func:`group_stats`) remains the bootstrap + audit path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable


def group_stats(state: DataFrame, group: str,
                measures: dict[str, str]) -> DataFrame:
    """Full recompute: per-``group`` sums of ``measures`` (name → SQL
    expression over the payload columns) over a table state — the
    bootstrap for :func:`apply_group_delta` and the audit oracle for
    the incremental path."""
    return state.groupBy(F.col(group).alias(group)).agg(
        *[
            F.sum(F.expr(expr)).cast("long").alias(name)
            for name, expr in measures.items()
        ]
    )


def group_stats_delta(changes: DataFrame, group: str,
                      measures: dict[str, str]) -> DataFrame:
    """Change set → per-group deltas.  Each change row contributes its
    post-image positively (insert/update) and its pre-image negatively
    (update/delete); an update that moves a row BETWEEN groups (e.g. a
    source reassignment) therefore lands as −1 in the old group and +1
    in the new one.  ``measures`` expressions see unprefixed payload
    column names; rows are evaluated against post_*/pre_* respectively.
    """
    pre_cols = [c[len("pre_"):] for c in changes.columns if c.startswith("pre_")]

    def side(prefix: str, sign: int, types: list[str]) -> DataFrame:
        rows = changes.where(F.col(LakeTable.CHANGE_TYPE_COL).isin(types)).select(
            F.col(f"{prefix}_{group}").alias(group),
            *[F.col(f"{prefix}_{c}").alias(c) for c in pre_cols if c != group],
        )
        return rows.select(
            group,
            *[
                (F.lit(sign) * F.expr(expr)).alias(name)
                for name, expr in measures.items()
            ],
        )

    both = side("post", 1, ["insert", "update"]).unionByName(
        side("pre", -1, ["update", "delete"])
    )
    return both.groupBy(group).agg(
        *[F.sum(name).cast("long").alias(name) for name in measures]
    )


def apply_group_delta(prev: DataFrame, delta: DataFrame,
                      group: str) -> DataFrame:
    """Merge a delta into the previous aggregate state: full-outer on
    ``group``, null-safe sums.  Groups whose every measure nets to zero
    are dropped — exact "group fully departed" semantics ONLY when one
    measure is a row count (a live group then always has count > 0, as
    in the gate's ``n_docs``); with sum-only measures that can cancel,
    include a COUNT(*)-style measure or a zero-row group is
    indistinguishable from a departed one.  Both sides are #groups-row
    relations, so the join broadcasts from runtime size."""
    measures = [c for c in prev.columns if c != group]
    l = prev.select(group, *[F.col(c).alias(f"_l_{c}") for c in measures])
    r = delta.select(group, *[F.col(c).alias(f"_r_{c}") for c in measures])
    merged = l.join(r, group, "full_outer").select(
        group,
        *[
            (
                F.coalesce(F.col(f"_l_{c}"), F.lit(0))
                + F.coalesce(F.col(f"_r_{c}"), F.lit(0))
            ).cast("long").alias(c)
            for c in measures
        ],
    )
    alive = None
    for c in measures:
        cond = F.col(c) != 0
        alive = cond if alive is None else (alive | cond)
    return merged.where(alive) if alive is not None else merged


def incremental_group_stats(tbl: LakeTable, prev: DataFrame, v_from: int,
                            group: str, measures: dict[str, str],
                            v_to: int | None = None) -> DataFrame:
    """One maintenance step: fold versions ``(v_from, v_to]`` of
    ``tbl``'s change feed into ``prev`` (the aggregate as of
    ``v_from``).  Equal to ``group_stats(tbl.read(v_to), ...)`` by the
    delta rule — pinned by tests and the ``cdc_incremental_stats``
    gate."""
    delta = group_stats_delta(tbl.table_changes(v_from, v_to), group, measures)
    return apply_group_delta(prev, delta, group)
