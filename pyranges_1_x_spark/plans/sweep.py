"""Scalable ordered prefix sweep — two-phase cumulative aggregation.

A plain ``Window.partitionBy(Chromosome).orderBy(pos)`` puts a whole
chromosome in ONE task: fine at test scale, serial at 100 TB (a genome has
~25 chromosomes, so at most ~25-way parallelism no matter the cluster). Sums
are associative, so the sweep splits into two phases:

1. bucket the position axis (``floor(pos / bucket_width)``) and run the
   window per (keys, bucket) — parallelism = #buckets, data never leaves the
   partition a hash shuffle gave it;
2. aggregate one summary row per bucket (totals + first position), prefix-sum
   THOSE with a window over the tiny summary relation, and join the bucket
   offsets back (broadcastable — #buckets rows, not #points).

``lead(pos)`` across bucket boundaries is recovered the same way: a local
lead, patched on each bucket's last row with the next bucket's first
position. Empty buckets are skipped naturally (bucket ids come from the data).

Consumers: coverage, coverage_ratio, split, count_overlaps_matrix — every
event-point operator in the engine.

``prefix_sweep`` always persists the pre-aggregated delta relation
(MEMORY_AND_DISK) for the duration of the plan. The delta subtree feeds TWO
branches (bucket-local windows + bucket summary) that prune different
columns, so Catalyst/AQE never shares their exchanges (verified at runtime:
0 ReusedExchange); without the persist the subtree, which contains a full
groupBy shuffle in every consumer, is evaluated twice. Persisting the
post-aggregation rows trades one executor-local block write/read for that
second shuffle — cheaper at every scale, and ``persist`` (unlike
``localCheckpoint``) keeps lineage, so executor loss recomputes instead of
failing. Interleaved A/B at sf0.1 (all four consumers, OPTIMIZATION_r15.md
§2): coverage 2.23→1.80s, coverage_ratio 2.24→1.80s, split 2.27→1.85s,
count_matrix 7.29→4.35s. The persist is TRACKED (plans/qcache.py):
CacheManager holds persisted plans strongly, so the caller releases it via
``free_tracked()`` once the result is consumed.

``asof_extreme``/``bucketed_row_number`` keep the recompute shape: their
points relations are unions of already-persisted inputs (nearest_ranges) or
are materialized by the caller (fdr), where the duplicate evaluation is
cheap. ``nearest_distance`` runs its own sweep of the same two-phase shape
(operators/nearest.py): it needs three running extremes under two tie rules
in one pass, which no single ``asof_extreme`` call gives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark.plans.interval_join import floordiv
from pyranges_1_x_spark.plans.qcache import persist_tracked

__all__ = ["prefix_sweep", "asof_extreme", "bucketed_row_number"]


def prefix_sweep(
    deltas: DataFrame,
    keys: list[str],
    pos_col: str,
    delta_cols: list[str],
    cum_cols: list[str],
    *,
    bucket_width: int,
    next_col: str = "__next__",
) -> DataFrame:
    """``deltas`` must have one row per (keys..., pos) — pre-aggregated deltas.

    Returns keys + pos + the running sum of each delta column (ordered by pos
    within keys, inclusive of the current row) as ``cum_cols`` + ``next_col``
    (the next position within keys; null on each group's last point).
    The deltas are persisted (tracked) for the two consuming branches — see
    the module docstring.
    """
    d = persist_tracked(deltas).withColumn("__bkt__", floordiv(F.col(pos_col), bucket_width))

    wl = Window.partitionBy(*keys, "__bkt__").orderBy(F.col(pos_col).asc())
    wlc = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = d.select(
        *keys,
        pos_col,
        "__bkt__",
        *[F.sum(c).over(wlc).alias(f"__loc{i}__") for i, c in enumerate(delta_cols)],
        F.lead(pos_col).over(wl).alias("__llead__"),
    )

    summary = d.groupBy(*keys, "__bkt__").agg(
        *[F.sum(c).alias(f"__tot{i}__") for i, c in enumerate(delta_cols)],
        F.min(pos_col).alias("__first__"),
    )
    ws = Window.partitionBy(*keys).orderBy(F.col("__bkt__").asc())
    wsp = ws.rowsBetween(Window.unboundedPreceding, -1)
    summary = summary.select(
        *keys,
        "__bkt__",
        *[
            F.coalesce(F.sum(f"__tot{i}__").over(wsp), F.lit(0)).alias(f"__off{i}__")
            for i in range(len(delta_cols))
        ],
        F.lead("__first__").over(ws).alias("__nfirst__"),
    )

    out = local.join(F.broadcast(summary), on=[*keys, "__bkt__"])
    return out.select(
        *keys,
        pos_col,
        *[
            (F.col(f"__off{i}__") + F.col(f"__loc{i}__")).alias(cum_cols[i])
            for i in range(len(delta_cols))
        ],
        F.coalesce(F.col("__llead__"), F.col("__nfirst__")).alias(next_col),
    )


def asof_extreme(
    points: DataFrame,
    keys: list[str],
    pos_col: str,
    data_flag: Column,
    val_col: str,
    *,
    side: str,
    agg: str,
    bucket_width: int,
    out_col: str,
) -> DataFrame:
    """Bucketed as-of sweep: running min/max of data-row values, two-phase.

    For every row of ``points``: the ``agg`` ('min'/'max') of ``val_col`` over
    data rows (``data_flag`` true) whose position is on this row's ``side`` —
    ``'ge'``: at-or-after it; ``'le'``: at-or-before it. Data rows count at
    position ties (touching is eligible — reference range_frame.py:451-537
    distance convention).

    Same scale posture as ``prefix_sweep``: min/max are associative, so the
    sweep runs per (keys, bucket) — parallelism = #buckets, not #chromosomes —
    and each bucket is patched with the extreme of the OTHER buckets on its
    open side, prefix-scanned over the tiny one-row-per-bucket summary
    relation. Position ties always share a bucket (same floor), so the
    data-first tie rule stays a purely bucket-local concern.
    """
    if side not in ("ge", "le"):
        raise ValueError(f"side must be 'ge' or 'le', got {side!r}")
    if agg not in ("min", "max"):
        raise ValueError(f"agg must be 'min' or 'max', got {agg!r}")
    dval = F.when(data_flag, F.col(val_col))
    d = points.withColumn("__bkt__", floordiv(F.col(pos_col), bucket_width)).withColumn(
        "__dtf__", F.when(data_flag, 0).otherwise(1)
    )
    agg_fn = F.min if agg == "min" else F.max
    combine = F.least if agg == "min" else F.greatest
    if side == "ge":
        order = [F.col(pos_col).desc(), F.col("__dtf__").asc()]
        summary_order = F.col("__bkt__").desc()  # patch = extreme of LATER buckets
    else:
        order = [F.col(pos_col).asc(), F.col("__dtf__").asc()]
        summary_order = F.col("__bkt__").asc()  # patch = extreme of EARLIER buckets

    wl = (
        Window.partitionBy(*keys, "__bkt__")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("__loc__", agg_fn(dval).over(wl))

    summary = d.groupBy(*keys, "__bkt__").agg(agg_fn(dval).alias("__tot__"))
    ws = (
        Window.partitionBy(*keys)
        .orderBy(summary_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summary = summary.select(
        *keys, "__bkt__", agg_fn("__tot__").over(ws).alias("__patch__")
    )

    out = local.join(F.broadcast(summary), on=[*keys, "__bkt__"])
    # least/greatest skip nulls, so a bucket with no local data rows (or no
    # patch on its open side) degrades to the other operand; both-null => null.
    return out.withColumn(out_col, combine(F.col("__loc__"), F.col("__patch__"))).drop(
        "__bkt__", "__dtf__", "__loc__", "__patch__"
    )


def bucketed_row_number(
    df: DataFrame,
    keys: list[str],
    pos_col: str,
    order: list[Column],
    *,
    bucket_width: int,
    descending: bool = False,
    out_col: str = "__rr__",
) -> DataFrame:
    """Global per-keys row_number whose ordering starts with ``pos_col``
    (ascending, or descending with ``descending=True``), computed without a
    per-keys serial window: rank = bucket-local row_number + the count of rows
    in all preceding buckets (prefix-summed over the one-row-per-bucket
    summary). ``order`` must be the FULL ordering including the position
    column first — ties on position share a bucket, so the total order is
    preserved exactly.
    """
    d = df.withColumn("__bkt__", floordiv(F.col(pos_col), bucket_width))
    wl = Window.partitionBy(*keys, "__bkt__").orderBy(*order)
    local = d.withColumn("__lrn__", F.row_number().over(wl).cast("long"))

    summary = d.groupBy(*keys, "__bkt__").agg(F.count(F.lit(1)).alias("__cnt__"))
    ws = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__bkt__").desc() if descending else F.col("__bkt__").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summary = summary.select(
        *keys,
        "__bkt__",
        F.coalesce(F.sum("__cnt__").over(ws), F.lit(0)).alias("__off__"),
    )
    out = local.join(F.broadcast(summary), on=[*keys, "__bkt__"])
    return out.withColumn(out_col, F.col("__off__") + F.col("__lrn__")).drop(
        "__bkt__", "__lrn__", "__off__"
    )
