"""Island (overlap-connected-component) planner — shared by merge/cluster/complement/...

The reference funnels merge/cluster through ``ruranges.numpy.merge`` /
``ruranges.numpy.cluster`` (a sorted sweep per group,
``/root/reference/pyranges1/methods/merge.py:29-34``,
``range_frame/range_frame.py:255-260``). On Spark the same sweep is a window
function: sort by Start and flag a new island whenever
``Start >= max(End so far) + slack`` — verified against the reference's
cluster_overlaps doctest (``core/pyranges_main.py:700-745``: slack=0 does NOT
merge bookended intervals, slack=1 does).

Scale posture: a plain ``Window.partitionBy(keys)`` puts a whole chromosome
in ONE task (~25-way parallelism cap no matter the cluster). The island scan
is a running ``max(End)`` — associative — so it runs as two chained
``plans/sweep.py:bucketed_scan`` passes over Start buckets
(``floor(Start / bucket_width)``; ties share a bucket): the exclusive running
max(End), patched from earlier buckets, decides ``is_new`` row-locally, and
the island id is the inclusive running sum of ``is_new``. Inputs whose size
estimate is small take the single-window-per-keys plan instead (see
``DEFAULT_SINGLE_WINDOW_BYTES``); ``bucket_width=None`` (or 0) forces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark.names import DEFAULT_BIN_SIZE, END_COL, ISLAND_COL, START_COL
from pyranges_1_x_spark.plans.interval_join import floordiv
from pyranges_1_x_spark.plans.sweep import Scan, bucketed_scan, interval_rows

__all__ = ["assign_islands", "island_agg"]

#: Default island bucket width: coarse multiple of the join bin so each bucket
#: holds enough rows to amortize its summary row.
DEFAULT_ISLAND_BUCKET = DEFAULT_BIN_SIZE * 16

#: Inputs whose Catalyst size estimate is at or below this many bytes take the
#: single-window-per-keys plan instead of the two-phase bucketed scan
#: (VERDICT r6 #2): the bucketed plan's patch-join + double window sort is pure
#: overhead when every key-group trivially fits one task (~+40% on five bench
#: rows at sf0.1), while above the threshold the serial per-chromosome sort is
#: the scale-killer the bucketed plan exists to avoid. 256 MB spread over a
#: genome's ~25 chromosomes is ~10 MB per key-group task — far below task
#: spill territory — and join-bearing inputs inflate their estimate, which
#: errs toward the bucketed (scale-safe) side.
DEFAULT_SINGLE_WINDOW_BYTES = 256 << 20


def _single_window_ok(df: DataFrame) -> bool:
    """True when the size estimate says the whole input is small enough that
    one sort task per key-group beats the bucketed two-phase plan.
    Estimate unavailable => False (keep the scale-safe bucketed plan).

    Reads the ANALYZED plan's stats, not the optimized plan's: the basic
    sizeInBytes visitor gives the same order-of-magnitude answer (identical
    on scan/union inputs) but skips a full Catalyst optimization pass per
    call — measured 0.005s vs 0.15s on a two-table union, and operators
    like mcc that build many island plans per query were spending more
    driver time optimizing throwaway plans for this check than executing
    (mcc build 4.8s -> ~1s at sf0.1). Without pushdown pruning the
    analyzed estimate can only overshoot, which errs toward the bucketed
    (scale-safe) side."""
    try:
        est = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return False
    return est <= DEFAULT_SINGLE_WINDOW_BYTES


def _is_new(prev_max, slack: int):
    return F.when(
        prev_max.isNull() | (F.col(START_COL) >= prev_max + F.lit(slack)),
        F.lit(1),
    ).otherwise(F.lit(0))


def assign_islands(
    df: DataFrame,
    keys: list[str],
    *,
    slack: int = 0,
    island_col: str = ISLAND_COL,
    tiebreak: list[str] | None = None,
    bucket_width: int | None = DEFAULT_ISLAND_BUCKET,
) -> DataFrame:
    """Attach a per-group island id (0-based within each key-group).

    Two intervals share an island iff they are transitively connected by
    ``Start < prev_interval_max_End + slack``. Island MEMBERSHIP is a function
    of the coordinate multiset only (ties on (Start, End) are coordinate-
    identical rows, which always co-island); ``tiebreak`` columns additionally
    pin the scan order so downstream per-island sorts are fully deterministic.

    A numeric ``bucket_width`` is a CEILING, not a mandate: when Catalyst's
    size estimate says the input fits comfortably in one task per key-group
    (see ``DEFAULT_SINGLE_WINDOW_BYTES``), the single-window plan runs
    instead. ``bucket_width=None``/``0`` forces the single-window plan.
    Rows with a NULL key, Start or End have no place in the scan and are
    dropped under both plans (plans/sweep.py:interval_rows).

    The bucketed plan's bucket-tagged input feeds TWO branches (the bucket
    summary and the bucket-local window), so an upstream-derived input is
    evaluated twice unless AQE reuses an exchange inside it (plans/sweep.py
    module docstring). It is deliberately not
    persisted: at the firing shape (6M-row derived union input, bucketed
    plan forced, values identical) a tracked persist lost 4/4 interleaved
    rounds, min 6.90s without vs 8.92s with (OPTIMIZATION_r16.md §8) — the
    phase-2 summary re-scan is cheaper than writing+reading the cache.
    """
    df = interval_rows(df, keys)
    if bucket_width and _single_window_ok(df):
        bucket_width = None
    order = [F.col(START_COL).asc(), F.col(END_COL).asc()] + [
        F.col(c).asc() for c in (tiebreak or [])
    ]
    if not bucket_width:
        w = Window.partitionBy(*keys).orderBy(*order)
        prev_max = F.max(END_COL).over(w.rowsBetween(Window.unboundedPreceding, -1))
        island = (
            F.sum(_is_new(prev_max, slack)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1
        )
        return df.withColumn(island_col, island.cast("long"))

    bkt = "__ibkt__"
    d = df.withColumn(bkt, floordiv(F.col(START_COL), bucket_width))
    prev = bucketed_scan(d, keys, bkt, [Scan("__pm__", "max", END_COL, order, inclusive=False)])
    flagged = prev.withColumn("__inew__", _is_new(F.col("__pm__"), slack))
    out = bucketed_scan(flagged, keys, bkt, [Scan("__isum__", "sum", "__inew__", order)])
    return out.withColumn(island_col, (F.col("__isum__") - 1).cast("long")).drop(
        bkt, "__pm__", "__inew__", "__isum__"
    )


def island_agg(
    df: DataFrame,
    keys: list[str],
    *,
    slack: int = 0,
    count_col: str | None = None,
    tiebreak: list[str] | None = None,
    bucket_width: int | None = DEFAULT_ISLAND_BUCKET,
) -> DataFrame:
    """Merge overlapping intervals per key-group (the `merge` kernel equivalent).

    Returns one row per island: keys..., Start=min, End=max [, count_col].
    Plan selection as in :func:`assign_islands`.
    """
    with_islands = assign_islands(
        df,
        keys,
        slack=slack,
        tiebreak=tiebreak,
        bucket_width=bucket_width,
    )
    aggs = [
        F.min(START_COL).alias(START_COL),
        F.max(END_COL).alias(END_COL),
    ]
    if count_col is not None:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    out = with_islands.groupBy(*keys, ISLAND_COL).agg(*aggs).drop(ISLAND_COL)
    return out.select(*keys, START_COL, END_COL, *([count_col] if count_col else []))
