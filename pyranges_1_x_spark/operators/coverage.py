"""Coverage — the reference's RLE path re-expressed as an event-point prefix sum.

Reference: ``to_rle`` (methods/to_rle.py:15-63): sort boundary points, apply
+value at Start / -value at End, cumulative-sum. Identical here, but the result
is a plain interval DataFrame (Chromosome[,Strand], Start, End, Value) rather
than a special RLE type (SURVEY.md §1.1) — runs partition the covered axis and
carry the depth (or value-weighted depth) over each run.

Scale: both operators read their runs from plans/sweep.py:depth_runs, which
pre-aggregates the deltas per point map-side and runs the cumulative sum as a
two-phase bucketed scan, parallel within a chromosome. No collect_list
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges


def to_coverage(
    self: GenomicRanges,
    *,
    use_strand="auto",
    value_col: str | None = None,
    rpm: bool = False,
    drop_zero: bool = False,
    value_out: str = "Value",
) -> GenomicRanges:
    """Depth-of-coverage runs per (Chromosome[,Strand]).

    ``value_col`` weights each interval (reference value_col); ``rpm``
    normalizes by 1e6/row-count (reference methods/to_rle.py:59-61);
    ``drop_zero`` removes zero-depth runs between islands. Rows with a NULL
    key, Start or End cover nothing and are dropped (and not counted by
    ``rpm``; plans/sweep.py:interval_rows).
    """
    from pyranges_1_x_spark.plans.sweep import depth_runs, interval_rows

    keys = self.group_keys(use_strand)
    val = F.col(value_col).cast("double") if value_col else F.lit(1).cast("long")
    out = depth_runs([(self.df, {value_out: val})], keys, bucket_width=self.resolve_bin(None) * 16)
    if rpm:
        n = interval_rows(self.df, keys).count()
        out = out.withColumn(value_out, F.col(value_out) * F.lit(1_000_000.0 / n))
    if drop_zero:
        out = out.filter(F.col(value_out) != 0)
    return GenomicRanges(out)


def coverage_ratio(
    self: GenomicRanges,
    *,
    value_col: str,
    use_strand=False,
    log2: bool = True,
    defragment: bool = True,
    ratio_out: str = "Ratio",
) -> GenomicRanges:
    """log2 ratio of value-weighted coverage over raw depth — the
    ``to_bigwig(divide=True)`` path (reference core/out.py:184-197:
    ``log2(to_rle(value_col) / to_rle())`` then defragment).

    ONE event sweep carries both cumulative sums (value and count deltas in
    the same window); runs where depth is zero (or the ratio undefined) yield
    null. ``defragment`` merges adjacent runs with equal ratio. Returns
    (keys..., Start, End, ratio_out[, Value, Depth]). Rows with a NULL key,
    Start or End are dropped (plans/sweep.py:interval_rows)."""
    from pyranges_1_x_spark.plans.sweep import depth_runs

    keys = self.group_keys(use_strand)
    weights = {"Value": F.col(value_col).cast("double"), "Depth": F.lit(1).cast("long")}
    runs = depth_runs([(self.df, weights)], keys, bucket_width=self.resolve_bin(None) * 16)
    raw = F.col("Value") / F.col("Depth")
    ratio = F.when(F.col("Depth") > 0, F.log2(raw) if log2 else raw)
    runs = runs.select(
        *keys, nm.START_COL, nm.END_COL, ratio.alias(ratio_out), "Value", "Depth"
    )
    if not defragment:
        return GenomicRanges(runs)
    # merge adjacent runs with equal ratio (null-safe), reference "defragment"
    w2 = Window.partitionBy(*keys).orderBy(F.col(nm.START_COL).asc())
    changed = ~F.lag(ratio_out).over(w2).eqNullSafe(F.col(ratio_out)) | (
        F.lag(nm.END_COL).over(w2) != F.col(nm.START_COL)
    )
    frag = runs.withColumn(
        "__isl__",
        F.sum(F.when(F.coalesce(changed, F.lit(True)), 1).otherwise(0)).over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = (
        frag.groupBy(*keys, "__isl__", ratio_out)
        .agg(F.min(nm.START_COL).alias(nm.START_COL), F.max(nm.END_COL).alias(nm.END_COL))
        .drop("__isl__")
        .select(*keys, nm.START_COL, nm.END_COL, ratio_out)
    )
    return GenomicRanges(out)
