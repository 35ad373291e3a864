"""Coverage — the reference's RLE path re-expressed as an event-point prefix sum.

Reference: ``to_rle`` (methods/to_rle.py:15-63): sort boundary points, apply
+value at Start / -value at End, cumulative-sum. Identical here, but the result
is a plain interval DataFrame (Chromosome[,Strand], Start, End, Value) rather
than a special RLE type (SURVEY.md §1.1) — runs partition the covered axis and
carry the depth (or value-weighted depth) over each run.

Scale: groupBy(point) pre-aggregates deltas map-side; the single window cumsum
per (chrom[,strand]) has O(1) state. No collect_list anywhere.
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
    from pyranges_1_x_spark.plans.sweep import interval_rows, prefix_sweep

    keys = self.group_keys(use_strand)
    val = F.col(value_col).cast("double") if value_col else F.lit(1).cast("long")
    d = interval_rows(self.df, keys)
    starts = d.select(*keys, F.col(nm.START_COL).alias("__pos__"), val.alias("__delta__"))
    ends = d.select(*keys, F.col(nm.END_COL).alias("__pos__"), (-val).alias("__delta__"))
    deltas = starts.unionByName(ends).groupBy(*keys, "__pos__").agg(
        F.sum("__delta__").alias("__delta__")
    )
    runs = prefix_sweep(
        deltas, keys, "__pos__", ["__delta__"], ["__cum__"],
        bucket_width=self.resolve_bin(None) * 16,
    ).filter(F.col("__next__").isNotNull())
    value = F.col("__cum__")
    if rpm:
        n = d.count()
        value = value * F.lit(1_000_000.0 / n)
    out = runs.select(
        *keys,
        F.col("__pos__").alias(nm.START_COL),
        F.col("__next__").alias(nm.END_COL),
        value.alias(value_out),
    )
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
    from pyranges_1_x_spark.plans.sweep import interval_rows, prefix_sweep

    keys = self.group_keys(use_strand)
    val = F.col(value_col).cast("double")
    d = interval_rows(self.df, keys)
    starts = d.select(
        *keys, F.col(nm.START_COL).alias("__pos__"),
        val.alias("__dv__"), F.lit(1).cast("long").alias("__dc__"),
    )
    ends = d.select(
        *keys, F.col(nm.END_COL).alias("__pos__"),
        (-val).alias("__dv__"), F.lit(-1).cast("long").alias("__dc__"),
    )
    deltas = starts.unionByName(ends).groupBy(*keys, "__pos__").agg(
        F.sum("__dv__").alias("__dv__"), F.sum("__dc__").alias("__dc__")
    )
    runs = prefix_sweep(
        deltas, keys, "__pos__", ["__dv__", "__dc__"], ["__cv__", "__cc__"],
        bucket_width=self.resolve_bin(None) * 16,
    ).filter(F.col("__next__").isNotNull())
    raw = F.col("__cv__") / F.col("__cc__")
    ratio = F.when(F.col("__cc__") > 0, F.log2(raw) if log2 else raw)
    runs = runs.select(
        *keys,
        F.col("__pos__").alias(nm.START_COL),
        F.col("__next__").alias(nm.END_COL),
        ratio.alias(ratio_out),
        F.col("__cv__").alias("Value"),
        F.col("__cc__").alias("Depth"),
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
