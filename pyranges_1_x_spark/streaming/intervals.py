"""Streaming interval operators (Spark-side extension; no reference analogue).

Two streaming-safe shapes over the engine's binned-interval machinery:

* ``annotate_stream`` — overlap-join a STREAM of intervals against a static
  annotation frame. Stateless (stream-static inner joins need no state
  store), so it runs with any trigger and never grows memory: each
  micro-batch is binned, hash-joined against the static side, and emitted.
* ``windowed_interval_coverage`` — event-time rollup of interval depth per
  (window, Chromosome, bin): a watermarked streaming aggregation whose state
  is bounded by (#windows in watermark horizon) x (#hot bins). The coarse
  ``bin_size`` is the state knob.

Both run identically on a batch DataFrame (watermark skipped), which is how
the correctness tests and the DuckDB oracle exercise the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.interval_join import bin_range, bin_sides


def annotate_stream(
    stream: DataFrame,
    annotation: GenomicRanges,
    *,
    keys: list[str] | None = None,
    suffix: str = nm.JOIN_SUFFIX,
    bin_size: int = nm.DEFAULT_BIN_SIZE,
) -> DataFrame:
    """Inner overlap-join of a (possibly streaming) interval DataFrame against
    a static annotation frame; output = stream columns + suffixed annotation
    columns, one row per overlapping pair.

    Built on the planner's bin builder (not ``interval_join``) because
    streaming plans forbid ``monotonically_increasing_id`` — and a stateless
    pair-emitting join needs no row identity anyway."""
    keys = keys or [nm.CHROM_COL]
    right = annotation.df
    for c in right.columns:
        if c not in keys and (c in (nm.START_COL, nm.END_COL) or c in stream.columns):
            right = right.withColumnRenamed(c, c + suffix)

    lb, rb, cond, once = bin_sides(
        stream, right, keys, bin_size=bin_size,
        rstart=nm.START_COL + suffix, rend=nm.END_COL + suffix, ids=False,
    )
    out_cols = stream.columns + [c for c in right.columns if c not in keys]
    return lb.join(F.broadcast(rb), cond & once, "inner").select(*out_cols)


def windowed_interval_coverage(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    bin_size: int = nm.DEFAULT_BIN_SIZE,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per event-time window, per (Chromosome, coordinate bin): how many
    intervals touched the bin. Streaming state is bounded by the watermark."""
    d = events
    if d.isStreaming:
        d = d.withWatermark(ts_col, watermark)
    # integer-exact bins (a float division loses precision above 2^53); a
    # NULL Start touches no bin
    bins = F.sequence(*bin_range(F.col(nm.START_COL), F.col(nm.END_COL), bin_size))
    binned = d.withColumn("__bin__", F.explode(bins))
    return (
        binned.groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.col(nm.CHROM_COL),
            F.col("__bin__"),
        )
        .agg(F.count(F.lit(1)).alias("n_intervals"))
        .select(
            F.col("w.start").alias("window_start"),
            nm.CHROM_COL,
            (F.col("__bin__") * bin_size).alias(nm.START_COL),
            (F.col("__bin__") * bin_size + bin_size).alias(nm.END_COL),
            "n_intervals",
        )
    )
