"""N-ary operators: count-overlaps matrix and summary statistics.

Reference: ``pr.count_overlaps`` (core/multioverlap.py:11-143) — split all
inputs' boundaries into atomic segments (or use caller-provided ``features``),
then one count column per input; ``summary`` (methods/summary.py:17-57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges


def count_overlaps_matrix(
    grs: dict[str, GenomicRanges],
    *,
    features: GenomicRanges | None = None,
    use_strand="auto",
    bin_size: int | None = None,
) -> GenomicRanges:
    """One row per atomic segment of the union (or per ``features`` row), one
    count column per input name (reference core/multioverlap.py:11-143).

    Without ``features`` this never joins: because the atomic segments are cut
    at every input boundary, "intervals overlapping a segment" equals
    "intervals covering the segment start", so all N count columns come from
    ONE event-point sweep (plans/sweep.py:depth_runs): each input weighs 1
    in its own column, and one scan computes all N running sums. With explicit
    ``features`` (arbitrary, unaligned) it falls back to N binned count joins.
    The sweep drops rows with a NULL key, Start or End
    (plans/sweep.py:interval_rows), which the count joins never match.
    """
    from pyranges_1_x_spark import concat
    from pyranges_1_x_spark.plans.sweep import depth_runs

    items = list(grs.items())
    if features is not None:
        out = features
        for name, g in items:
            out = out.count_overlaps(
                g, strand_behavior="ignore" if use_strand is False else "auto",
                count_col=name, bin_size=bin_size,
            )
        return out

    allg = concat([g for _, g in items])
    base = allg.remove_strand() if use_strand is False else allg
    sources = [
        (g.remove_strand().df if use_strand is False else g.df, {name: F.lit(1)})
        for name, g in items
    ]
    return GenomicRanges(depth_runs(
        sources, base.group_keys(use_strand), bucket_width=allg.resolve_bin(bin_size) * 16
    ))


def summary(
    self: GenomicRanges, *, use_strand="auto", return_df: bool = False
) -> DataFrame:
    """Distribution stats of interval lengths and merged-coverage lengths,
    overall and per strand (reference methods/summary.py:17-57). Returns a
    small DataFrame: (scope, metric, count, mean, min, q25, median, q75, max,
    sum). ``return_df`` mirrors the reference parameter; in a lazy engine
    the table is returned either way (the reference's return_df=False PRINTS
    eagerly — call ``.show()`` on the result for that), so the flag is
    accepted for API compatibility and otherwise ignored."""
    del return_df

    def describe(df: DataFrame, scope: str, metric: str) -> DataFrame:
        lens = df.select((F.col(nm.END_COL) - F.col(nm.START_COL)).alias("L"))
        return lens.agg(
            F.lit(scope).alias("scope"),
            F.lit(metric).alias("metric"),
            F.count("L").alias("count"),
            F.avg("L").alias("mean"),
            F.min("L").alias("min"),
            F.expr("percentile(L, 0.25)").alias("q25"),
            F.expr("percentile(L, 0.5)").alias("median"),
            F.expr("percentile(L, 0.75)").alias("q75"),
            F.max("L").alias("max"),
            F.sum("L").alias("sum"),
        )

    def describe_by_strand(df: DataFrame, metric: str) -> DataFrame:
        # r15 (optimization round): the per-strand rows used to be two
        # FILTERED global aggregates per source relation — so the strand-
        # merged island pipeline (and the raw scan) were each evaluated
        # twice, once per strand branch. One groupBy(Strand) pass computes
        # both rows from a single evaluation. A filtered global aggregate
        # emits its (count=0, null stats) row even for an absent strand,
        # while groupBy drops empty groups — so union two SENTINEL rows
        # (one per strand, L = NULL) into the input first: count/avg/
        # percentile/min/max/sum all skip NULLs, so present strands are
        # unchanged and absent strands get exactly the empty-aggregate row.
        lens = df.select(
            F.col(nm.STRAND_COL).alias("__s__"),
            (F.col(nm.END_COL) - F.col(nm.START_COL)).alias("L"),
        ).filter(F.col("__s__").isin("+", "-"))
        # JVM-native sentinel frame (range+explode): a createDataFrame(list)
        # source would pay a Python-runner handshake per evaluation.
        sentinels = (
            df.sparkSession.range(1)
            .select(
                F.explode(F.array(F.lit("+"), F.lit("-"))).alias("__s__"),
                F.lit(None).cast("long").alias("L"),
            )
        )
        return (
            lens.unionByName(sentinels)
            .groupBy("__s__")
            .agg(
                F.count("L").alias("count"),
                F.avg("L").alias("mean"),
                F.min("L").alias("min"),
                F.expr("percentile(L, 0.25)").alias("q25"),
                F.expr("percentile(L, 0.5)").alias("median"),
                F.expr("percentile(L, 0.75)").alias("q75"),
                F.max("L").alias("max"),
                F.sum("L").alias("sum"),
            )
            .select(
                F.concat(F.lit("strand "), F.col("__s__")).alias("scope"),
                F.lit(metric).alias("metric"),
                "count", "mean", "min", "q25", "median", "q75", "max", "sum",
            )
        )

    parts = [describe(self.df, "all", "interval_length")]
    merged_all = self.merge_overlaps(use_strand=False).df
    parts.append(describe(merged_all, "all", "coverage_run_length"))
    if self.has_strand and use_strand in ("auto", True):
        parts.append(describe_by_strand(self.df, "interval_length"))
        parts.append(
            describe_by_strand(
                self.merge_overlaps(use_strand=True).df, "coverage_run_length"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
