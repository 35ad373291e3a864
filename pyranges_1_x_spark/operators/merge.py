"""Merge / cluster / boundary operators — clients of the island planner.

Reference: ``merge_overlaps`` (range_frame.py:78-110, methods/merge.py:10-45),
``cluster_overlaps`` (range_frame.py:216-264), ``outer_ranges``/boundaries
(pyranges_main.py:534-609, methods/boundaries.py:13-35).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.islands import assign_islands, island_agg


def merge_overlaps(
    self: GenomicRanges,
    *,
    use_strand="auto",
    match_by=None,
    slack: int = 0,
    count_col: str | None = None,
) -> GenomicRanges:
    """Unite overlapping intervals into superintervals per
    (Chromosome[,Strand][,match_by]); metadata columns are dropped
    (reference merge_overlaps doctest, pyranges_main.py:2111-2131)."""
    keys = self.group_keys(use_strand, match_by)
    out = island_agg(
        self.df,
        keys,
        slack=slack,
        count_col=count_col,
        bucket_width=self.resolve_bin(None) * 16,
    )
    return GenomicRanges(out)


def cluster_overlaps(
    self: GenomicRanges,
    *,
    use_strand="auto",
    match_by=None,
    slack: int = 0,
    cluster_column: str = "Cluster",
    tiebreak=None,
) -> GenomicRanges:
    """Tag each row with an overlap-connected-component id
    (reference cluster_overlaps doctest, pyranges_main.py:700-745).

    Cluster ids are 0-based *within each key group* (deterministic given
    `tiebreak`); the reference numbers clusters globally in sorted-group order —
    an arbitrary labeling either way, so we document the divergence rather than
    force a global sequential numbering (which would serialize at scale)."""
    keys = self.group_keys(use_strand, match_by)
    out = assign_islands(
        self.df,
        keys,
        slack=slack,
        island_col=cluster_column,
        tiebreak=tiebreak,
        bucket_width=self.resolve_bin(None) * 16,
    )
    return GenomicRanges(out)


def outer_ranges(
    self: GenomicRanges,
    group_by=None,
    *,
    use_strand="auto",
    match_by=None,
    count_col: str | None = None,
) -> GenomicRanges:
    """Per-group span: (min Start, max End[, count]) — a pure hash aggregation
    (reference boundaries kernel, methods/boundaries.py:25-29)."""
    # reference spelling: positional ``group_by`` (pyranges_main.py
    # outer_ranges); match_by is this engine's uniform keyword.
    keys = self.group_keys(use_strand, match_by if match_by is not None else group_by)
    aggs = [F.min(nm.START_COL).alias(nm.START_COL), F.max(nm.END_COL).alias(nm.END_COL)]
    if count_col is not None:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    return GenomicRanges(self.df.groupBy(*keys).agg(*aggs))
