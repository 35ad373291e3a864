"""Interval-set operators: subtract, complement, set union/intersect, split.

Reference: ``subtract_overlaps`` (range_frame.py:652-711),
``complement_ranges`` (pyranges_main.py:5705-5896, methods/complement.py:13-78),
``set_union/intersect_overlaps`` (pyranges_main.py:2617-2820),
``split_overlaps`` (pyranges_main.py:3264-3415, methods/split.py:12-37).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.interval_join import binned_join, top1_overlap
from pyranges_1_x_spark.plans.islands import island_agg
from pyranges_1_x_spark.plans.sweep import interval_rows

_LID = "__ij_lid__"


def subtract_overlaps(
    self: GenomicRanges,
    other: GenomicRanges,
    *,
    strand_behavior: str = "auto",
    match_by=None,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Self minus (merged) other: each self row is split into the sub-intervals
    not covered by any other interval; fully-covered rows disappear; metadata
    is carried through (reference range_frame.py:699-707). Only NONEMPTY
    residuals are emitted — a zero-length input row [p,p) denotes the empty
    set and never produces output (the gap/tail filters require
    start < end; pinned by tests/test_property_based.py). A self row with a
    NULL key, Start or End is on no chromosome and leaves no residual
    (``plans/sweep.py:interval_rows``, the rule every sweep uses); with
    ``strand_behavior="same"`` the Strand is a key, so a NULL-Strand row
    leaves none either.

    Plan: merge other per group (disjoint blockers) -> ONE left binned join ->
    per-self-row ordered window over blockers emits the gap before each blocker
    and, on the last row, the trailing gap (matchless rows are their own last
    row and emit the full interval). Single-branch: no anti-join, no id reuse
    across branches; per-row window state is O(1).
    """
    odf, keys = self._binary_prepared(other, strand_behavior, match_by)
    bin_size = self.resolve_bin(bin_size)
    blockers = (
        island_agg(
            odf.select(*keys, nm.START_COL, nm.END_COL), keys, bucket_width=bin_size * 16,
        )
        .withColumnRenamed(nm.START_COL, "__bs__")
        .withColumnRenamed(nm.END_COL, "__be__")
        # Zero-length islands ([p,p) rows in other that merged with nothing)
        # cover no positions, but the gap/tail window would still SPLIT a
        # self row at p into two touching residuals. Subtracting the empty
        # set must be the identity, so drop them before the join
        # (tests/test_property_based.py pins this).
        .filter(F.col("__be__") > F.col("__bs__"))
    )
    joined = binned_join(
        interval_rows(self.df, keys),
        blockers,
        keys=keys,
        how="left",
        bin_size=bin_size,
        rstart="__bs__",
        rend="__be__",
        # Raw bin rows (matchless rows keep their real per-row _LID, possibly
        # once per bin). Harmless to the windows below: extra rows carry null
        # __bs__/__be__, which max() skips and desc_nulls_last ranks after
        # every real blocker; gap rows are gated on __matched__ and the tail
        # fires once at rn_desc == 1 (row_number is unique).
        keep_unmatched_bins=True,
    )

    w = Window.partitionBy(_LID).orderBy(F.col("__bs__").asc_nulls_first())
    prev_end = F.max("__be__").over(w.rowsBetween(Window.unboundedPreceding, -1))
    rn_desc = F.row_number().over(
        Window.partitionBy(_LID).orderBy(F.col("__bs__").desc_nulls_last())
    )
    max_end = F.max("__be__").over(Window.partitionBy(_LID))

    gap_start = F.greatest(F.col(nm.START_COL), F.coalesce(prev_end, F.col(nm.START_COL)))
    gap_end = F.least(F.col(nm.END_COL), F.col("__bs__"))
    tail_start = F.when(
        F.col("__matched__"), F.greatest(F.col(nm.START_COL), max_end)
    ).otherwise(F.col(nm.START_COL))

    enriched = (
        joined.withColumn("__gs__", gap_start)
        .withColumn("__ge__", gap_end)
        .withColumn("__ts__", F.when(rn_desc == 1, tail_start))
    )

    meta = [c for c in self.df.columns if c not in (nm.START_COL, nm.END_COL)]
    # NB: F.least/greatest skip nulls, so gate on __matched__ — otherwise a
    # matchless row (null __bs__) would get __ge__ = End and leak a full-row gap.
    #
    # r15 (optimization round): gaps and tails used to be two FILTERED
    # BRANCHES of `enriched` glued with unionByName — and `enriched` is the
    # whole binned join + three windows, so Catalyst evaluated that subtree
    # TWICE end to end (plans/r15/subtract_before.txt: the full
    # join+Exchange+Window pipeline appears once per union arm). Emitting
    # both residuals from ONE pass instead — per row, an array of the (up to
    # two) surviving [s, e) segments, explode — keeps the multiset of output
    # rows identical (a row that yields both a gap and a tail still yields
    # two rows; a row that yields neither gets an empty array, which explode
    # drops) while the join/window pipeline runs once. At 100 TB this halves
    # the operator: one binned join + one window pass instead of two.
    segs = F.filter(
        F.array(
            F.when(
                F.col("__matched__") & (F.col("__gs__") < F.col("__ge__")),
                F.struct(
                    F.col("__gs__").alias("__s__"), F.col("__ge__").alias("__e__")
                ),
            ),
            F.when(
                F.col("__ts__").isNotNull() & (F.col("__ts__") < F.col(nm.END_COL)),
                F.struct(
                    F.col("__ts__").alias("__s__"),
                    F.col(nm.END_COL).alias("__e__"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    out = (
        enriched.select(*meta, F.explode(segs).alias("__seg__"))
        .select(
            *meta,
            F.col("__seg__.__s__").alias(nm.START_COL),
            F.col("__seg__.__e__").alias(nm.END_COL),
        )
        .select(*self.df.columns)
    )
    return GenomicRanges(out)


def complement_ranges(
    self: GenomicRanges,
    group_by=None,
    *,
    use_strand="auto",
    match_by=None,
    chromsizes=None,
    group_sizes_col: str = nm.CHROM_COL,
    include_first_interval: bool = False,
) -> GenomicRanges:
    """Gaps between merged intervals per group (reference
    pyranges_main.py complement_ranges / methods/complement.py:64-72).

    ``group_by`` is the reference's positional grouping parameter
    (``match_by`` is this engine's uniform keyword — either works). With
    ``chromsizes`` (a (Chromosome, End=size) DataFrame/GenomicRanges or a
    {key: size} dict), also emits the leading gap [0, first_Start) and
    trailing gap [last_End, size); ``group_sizes_col`` names the column the
    sizes are keyed by (reference default: Chromosome — pass the group_by
    column to bound each transcript group instead). With
    ``include_first_interval`` the leading gap is emitted even without
    sizes.
    """
    if match_by is None:
        match_by = group_by
    keys = self.group_keys(use_strand, match_by)
    if isinstance(chromsizes, dict):
        # Key column type must match the frame's own column (ADVICE r7:
        # a numeric transcript id keyed against a hardcoded string side
        # silently matches nothing), so derive it from the schema.
        key_t = (
            self.df.schema[group_sizes_col].dataType.simpleString()
            if group_sizes_col in self.df.columns
            else "string"
        )
        chromsizes = self.df.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in chromsizes.items()],
            f"`{group_sizes_col}` {key_t}, {nm.END_COL} long",
        )
    chromsizes = getattr(chromsizes, "df", chromsizes)
    merged = island_agg(
        self.df.select(*keys, nm.START_COL, nm.END_COL),
        keys,
        bucket_width=self.resolve_bin(None) * 16,
    )
    # (Start, End) — not Start alone: merged islands are strict-overlap
    # disjoint but a zero-length island can TIE a neighbor's Start
    # ([5,5) next to [5,9)), and with an ambiguous tie order the lead()
    # could pair [5,9) with [5,5) and silently swallow the real gap after
    # End=9. (Start, End) is a total order over disjoint islands.
    w = Window.partitionBy(*keys).orderBy(
        F.col(nm.START_COL).asc(), F.col(nm.END_COL).asc()
    )
    nxt = F.lead(nm.START_COL).over(w)
    gaps = (
        merged.withColumn("__next__", nxt)
        .filter(F.col("__next__").isNotNull() & (F.col("__next__") > F.col(nm.END_COL)))
        .select(
            *keys,
            F.col(nm.END_COL).alias(nm.START_COL),
            F.col("__next__").alias(nm.END_COL),
        )
    )
    extras = []
    spans = merged.groupBy(*keys).agg(
        F.min(nm.START_COL).alias("__fs__"), F.max(nm.END_COL).alias("__le__")
    )
    if include_first_interval or chromsizes is not None:
        lead_gap = spans.filter(F.col("__fs__") > 0).select(
            *keys, F.lit(0).cast("long").alias(nm.START_COL), F.col("__fs__").alias(nm.END_COL)
        )
        extras.append(lead_gap)
    if chromsizes is not None:
        sizes = chromsizes.select(
            F.col(group_sizes_col), F.col(nm.END_COL).cast("long").alias("__size__")
        )
        tail_gap = (
            spans.join(F.broadcast(sizes), on=group_sizes_col, how="inner")
            .filter(F.col("__le__") < F.col("__size__"))
            .select(
                *keys,
                F.col("__le__").alias(nm.START_COL),
                F.col("__size__").alias(nm.END_COL),
            )
        )
        extras.append(tail_gap)
    out = gaps
    for e in extras:
        out = out.unionByName(e)
    return GenomicRanges(out)


def set_union_overlaps(
    self: GenomicRanges, other: GenomicRanges, *, strand_behavior: str = "auto"
) -> GenomicRanges:
    """Union of the two interval sets: concat loc columns, then merge
    (reference pyranges_main.py:2723-2820)."""
    odf, keys = self._binary_prepared(other, strand_behavior)
    cols = [*keys, nm.START_COL, nm.END_COL]
    both = self.df.select(*cols).unionByName(odf.select(*cols))
    return GenomicRanges(
        island_agg(both, keys, bucket_width=self.resolve_bin(None) * 16)
    )


def set_intersect_overlaps(
    self: GenomicRanges, other: GenomicRanges, *, strand_behavior: str = "auto",
    multiple: str = nm.OVERLAP_ALL, bin_size: int | None = None,
) -> GenomicRanges:
    """Intersection of the two merged interval sets
    (reference pyranges_main.py:2617-2721). ``multiple`` in {all, first,
    last} keeps every / the smallest- / largest-(Start, End) other-island
    match per merged self island (the doctest-pinned order — see the
    OVERLAP_LAST note in plans/interval_join.py)."""
    if multiple not in nm.VALID_OVERLAP_MODES:
        raise ValueError(
            f"multiple must be one of {nm.VALID_OVERLAP_MODES}, got {multiple!r}"
        )
    odf, keys = self._binary_prepared(other, strand_behavior)
    bin_size = self.resolve_bin(bin_size)
    cols = [*keys, nm.START_COL, nm.END_COL]
    a = island_agg(self.df.select(*cols), keys, bucket_width=bin_size * 16)
    b = (
        island_agg(odf.select(*cols), keys, bucket_width=bin_size * 16)
        .withColumnRenamed(nm.START_COL, "__bs__")
        .withColumnRenamed(nm.END_COL, "__be__")
    )
    pairs = binned_join(
        a, b, keys=keys, how="inner", bin_size=bin_size,
        rstart="__bs__", rend="__be__",
    )
    if multiple != nm.OVERLAP_ALL:
        # WindowGroupLimit top-1 per merged self island — no SortAggregate
        # (see plans/interval_join.top1_overlap for semantics + r16 A/B).
        pairs = top1_overlap(pairs, "__bs__", "__be__", multiple)
    out = pairs.select(
        *keys,
        F.greatest(F.col(nm.START_COL), F.col("__bs__")).alias(nm.START_COL),
        F.least(F.col(nm.END_COL), F.col("__be__")).alias(nm.END_COL),
    )
    return GenomicRanges(out)


def split_overlaps(
    self: GenomicRanges,
    *,
    use_strand="auto",
    match_by=None,
    between: bool = False,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Atomize intervals at every Start/End boundary per group; ``between``
    keeps the segments in gaps too (reference methods/split.py:12-37: concat
    starts+ends, sort, dedupe, zip adjacent — here: the runs of one depth
    sweep, plans/sweep.py:depth_runs).
    Rows with a NULL key, Start or End are dropped
    (plans/sweep.py:interval_rows)."""
    from pyranges_1_x_spark.plans.sweep import depth_runs

    keys = self.group_keys(use_strand, match_by)
    # At each distinct boundary point the running (+starts -ends) depth tells
    # whether the following segment is inside >= 1 input interval, so
    # "covered" needs no join. Zero-length inputs contribute +1-1 at one
    # point (depth unchanged), correctly splitting without covering.
    segs = depth_runs(
        [(self.df, {"__depth__": F.lit(1)})], keys, bucket_width=self.resolve_bin(bin_size) * 16
    )
    if not between:
        segs = segs.filter(F.col("__depth__") > 0)
    return GenomicRanges(segs.drop("__depth__"))
