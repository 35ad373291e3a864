"""Coordinate-geometry operators: extend, tile, window, clip, tile_genome.

Reference: ``extend_ranges`` (pyranges_main.py:879-1039), ``tile_ranges`` /
``window_ranges`` (pyranges_main.py:3719-3846, 4838-5096), ``genome_bounds``
clip (pyranges_main.py:6219-6226), ``tile_genome`` (methods/tile_genome.py:13-109).
All pure Column arithmetic + explode(sequence(...)) — fully codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.interval_join import bin_range


def extend_ranges(
    self: GenomicRanges,
    *,
    ext: int | None = None,
    ext_5: int | None = None,
    ext_3: int | None = None,
    use_strand="auto",
    group_by=None,
) -> GenomicRanges:
    """Pad interval ends; 5'/3' are strand-aware (on '-' strand the 5' end is
    End — reference pyranges_main.py:1025-1034). With ``group_by`` only the
    outermost ends of each group (transcript) are extended."""
    if ext is not None and (ext_5 is not None or ext_3 is not None):
        raise ValueError("use either ext or ext_5/ext_3")
    e5 = ext if ext is not None else (ext_5 or 0)
    e3 = ext if ext is not None else (ext_3 or 0)
    stranded = self.has_strand and (use_strand == "auto" or use_strand is True)
    neg = F.col(nm.STRAND_COL) == "-" if stranded else F.lit(False)
    start_pad = F.when(neg, F.lit(e3)).otherwise(F.lit(e5))
    end_pad = F.when(neg, F.lit(e5)).otherwise(F.lit(e3))
    d = self.df
    if group_by is None:
        out = d.withColumn(
            nm.START_COL, F.greatest(F.col(nm.START_COL) - start_pad, F.lit(0))
        ).withColumn(nm.END_COL, F.col(nm.END_COL) + end_pad)
        return GenomicRanges(out)
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    w = Window.partitionBy(nm.CHROM_COL, *keys)
    gmin, gmax = F.min(nm.START_COL).over(w), F.max(nm.END_COL).over(w)
    out = d.withColumn(
        nm.START_COL,
        F.when(
            F.col(nm.START_COL) == gmin, F.greatest(F.col(nm.START_COL) - start_pad, F.lit(0))
        ).otherwise(F.col(nm.START_COL)),
    ).withColumn(
        nm.END_COL,
        F.when(F.col(nm.END_COL) == gmax, F.col(nm.END_COL) + end_pad).otherwise(
            F.col(nm.END_COL)
        ),
    )
    return GenomicRanges(out)


def tile_ranges(
    self: GenomicRanges,
    tile_size: int,
    *,
    use_strand="auto",
    match_by=None,
    overlap_column: str | None = None,
) -> GenomicRanges:
    """Chop each interval into genome-aligned tiles of ``tile_size``
    (reference pyranges_main.py:3832-3837). ``overlap_column`` reports the
    number of covered positions in each tile (the reference reports the
    fraction; we emit the exact integer length — divide by tile_size for the
    fraction — to keep the column float-exact).

    ``use_strand`` / ``match_by`` are accepted for reference API parity and
    have no effect on the VALUE multiset by the reference's own
    documentation (pyranges_main.py:3740-3751: tiles always come from the
    fixed genomic grid; strand and grouping only affect row ITERATION
    order, which a distributed engine does not define)."""
    del use_strand, match_by
    d = self.df
    tiles = F.sequence(*bin_range(F.col(nm.START_COL), F.col(nm.END_COL), tile_size))
    d = d.withColumn("__tile__", F.explode(tiles))  # a NULL Start has no tiles
    tile_start = F.col("__tile__") * tile_size
    tile_end = tile_start + tile_size
    if overlap_column is not None:
        d = d.withColumn(
            overlap_column,
            F.least(F.col(nm.END_COL), tile_end) - F.greatest(F.col(nm.START_COL), tile_start),
        )
    out = d.withColumn(nm.START_COL, tile_start).withColumn(nm.END_COL, tile_end).drop("__tile__")
    return GenomicRanges(out)


def window_ranges(
    self: GenomicRanges,
    window_size: int,
    use_strand="auto",
    group_by=None,
    *,
    add_window_id: bool = False,
) -> GenomicRanges:
    """Chop each interval into chunks of ``window_size`` anchored at its 5'
    end (reference pyranges_main.py:5028-5170): on the '-' strand windows
    slice DESCENDING from End, so the short remainder window falls at the
    far (left) end — doctest [600,787) w=100 => [687,787), [600,687). With
    ``group_by``, the window axis is the SPLICED transcript: local cumsum
    coordinates per group, windows of the local axis, each exon clipped to
    each window it overlaps (a window spanning an intron yields
    non-contiguous pieces sharing a ``window_id``). ``add_window_id``
    emits the 0-based per-group (or per-row) window index.

    All codegen: the ungrouped form is a per-row explode; the grouped form
    adds the same 5'->3' cumsum window that slice_ranges/group_cumsum use,
    then explodes each row over the local windows it spans.
    """
    from pyranges_1_x_spark.operators.local_coords import (
        _five_prime_window,
        _neg,
    )

    neg = _neg(self, use_strand)
    d = self.df
    w = F.lit(window_size)
    if group_by is None:
        # per-row local axis [0, len)
        ls, le = F.lit(0), F.col(nm.END_COL) - F.col(nm.START_COL)
    else:
        keys = [nm.CHROM_COL] + (
            [group_by] if isinstance(group_by, str) else list(group_by)
        )
        win = _five_prime_window(keys, neg)
        length = F.col(nm.END_COL) - F.col(nm.START_COL)
        le_c = F.sum(length).over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        d = d.withColumn("__le__", le_c).withColumn("__ls__", F.col("__le__") - length)
        ls, le = F.col("__ls__"), F.col("__le__")
    lo_k = F.floor(ls / w).cast("long")
    hi_k = F.greatest(F.ceil(le / w).cast("long") - 1, lo_k)
    d = d.withColumn("__k__", F.explode(F.sequence(lo_k, hi_k)))
    # piece of this row inside local window k, in local coordinates
    plo = F.greatest(ls, F.col("__k__") * w)
    phi = F.least(le, (F.col("__k__") + 1) * w)
    off_lo, off_hi = plo - ls, phi - ls
    gs = F.when(neg, F.col(nm.END_COL) - off_hi).otherwise(F.col(nm.START_COL) + off_lo)
    ge = F.when(neg, F.col(nm.END_COL) - off_lo).otherwise(F.col(nm.START_COL) + off_hi)
    out = (
        d.withColumn("__ws__", gs)
        .withColumn("__we__", ge)
        .withColumn(nm.START_COL, F.col("__ws__"))
        .withColumn(nm.END_COL, F.col("__we__"))
    )
    if add_window_id:
        out = out.withColumn("window_id", F.col("__k__"))
    out = out.drop("__k__", "__ws__", "__we__", "__ls__", "__le__")
    return GenomicRanges(out)


def clip_ranges(
    self: GenomicRanges, chromsizes=None, *, mode: str = "clip",
    remove: bool = False, only_right: bool = False,
) -> GenomicRanges:
    """Clip to [0, chrom_size) or drop out-of-bounds rows
    (reference genome_bounds, pyranges_main.py:6075-6233). ``chromsizes`` is
    a small (Chromosome, End=size) DataFrame/GenomicRanges, a
    {chrom: size} dict, or None — the reference's None fallback clips on
    the LEFT only (it substitutes the global max End as every chromosome's
    size, which makes the right clip vacuous; we skip the size join
    entirely). Broadcast by construction.

    ``remove=True`` is the reference's boolean spelling of
    ``mode="remove"`` (drop rows even partially out of bounds).
    ``only_right`` (reference pyranges_main.py:6090-6094): act only on
    intervals out-of-bounds on the right (End > size); leave Start < 0
    untouched (clip) / un-dropped (remove)."""
    if remove:
        mode = "remove"
    if chromsizes is None:
        d0 = self.df
        if mode == "clip":
            if only_right:
                return GenomicRanges(d0)
            out0 = d0.withColumn(
                nm.START_COL, F.greatest(F.col(nm.START_COL), F.lit(0))
            ).filter(F.col(nm.START_COL) < F.col(nm.END_COL))
            return GenomicRanges(out0)
        if mode == "remove":
            return GenomicRanges(
                d0 if only_right else d0.filter(F.col(nm.START_COL) >= 0)
            )
        raise ValueError("mode must be 'clip' or 'remove'")
    if isinstance(chromsizes, dict):
        # Match the frame's own Chromosome type rather than assuming string
        # (same divergence class as setops.complement_ranges, ADVICE r7).
        key_t = self.df.schema[nm.CHROM_COL].dataType.simpleString()
        chromsizes = self.df.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in chromsizes.items()],
            f"{nm.CHROM_COL} {key_t}, {nm.END_COL} long",
        )
    chromsizes = getattr(chromsizes, "df", chromsizes)
    sizes = chromsizes.select(
        F.col(nm.CHROM_COL), F.col(nm.END_COL).cast("long").alias("__size__")
    )
    d = self.df.join(F.broadcast(sizes), on=nm.CHROM_COL, how="inner")
    if mode == "clip":
        clamped_start = (
            F.col(nm.START_COL)
            if only_right
            else F.greatest(F.col(nm.START_COL), F.lit(0))
        )
        out = (
            d.withColumn(nm.START_COL, clamped_start)
            .withColumn(nm.END_COL, F.least(F.col(nm.END_COL), F.col("__size__")))
            .filter(F.col(nm.START_COL) < F.col(nm.END_COL))
        )
    elif mode == "remove":
        in_bounds = F.col(nm.END_COL) <= F.col("__size__")
        if not only_right:
            in_bounds = (F.col(nm.START_COL) >= 0) & in_bounds
        out = d.filter(in_bounds)
    else:
        raise ValueError("mode must be 'clip' or 'remove'")
    return GenomicRanges(out.drop("__size__"))


def tile_genome(chromsizes: DataFrame, tile_size: int, *, full_last_tile: bool = False) -> GenomicRanges:
    """Tile every chromosome end to end (reference methods/tile_genome.py:13-109)."""
    sizes = chromsizes.select(F.col(nm.CHROM_COL), F.col(nm.END_COL).cast("long").alias("__size__"))
    d = sizes.withColumn(
        "__tile__",
        F.explode(F.sequence(F.lit(0), F.greatest(F.ceil(F.col("__size__") / tile_size).cast("long") - 1, F.lit(0)))),
    )
    ts = F.col("__tile__") * tile_size
    te = ts + tile_size
    if not full_last_tile:
        te = F.least(te, F.col("__size__"))
    out = d.select(
        F.col(nm.CHROM_COL), ts.alias(nm.START_COL), te.alias(nm.END_COL)
    )
    return GenomicRanges(out)
