"""Coordinate lifting between transcript-local and genomic space.

Reference: ``map_to_global`` (methods/map_to_global.py:27-88 — the production
pandas composition: equi-join on transcript id, then slice the exon set in
local coordinates and map back) and ``map_to_local``
(methods/map_to_local.py:30-133 — join_overlaps against cumsum'd exons,
intersect, strand-aware coordinate reflection).

Both are pure Catalyst plans here:

* ``map_to_global``: exons get transcript-local spans via the group-cumsum
  window, then ONE equi-join on the transcript id (high-cardinality key —
  shuffles evenly; Catalyst broadcasts a small exon table automatically) and
  per-row interval-clip arithmetic. No interval join is needed because the
  local axis equi-partitions by transcript.
* ``map_to_local``: the genomic side genuinely needs an interval join, so it
  reuses the shared binned planner (plans/interval_join.py) with the same
  scale posture as every other overlap operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.interval_join import binned_join

_CS, _CE = "__mg_cs__", "__mg_ce__"


def map_to_global(
    self: GenomicRanges,
    gr_global: GenomicRanges,
    global_on: str,
    *,
    local_on: str = nm.CHROM_COL,
    keep_id: bool = False,
    keep_loc: bool = False,
    pep_to_cds: bool = False,
    tiebreak=None,
) -> GenomicRanges:
    """Lift intervals in transcript-local coordinates (``self``, whose
    ``local_on`` column holds the transcript id) onto genomic coordinates
    through the exon annotation ``gr_global`` (tx id in ``global_on``).

    A local interval spanning several exons is split into one output row per
    touched exon. Strand: with both sides stranded the output is '+' where
    local and exon strands agree, else '-' (reference map_to_global.py:64-67);
    with only the exon side stranded, the exon strand is reported.
    """
    if pep_to_cds:
        # reference pep_to_cds (pyranges_main.py map_to_global): self holds
        # PEPTIDE coordinates; scale x3 to CDS space before lifting.
        from pyranges_1_x_spark.core import GenomicRanges as _GR

        self = _GR(
            self.df.withColumn(nm.START_COL, F.col(nm.START_COL) * 3).withColumn(
                nm.END_COL, F.col(nm.END_COL) * 3
            )
        )
    local_has_strand = self.has_strand
    global_has_strand = gr_global.has_strand

    # Exon table with transcript-local spans (5'-ordered cumsum window).
    excum = gr_global.group_cumsum(
        group_by=global_on,
        use_strand="auto",
        cumsum_start_column=_CS,
        cumsum_end_column=_CE,
        tiebreak=tiebreak,
    ).df
    exon_cols = {
        nm.CHROM_COL: "__g_chrom__",
        nm.START_COL: "__g_start__",
        nm.END_COL: "__g_end__",
        global_on: "__g_tx__",
    }
    if global_has_strand:
        exon_cols[nm.STRAND_COL] = "__g_strand__"
    ex = excum.select(
        *[F.col(c).alias(a) for c, a in exon_cols.items()], F.col(_CS), F.col(_CE)
    )

    joined = self.df.join(ex, F.col(local_on) == F.col("__g_tx__"), "inner")

    # Clip the local interval to each exon's local span. Pair-emission uses
    # the STRICT-OVERLAP predicate (ls < ce AND cs < le), not lo < hi: the
    # two are equivalent for non-degenerate intervals, but a zero-length
    # local interval [p, p) strictly inside an exon's span is an insertion
    # point and maps to a zero-length genomic row — exactly what
    # map_to_local emits in the inverse direction through the shared binned
    # join (r8: a 25-example random hypothesis run caught the two
    # directions disagreeing on this). At an exon junction (p == ce == next
    # cs) the strict predicate maps it nowhere, matching the overlap
    # family's bookend rule.
    lo = F.greatest(F.col(nm.START_COL), F.col(_CS))
    hi = F.least(F.col(nm.END_COL), F.col(_CE))
    joined = joined.withColumn("__lo__", lo).withColumn("__hi__", hi).filter(
        (F.col(nm.START_COL) < F.col(_CE)) & (F.col(_CS) < F.col(nm.END_COL))
    )

    fwd = F.col("__g_strand__") != "-" if global_has_strand else F.lit(True)
    new_start = F.when(fwd, F.col("__g_start__") + (F.col("__lo__") - F.col(_CS))).otherwise(
        F.col("__g_end__") - (F.col("__hi__") - F.col(_CS))
    )
    new_end = F.when(fwd, F.col("__g_start__") + (F.col("__hi__") - F.col(_CS))).otherwise(
        F.col("__g_end__") - (F.col("__lo__") - F.col(_CS))
    )

    out = joined
    if keep_loc:
        out = out.withColumn("Start_local", F.col(nm.START_COL)).withColumn(
            "End_local", F.col(nm.END_COL)
        )
        if local_has_strand and global_has_strand:
            out = out.withColumn("Strand_local", F.col(nm.STRAND_COL))
    if keep_id:
        out = out.withColumn(global_on if global_on != local_on else global_on + "_id",
                             F.col("__g_tx__"))

    out = (
        out.withColumn("__ns__", new_start)
        .withColumn("__ne__", new_end)
        .withColumn(nm.CHROM_COL, F.col("__g_chrom__"))
        .withColumn(nm.START_COL, F.col("__ns__"))
        .withColumn(nm.END_COL, F.col("__ne__"))
    )
    if local_has_strand and global_has_strand:
        out = out.withColumn(
            nm.STRAND_COL,
            F.when(F.col(nm.STRAND_COL) == F.col("__g_strand__"), "+").otherwise("-"),
        )
    elif global_has_strand:
        out = out.withColumn(nm.STRAND_COL, F.col("__g_strand__"))

    drop = ["__g_chrom__", "__g_start__", "__g_end__", "__g_tx__", _CS, _CE,
            "__lo__", "__hi__", "__ns__", "__ne__"]
    if global_has_strand:
        drop.append("__g_strand__")
    if local_on != nm.CHROM_COL:
        drop.append(local_on)
    return GenomicRanges(out.drop(*drop))


def map_to_local(
    self: GenomicRanges,
    ref: GenomicRanges,
    ref_on: str,
    *,
    match_by=None,
    keep_chrom: bool = False,
    keep_loc: bool = False,
    tiebreak=None,
    bin_size: int | None = None,
) -> GenomicRanges:
    """Inverse lift: map genomic intervals (``self``) into the local coordinate
    space of the transcripts in ``ref`` (tx id in ``ref_on``); the output
    Chromosome column holds the transcript id.

    Overlap join against the cumsum'd exons, intersect, then per-exon-strand
    coordinate reflection (reference map_to_local.py:76-115: on '-' exons
    ``start,end = exon_end - end + cum_start, exon_end - start + cum_start``).
    """
    gr_has_strand = self.has_strand
    ref_has_strand = ref.has_strand
    bin_size = self.resolve_bin(bin_size)
    match_by = [match_by] if isinstance(match_by, str) else list(match_by or [])
    keys = [nm.CHROM_COL, *match_by]

    refcum = ref.group_cumsum(
        group_by=ref_on,
        use_strand="auto",
        cumsum_start_column=_CS,
        cumsum_end_column=_CE,
        tiebreak=tiebreak,
    ).df
    sel = {
        nm.START_COL: "__r_start__",
        nm.END_COL: "__r_end__",
        ref_on: "__r_tx__",
    }
    if ref_has_strand:
        sel[nm.STRAND_COL] = "__r_strand__"
    rsel = refcum.select(
        *keys, *[F.col(c).alias(a) for c, a in sel.items()], F.col(_CS), F.col(_CE)
    )
    joined = binned_join(
        self.df,
        rsel,
        keys=keys,
        how="inner",
        bin_size=bin_size,
        rstart="__r_start__",
        rend="__r_end__",
    )

    # Intersect in genomic space, then transform into local coordinates.
    s = F.greatest(F.col(nm.START_COL), F.col("__r_start__"))
    e = F.least(F.col(nm.END_COL), F.col("__r_end__"))
    ref_neg = F.col("__r_strand__") == "-" if ref_has_strand else F.lit(False)
    new_start = F.when(ref_neg, F.col("__r_end__") - e + F.col(_CS)).otherwise(
        s - F.col("__r_start__") + F.col(_CS)
    )
    new_end = F.when(ref_neg, F.col("__r_end__") - s + F.col(_CS)).otherwise(
        e - F.col("__r_start__") + F.col(_CS)
    )

    out = joined
    if keep_chrom:
        out = out.withColumn("Chromosome_global", F.col(nm.CHROM_COL))
    if keep_loc:
        out = out.withColumn("Start_global", F.col("__r_start__")).withColumn(
            "End_global", F.col("__r_end__")
        )
        if gr_has_strand and ref_has_strand:
            out = out.withColumn("Strand_global", F.col("__r_strand__"))

    out = (
        out.withColumn("__ns__", new_start)
        .withColumn("__ne__", new_end)
        .withColumn(nm.CHROM_COL, F.col("__r_tx__"))
        .withColumn(nm.START_COL, F.col("__ns__"))
        .withColumn(nm.END_COL, F.col("__ne__"))
    )
    if gr_has_strand and ref_has_strand:
        out = out.withColumn(
            nm.STRAND_COL,
            F.when(F.col(nm.STRAND_COL) == F.col("__r_strand__"), "+").otherwise("-"),
        )
    elif ref_has_strand and not gr_has_strand:
        out = out.withColumn(nm.STRAND_COL, F.col("__r_strand__"))

    drop = ["__r_start__", "__r_end__", "__r_tx__", _CS, _CE, "__ns__", "__ne__",
            "__ij_lid__", "__ij_rid__", "__matched__"]
    if ref_has_strand:
        drop.append("__r_strand__")
    return GenomicRanges(out.drop(*drop))
