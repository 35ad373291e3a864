"""Statistics surface (reference ext/stats.py).

``fdr`` (Benjamini-Hochberg, ext/stats.py:124-171), set metrics ``jaccard`` /
``forbes`` (ext/stats.py:745-797, 687-742), ``relative_distance``
(ext/stats.py:800-864, methods/statistics.py:10-38). ``fisher_exact`` needs
scipy (absent here) -> gated stub. All Spark-side implementations compose the
engine's own merge/intersect operators + window ranks — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans.qcache import checkpoint_tracked, free_checkpoint


def fdr(df: DataFrame, p_col: str = "PValue", out_col: str = "FDR") -> DataFrame:
    """Benjamini-Hochberg adjusted p-values: p * n / rank, then a running min
    from the largest p downward (the monotonicity enforcement step).

    Fully two-phase — no global serial window at any step: n is a broadcast
    scalar, the global p-rank is a ``row_number`` ``bucketed_scan`` over the
    scaled-p bucket axis, and the BH suffix min is ``asof_extreme`` on the
    rank axis (bucket-local running min patched with later buckets' minima
    via the one-row-per-bucket summary). A NULL p-value is not a test: it
    counts in neither n nor the ranks, and its row is dropped."""
    from pyranges_1_x_spark.plans.interval_join import floordiv
    from pyranges_1_x_spark.plans.sweep import Scan, asof_extreme, bucketed_scan

    n_row = df.agg(F.count(p_col).cast("double").alias("__n__"))
    d = df.crossJoin(F.broadcast(n_row))
    # p in [0, 1] -> integer bucket axis; equal p always shares a bucket.
    d = d.withColumn("__pp__", F.floor(F.col(p_col) * F.lit(1e9)).cast("long"))
    d = bucketed_scan(
        d.withColumn("__bkt__", floordiv(F.col("__pp__"), 4_000_000)),
        [],
        "__bkt__",
        [Scan("__rk__", "row_number", None, [F.col(p_col).asc(), F.monotonically_increasing_id()])],
    ).drop("__bkt__")
    d = d.withColumn("__raw__", F.col(p_col) * F.col("__n__") / F.col("__rk__"))
    # r15: the suffix-min sweep evaluates its input under TWO plan branches
    # (bucket-local window + bucket summary — sweep.py's documented trade),
    # and here that input is itself the whole rank pipeline (exchange + two
    # windows + broadcast join), which the duplicate evaluation re-ran end
    # to end (plans/r15/fdr_before.txt ops 50-93); AQE reused no exchange
    # there (verified at runtime: 0 ReusedExchange). A LAZY localCheckpoint
    # materializes the ranked rows once — narrow rows (id cols + p + n +
    # rank + raw), so the block write is far cheaper than a second full
    # exchange+window pass at any scale. Interleaved A/B at sf0.1 in
    # OPTIMIZATION_r15.md. Tracked (plans/qcache.py, r16): checkpoint blocks
    # outlive the plan — the caller releases via free_tracked() once the
    # result is consumed.
    d = checkpoint_tracked(d, eager=False)
    d = asof_extreme(
        d,
        [],
        "__rk__",
        F.lit(True),
        "__raw__",
        side="ge",
        agg="min",
        bucket_width=4096,
        out_col="__runmin__",
    )
    return d.withColumn(out_col, F.least(F.col("__runmin__"), F.lit(1.0))).drop(
        "__raw__", "__rk__", "__pp__", "__n__", "__runmin__"
    )


def _dual_depth_lengths(a: GenomicRanges, bdf: DataFrame, keys: list[str]) -> DataFrame:
    """One event sweep over BOTH interval sets -> 1-row frame of covered-
    position totals: ``la`` (depth_a > 0), ``lb`` (depth_b > 0), ``il``
    (both), ``ul`` (either).

    Covered-position totals need no merged relation: the sum of
    merged-interval lengths is the number of positions with coverage depth
    > 0, so ONE two-column depth sweep (plans/sweep.py:depth_runs) over both
    sets yields every total in a single pass. Building each quantity from its
    own merged relation evaluated island_agg of A and of B twice each (once
    inside set_intersect/set_union, once for the standalone length sums;
    plans/r15/forbes_stat_before.txt shows the duplicated Window+Exchange
    island subtrees). Integer segment sums, so the values are bit-identical
    to the merged-relation formulation (zero-length intervals net +1-1 at one
    point and contribute nothing either way; interior event points split
    segments without changing sums). Rows with a NULL key, Start or End are
    dropped from both sets (plans/sweep.py:interval_rows), as the
    equality-keyed set_intersect_overlaps never matches them.
    """
    from pyranges_1_x_spark.plans.sweep import depth_runs

    segs = depth_runs(
        [(a.df, {"__ca__": F.lit(1)}), (bdf, {"__cb__": F.lit(1)})],
        keys,
        bucket_width=a.resolve_bin(None) * 16,
    )
    seg_len = F.col(nm.END_COL) - F.col(nm.START_COL)
    ca, cb = F.col("__ca__") > 0, F.col("__cb__") > 0
    return segs.agg(
        F.coalesce(F.sum(F.when(ca, seg_len)), F.lit(0)).alias("la"),
        F.coalesce(F.sum(F.when(cb, seg_len)), F.lit(0)).alias("lb"),
        F.coalesce(F.sum(F.when(ca & cb, seg_len)), F.lit(0)).alias("il"),
        F.coalesce(F.sum(F.when(ca | cb, seg_len)), F.lit(0)).alias("ul"),
    )


def jaccard_statistic(
    a: GenomicRanges, b: GenomicRanges, *, strand_behavior: str = "ignore"
) -> DataFrame:
    """Genome-wide Jaccard: |intersection| / |union| of the two merged interval
    sets (reference ext/stats.py:745-797). Returns a 1-row DataFrame.

    Both set ops resolve the same grouping keys, so the two length sums come
    from ONE dual-depth sweep (`_dual_depth_lengths`) instead of two full
    merge+join pipelines — values bit-identical (integer sums)."""
    odf, keys = a._binary_prepared(b, strand_behavior)
    sums = _dual_depth_lengths(a, odf, keys)
    return sums.select(
        (F.col("il") / F.col("ul")).alias("jaccard"),
        F.col("il").alias("intersection_length"),
        F.col("ul").alias("union_length"),
    )


def forbes_statistic(
    a: GenomicRanges, b: GenomicRanges, genome_length: int, *, strand_behavior: str = "ignore"
) -> DataFrame:
    """Forbes coefficient: genome_len * |A∩B| / (|A|*|B|) on merged sets
    (reference ext/stats.py:687-742).

    |A| and |B| are STRAND-IGNORED merges regardless of ``strand_behavior``
    (reference semantics), so the one-sweep path applies only when the
    intersection's keys are strand-free too; otherwise fall back to the
    merged-relation formulation."""
    odf, keys = a._binary_prepared(b, strand_behavior)
    if nm.STRAND_COL not in keys:
        sums = _dual_depth_lengths(a, odf, keys)
        return sums.select(
            # Divide before multiplying (in double): genome_length * il and
            # la * lb overflow int64 at genome scale (3.1e9^2 > 2^63), and
            # non-ANSI Spark would wrap silently where DuckDB promotes.
            (
                (F.col("il").cast("double") / F.col("la").cast("double"))
                * (F.lit(float(genome_length)) / F.col("lb").cast("double"))
            ).alias("forbes")
        )
    inter = a.set_intersect_overlaps(b, strand_behavior=strand_behavior).length_sum()
    la = a.merge_overlaps(use_strand=False).length_sum().withColumnRenamed("length", "la")
    lb = b.merge_overlaps(use_strand=False).length_sum().withColumnRenamed("length", "lb")
    return (
        inter.withColumnRenamed("length", "il")
        .crossJoin(la)
        .crossJoin(lb)
        .select(
            (
                (F.col("il").cast("double") / F.col("la").cast("double"))
                * (F.lit(float(genome_length)) / F.col("lb").cast("double"))
            ).alias("forbes")
        )
    )


def relative_distance(
    a: GenomicRanges, b: GenomicRanges
) -> DataFrame:
    """Distribution of each A-midpoint's relative position between the two
    surrounding B-midpoints, in [0, 0.5] (reference ext/stats.py:800-864):
    an as-of lookup of the previous/next B midpoint via one sorted sweep per
    Chromosome. Rows with a NULL Chromosome, Start or End have no midpoint on
    any chromosome and are dropped from both sets (plans/sweep.py:interval_rows)."""
    from pyranges_1_x_spark.plans.sweep import interval_rows

    def midpoints(g: GenomicRanges, typ: int) -> DataFrame:
        return interval_rows(g.df, [nm.CHROM_COL]).select(
            nm.CHROM_COL, ((F.col(nm.START_COL) + F.col(nm.END_COL)) / 2).alias("__m__")
        ).withColumn("__typ__", F.lit(typ))

    allp = midpoints(a, 0).unionByName(midpoints(b, 1))
    wprev = (
        Window.partitionBy(nm.CHROM_COL)
        .orderBy(F.col("__m__").asc(), F.col("__typ__").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy(nm.CHROM_COL)
        .orderBy(F.col("__m__").desc(), F.col("__typ__").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_b = F.max(F.when(F.col("__typ__") == 1, F.col("__m__"))).over(wprev)
    next_b = F.min(F.when(F.col("__typ__") == 1, F.col("__m__"))).over(wnext)
    d = (
        allp.withColumn("__prev__", prev_b)
        .withColumn("__next__", next_b)
        .filter((F.col("__typ__") == 0) & F.col("__prev__").isNotNull() & F.col("__next__").isNotNull())
        .filter(F.col("__next__") > F.col("__prev__"))
    )
    rel = (F.col("__m__") - F.col("__prev__")) / (F.col("__next__") - F.col("__prev__"))
    return d.select(F.least(rel, 1 - rel).alias("reldist"))


def simes(
    df: DataFrame,
    by,
    pcol: str,
    *,
    keep_position: bool = False,
    has_strand: bool | None = None,
) -> DataFrame:
    """Simes combined p-value per group: min over i of p_(i) * n / i with p
    ranked ascending (reference ext/stats.py:569-680). With ``keep_position``
    the output also spans the group's region (min Start, max End, Chromosome/
    Strand of the smallest-p row)."""
    by = [by] if isinstance(by, str) else list(by)
    if has_strand is None:
        has_strand = nm.STRAND_COL in df.columns
    w = Window.partitionBy(*by).orderBy(F.col(pcol).asc())
    rank = F.row_number().over(w)
    n = F.count(F.lit(1)).over(Window.partitionBy(*by))
    d = df.withColumn("__simes__", F.col(pcol) * n / rank)
    if not keep_position:
        return d.groupBy(*by).agg(F.min("__simes__").alias("Simes"))
    aggs = [
        F.expr(f"min_by(Chromosome, {pcol})").alias(nm.CHROM_COL),
        F.min(nm.START_COL).alias(nm.START_COL),
        F.max(nm.END_COL).alias(nm.END_COL),
        F.min("__simes__").alias("Simes"),
    ]
    if has_strand:
        aggs.append(F.expr(f"min_by(Strand, {pcol})").alias(nm.STRAND_COL))
    return d.groupBy(*by).agg(*aggs)


def mcc(
    grs: dict[str, GenomicRanges],
    *,
    genome_length: int,
    strand_behavior: str = "ignore",  # kept for API parity; inputs are merged
    # unstranded first (reference semantics), so the pair intersection is
    # strand-blind either way.
):
    """Matthews correlation coefficient for every ordered pair of interval sets
    (reference ext/stats.py:249-409). Interval sets are merged first; TP is the
    merged length of the pairwise intersection; TN is inferred from
    ``genome_length``. Returns a small pandas DataFrame.

    Scale posture: TWO distributed jobs total regardless of the number of
    inputs — all merged sets union into one tagged relation, per-set lengths
    are one hash aggregate, and EVERY pairwise intersection length comes from
    one binned self-join (merged intervals within a set are disjoint, so the
    pair intersection length is the plain sum of pairwise overlap lengths).
    The r1-r4 form ran one job per input plus one per pair — O(N^2) full
    re-scans of the inputs."""
    import math

    import pandas as pd

    from pyranges_1_x_spark.plans.interval_join import binned_join

    items = [(k, g.merge_overlaps(use_strand=False)) for k, g in grs.items()]
    tagged = None
    bin_size = min(g.resolve_bin(None) for _, g in items)
    for k, g in items:
        part = g.df.select(
            F.col(nm.CHROM_COL), F.col(nm.START_COL), F.col(nm.END_COL),
            F.lit(k).alias("__tag__"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)

    # The tagged merged-union relation feeds THREE plan references (the
    # per-set length aggregate plus both sides of the pair self-join), each
    # of which would re-run every input's island merge; it is merged-
    # interval-sized, so materialize it once (r7: mcc 4.7s -> ~2s at sf0.1).
    # r16: everything below COLLECTS (the return value is a pandas frame),
    # so the checkpoint's lifecycle is in-function — freed right after the
    # last consumer, no session-lifetime blocks.
    from pyspark import StorageLevel

    tagged = tagged.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)

    lengths = {
        r["__tag__"]: r["len"]
        for r in tagged.groupBy("__tag__")
        .agg(F.sum(F.col(nm.END_COL) - F.col(nm.START_COL)).alias("len"))
        .collect()
    }

    right = tagged.select(
        nm.CHROM_COL,
        F.col(nm.START_COL).alias("__rs__"),
        F.col(nm.END_COL).alias("__re__"),
        F.col("__tag__").alias("__rtag__"),
    )
    pairs = binned_join(
        tagged,
        right,
        keys=[nm.CHROM_COL],
        how="inner",
        bin_size=bin_size,
        rstart="__rs__",
        rend="__re__",
    ).filter(F.col("__tag__") < F.col("__rtag__"))
    inter = {
        (r["__tag__"], r["__rtag__"]): r["tp"]
        for r in pairs.groupBy("__tag__", "__rtag__")
        .agg(
            F.sum(
                F.least(F.col(nm.END_COL), F.col("__re__"))
                - F.greatest(F.col(nm.START_COL), F.col("__rs__"))
            ).alias("tp")
        )
        .collect()
    }

    free_checkpoint(tagged)  # r16: both consumers above have collected

    def _mcc_val(tp, fp, tn, fn):
        denom = math.sqrt(float(tp + fp) * float(tp + fn) * float(tn + fp) * float(tn + fn))
        return (float(tp) * tn - float(fp) * fn) / denom if denom else 0.0

    rows = []
    names = [k for k, _ in items]
    for i, lt in enumerate(names):
        for lf in names[i:]:
            if lt == lf:
                tp = lengths[lt]
                rows.append({"T": lt, "F": lf, "TP": tp, "FP": 0,
                             "TN": genome_length - tp, "FN": 0, "MCC": 1.0})
                continue
            tp = inter.get((min(lt, lf), max(lt, lf)), 0)
            fp = lengths[lf] - tp
            fn = lengths[lt] - tp
            tn = genome_length - (tp + fp + fn)
            v = _mcc_val(tp, fp, tn, fn)
            rows.append({"T": lt, "F": lf, "TP": tp, "FP": fp, "TN": tn, "FN": fn, "MCC": v})
            rows.append({"T": lf, "F": lt, "TP": tp, "FP": fn, "TN": tn, "FN": fp, "MCC": v})
    return pd.DataFrame.from_records(rows).sort_values(["T", "F"]).reset_index(drop=True)


def rowbased_rankdata(col) -> F.Column:
    """Per-row fractional ranks (scipy ``rankdata(method='average')``) of an
    array column (reference ext/stats.py:506-566): rank_i = (#{x_j < x_i} + 1
    + #{x_j <= x_i}) / 2. O(d^2) per row in pure Catalyst expressions — fine
    for feature-vector widths; no Python round-trip."""
    c = col if isinstance(col, F.Column) else F.col(col)
    return F.transform(
        c,
        lambda xi: (
            F.size(F.filter(c, lambda xj: xj < xi))
            + 1
            + F.size(F.filter(c, lambda xj: xj <= xi))
        )
        / F.lit(2.0),
    )


def rowbased_pearson(x, y) -> F.Column:
    """Per-row Pearson correlation of two equal-length array columns
    (reference ext/stats.py:453-504) as a single Catalyst expression.

    The inputs are bound ONCE as a one-element outer-transform lambda
    variable: the five moment aggregates below each consume their input
    expression independently, so passing a derived array (e.g.
    ``rowbased_rankdata``'s O(d^2) ranks, via ``rowbased_spearman``) would
    otherwise be re-evaluated per aggregate."""
    x = x if isinstance(x, F.Column) else F.col(x)
    y = y if isinstance(y, F.Column) else F.col(y)

    def _p(s: F.Column) -> F.Column:
        xx, yy = s["x"], s["y"]
        n = F.size(xx).cast("double")
        _sum = lambda c: F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v)  # noqa: E731
        sx, sy = _sum(xx), _sum(yy)
        sxx = _sum(F.transform(xx, lambda v: v * v))
        syy = _sum(F.transform(yy, lambda v: v * v))
        sxy = _sum(F.zip_with(xx, yy, lambda a, b: a * b))
        num = n * sxy - sx * sy
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return F.when(den != 0, num / den)

    return F.element_at(
        F.transform(F.array(F.struct(x.alias("x"), y.alias("y"))), _p), 1
    )


def rowbased_spearman(x, y) -> F.Column:
    """Per-row Spearman = Pearson over per-row average ranks
    (reference ext/stats.py:411-451)."""
    return rowbased_pearson(rowbased_rankdata(x), rowbased_rankdata(y))


def spearman_rows(
    df: DataFrame, id_col: str, x, y, out_col: str = "spearman"
) -> DataFrame:
    """(id, spearman) over two array columns — the scale form of
    ``rowbased_spearman``.

    The Column expression ranks each element with O(d^2) ``filter``/
    ``transform`` higher-order functions (CodegenFallback, interpreted).
    Here element pairs posexplode to rows; the fractional average rank is
    ``min_rank + (ties - 1)/2`` from a per-(row, value) window (identical to
    ``(#lt + 1 + #le)/2``), and Pearson over the ranks is one hash aggregate.
    Every step is whole-stage codegen; windows partition per input row, so no
    serial stage at any scale."""
    x = x if isinstance(x, F.Column) else F.col(x)
    y = y if isinstance(y, F.Column) else F.col(y)
    ex = df.select(
        F.col(id_col), F.posexplode(F.arrays_zip(x.alias("x"), y.alias("y")))
    ).select(
        id_col,
        F.col("col").getField("x").cast("double").alias("__xv__"),
        F.col("col").getField("y").cast("double").alias("__yv__"),
    )
    wx = Window.partitionBy(id_col).orderBy("__xv__")
    wy = Window.partitionBy(id_col).orderBy("__yv__")
    tx = Window.partitionBy(id_col, "__xv__")
    ty = Window.partitionBy(id_col, "__yv__")
    ranked = ex.select(
        id_col,
        (F.rank().over(wx) + (F.count(F.lit(1)).over(tx) - 1) / F.lit(2.0)).alias("__rx__"),
        (F.rank().over(wy) + (F.count(F.lit(1)).over(ty) - 1) / F.lit(2.0)).alias("__ry__"),
    )
    agg = ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n__"),
        F.sum("__rx__").alias("__sx__"),
        F.sum("__ry__").alias("__sy__"),
        F.sum(F.col("__rx__") * F.col("__rx__")).alias("__sxx__"),
        F.sum(F.col("__ry__") * F.col("__ry__")).alias("__syy__"),
        F.sum(F.col("__rx__") * F.col("__ry__")).alias("__sxy__"),
    )
    num = F.col("__n__") * F.col("__sxy__") - F.col("__sx__") * F.col("__sy__")
    den = F.sqrt(
        (F.col("__n__") * F.col("__sxx__") - F.col("__sx__") * F.col("__sx__"))
        * (F.col("__n__") * F.col("__syy__") - F.col("__sy__") * F.col("__sy__"))
    )
    return agg.select(F.col(id_col), F.when(den != 0, num / den).alias(out_col))


def _fisher_batch(tp, fp, fn, tn, pseudocount=0):
    """Vectorized scipy-free Fisher's exact over numpy int arrays.

    Hypergeometric pmf via a shared log-factorial table (one O(max N) cumsum
    per batch, then pure array arithmetic per row). Two-sided P follows the
    scipy/fisher-package convention: sum of pmf(k) over all k in the support
    with pmf(k) <= pmf(observed) * (1 + 1e-7).

    Returns (odds_ratio, P, PLeft, PRight) float64 arrays.
    """
    import numpy as np

    tp = np.asarray(tp, dtype=np.int64)
    fp = np.asarray(fp, dtype=np.int64)
    fn = np.asarray(fn, dtype=np.int64)
    tn = np.asarray(tn, dtype=np.int64)
    m = tp + fp + fn + tn  # grand total
    row1 = tp + fp
    col1 = tp + fn

    maxm = int(m.max()) if len(m) else 0
    lf = np.zeros(maxm + 1)
    if maxm:
        lf[1:] = np.cumsum(np.log(np.arange(1, maxm + 1)))

    n_rows = len(tp)
    p_two = np.empty(n_rows)
    p_left = np.empty(n_rows)
    p_right = np.empty(n_rows)
    for i in range(n_rows):
        mi, r1, c1, a = int(m[i]), int(row1[i]), int(col1[i]), int(tp[i])
        lo = max(0, r1 + c1 - mi)
        hi = min(r1, c1)
        k = np.arange(lo, hi + 1)
        logpmf = (
            lf[r1] + lf[mi - r1] + lf[c1] + lf[mi - c1] - lf[mi]
            - lf[k] - lf[r1 - k] - lf[c1 - k] - lf[mi - r1 - c1 + k]
        )
        pmf = np.exp(logpmf - logpmf.max())
        pmf /= pmf.sum()
        obs = pmf[a - lo]
        p_left[i] = pmf[k <= a].sum()
        p_right[i] = pmf[k >= a].sum()
        p_two[i] = pmf[pmf <= obs * (1 + 1e-7)].sum()

    with np.errstate(divide="ignore", invalid="ignore"):
        odds = ((tp + pseudocount) / (fp + pseudocount)) / (
            (fn + pseudocount) / (tn + pseudocount)
        )
    return odds, np.minimum(p_two, 1.0), np.minimum(p_left, 1.0), np.minimum(p_right, 1.0)


def fisher_exact(
    df,
    tp: str = "TP",
    fp: str = "FP",
    fn: str = "FN",
    tn: str = "TN",
    *,
    pseudocount: int = 0,
):
    """Fisher's exact test per row of 2x2 contingency counts (reference
    ext/stats.py:174-246; its scipy/fisher deps are absent here, so the
    hypergeometric tail sums run in an Arrow-batched pandas UDF instead —
    the one genuinely iterative kernel, everything else stays columnar).

    Appends ``odds_ratio`` (reference formula ((tp+pc)/(fp+pc)) /
    ((fn+pc)/(tn+pc))), two-sided ``P``, and one-sided ``PLeft``/``PRight``.
    """
    import pandas as pd
    from pyspark.sql.types import StructField, StructType, DoubleType

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("odds_ratio", DoubleType()),
            StructField("P", DoubleType()),
            StructField("PLeft", DoubleType()),
            StructField("PRight", DoubleType()),
        ]
    )

    def _map(batches):
        for pdf in batches:
            odds, p, pl, prr = _fisher_batch(
                pdf[tp].to_numpy(), pdf[fp].to_numpy(),
                pdf[fn].to_numpy(), pdf[tn].to_numpy(), pseudocount,
            )
            yield pd.concat(
                [pdf.reset_index(drop=True),
                 pd.DataFrame({"odds_ratio": odds, "P": p, "PLeft": pl, "PRight": prr})],
                axis=1,
            )

    return df.mapInPandas(_map, schema=out_schema)
