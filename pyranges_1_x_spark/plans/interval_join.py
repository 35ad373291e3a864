"""Binned interval-join planner — the shared physical strategy for every overlap op.

The reference funnels all overlap-family operators through one Rust kernel
(``ruranges.numpy.overlaps``, called from ``/root/reference/pyranges1/methods/overlap.py:35-46``).
This module is our equivalent: ONE planner that every public overlap operator
(`overlap`, `join_overlaps`, `intersect_overlaps`, `count_overlaps`,
`complement_overlaps`, interval metrics, ...) composes over.

Physical strategy (scale posture)
---------------------------------
A naive ``a JOIN b ON a.chrom = b.chrom AND a.Start < b.End AND b.Start < a.End``
gives Catalyst only one equi-key (chrom, ~25 distinct values in a genome) plus a
range predicate, so it degenerates to a per-chromosome nested loop — O(n*m) per
chromosome and catastrophically skewed (chr1 >> chrM).

Instead we *bin* the coordinate axis: each interval is exploded to the fixed-width
bins it touches, the join becomes an equi-join on ``(keys..., bin)`` with the exact
range predicate re-applied, and duplicate pairs (intervals co-occurring in several
bins) are eliminated with the emit-once trick *inside the join condition*: a pair
qualifies only in the bin containing ``max(start_l, start_r)``. This:

* turns the join into a plain hash/sort-merge equi-join with high key cardinality
  (chrom x bin) — shuffles partition evenly, AQE can split residual skew;
* needs no ``distinct()`` (emit-once is part of the join predicate);
* costs an explode factor of ``len/bin + 1`` per row (~1 for genomic intervals
  with the default 100kb bin).

Two pieces carry every variant: ``bin_sides`` bins both inputs and
builds the join condition (it also renames the right keys, so callers pass
``keys`` only), and ``collapse_bins`` folds a left row's bin-copies back to
one row (semi/anti probes, outer joins' unmatched rows, ``count_overlaps``).

Generated-id discipline (correctness posture)
---------------------------------------------
``monotonically_increasing_id`` is nondeterministic across separate evaluations
of the same subtree, so NOTHING here ever joins or compares an id produced in
one plan branch against an id produced in another (the classic self-join id
bug). Outer variants union an inner-join pairs branch with an anti branch
whose per-row-id hash aggregate groups ids strictly WITHIN its own evaluation
(where they are consistent by construction); the union itself is content-based
and anti rows null their ids on the way out.

All arithmetic is integer-exact (no float floor-division) so it is safe for
arbitrary 64-bit coordinates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark.names import (
    DEFAULT_BIN_SIZE,
    END_COL,
    JOIN_SUFFIX,
    OVERLAP_ALL,
    OVERLAP_FIRST,
    OVERLAP_LAST,
    START_COL,
    VALID_JOIN_TYPES,
    VALID_OVERLAP_MODES,
)

__all__ = [
    "interval_join",
    "binned_join",
    "binned_exists",
    "bin_sides",
    "collapse_bins",
    "bin_range",
    "floordiv",
    "top1_overlap",
]

_LBIN, _RBIN = "__lbin__", "__rbin__"
_LID, _RID = "__ij_lid__", "__ij_rid__"
# Below floordiv(c, w) for every long c once w >= 2: no interval's bin.
_NO_BIN = -(2**63)


def floordiv(c: Column, w: int) -> Column:
    """Exact integer floor-division of a LongType column (handles negatives).

    ``c - pmod(c, w)`` is the floored multiple of ``w``; dividing that exact
    multiple with integral ``div`` stays in 64-bit integer arithmetic the whole
    way (a float division would silently lose precision above 2**53)."""
    c = c.cast("long")
    return F.call_function("div", c - F.pmod(c, F.lit(w)), F.lit(w).cast("long"))


def bin_range(start: Column, end: Column, bin_size: int) -> tuple[Column, Column]:
    """First and last bin ``[floor(s/W), floor((e-1)/W)]`` that ``[start, end)``
    touches, for ``F.sequence``. Empty intervals (End <= Start) get their
    start bin only (``greatest`` guards Spark's descending ``sequence``); a
    NULL End also gives the start bin, a NULL Start NULL bounds."""
    lo = floordiv(start, bin_size)
    return lo, F.greatest(lo, floordiv(end - 1, bin_size))


def _split_payload(fields):
    """Partition payload fields for the bin-collapse aggregate into GROUP BY
    key fields vs scalar-``first()`` aggregate fields, or signal the struct
    fallback. Returns ``(groupable, key_fields, first_fields)``.

    r15 (optimization round): ``first``/``any_value`` over a STRUCT has a
    struct-typed aggregation buffer, which HashAggregate cannot hold (its
    UnsafeRow buffer needs fixed-width mutable fields) and
    ObjectHashAggregate does not cover (DeclarativeAggregate) — Spark
    silently plans a **SortAggregate**: a full sort of the bin-exploded
    relation before the partial agg and another after the exchange
    (plans/r15/join_left_before.txt ops 21-25). Riding the payload in the
    GROUP BY key instead (it is functionally dependent on the unique
    per-row id, so the groups are identical) keeps every buffer fixed-width
    and the plan a HashAggregate — map-side combine without the two sorts.
    Var-length group keys are fine (UnsafeRow keys); only maps are not.

    r16 float caveat (VERDICT r15 #5): Spark's NormalizeFloatingNumbers
    rewrites -0.0 -> 0.0 (and canonicalizes NaN bits) in every grouping
    key, so a float payload riding in the key would round-trip -0.0 as 0.0
    where ``any_value(struct)`` preserved the sign bit. The unique id in
    the key means no rows ever merge — only the emitted bits could differ.
    Fix: TOP-LEVEL float/double payload columns become scalar ``first()``
    aggregates instead (fixed-width buffer, still HashAggregate,
    bit-preserving — every row in a group is a bin-copy of the same input
    row, so first() is deterministic); types with NESTED floats
    (array<double>, struct fields) cannot use a bit-preserving fixed-width
    buffer, so they take the struct/SortAggregate fallback — bit-exact,
    just slower, and rare in this engine's payloads."""
    from pyspark.sql.types import ArrayType, DoubleType, FloatType, MapType, StructType

    def nested_float(dt) -> bool:
        if isinstance(dt, (FloatType, DoubleType)):
            return True
        if isinstance(dt, ArrayType):
            return nested_float(dt.elementType)
        if isinstance(dt, StructType):
            return any(nested_float(f.dataType) for f in dt.fields)
        return False

    def ok(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return ok(dt.elementType) and not nested_float(dt.elementType)
        if isinstance(dt, StructType):
            return all(ok(f.dataType) and not nested_float(f.dataType) for f in dt.fields)
        return True

    key_fields, first_fields = [], []
    for f in fields:
        if isinstance(f.dataType, (FloatType, DoubleType)):
            first_fields.append(f)
        elif ok(f.dataType):
            key_fields.append(f)
        else:
            return False, [], []
    return True, key_fields, first_fields


def _bins(lo: Column, hi: Column) -> Column:
    """The bins ``[lo, hi]``, or for NULL bounds (where ``sequence`` is NULL
    and ``explode`` would drop the row) the one bin ``_NO_BIN``. The row's
    overlap predicate is NULL, so it matches nothing in any bin; a bin that
    no interval reaches keeps the hash join from probing partners for it,
    and a non-NULL bin keeps the bin column non-nullable, so joins infer no
    IS NOT NULL filter above the explode."""
    return F.coalesce(F.sequence(lo, hi), F.array(F.lit(_NO_BIN)))


def bin_sides(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    *,
    bin_size: int,
    rstart: str,
    rend: str,
    ids: bool,
    slack: int = 0,
    contained: bool = False,
) -> tuple[DataFrame, DataFrame, Column, Column]:
    """The one bin-and-condition builder behind every binned overlap test.

    Widens the left intervals (``Start``/``End``) by ``slack`` into
    ``__ws__``/``__we__``,
    explodes both sides to the bins they touch (``__lbin__``/``__rbin__``;
    the left side also carries its bin count ``__nbins__``), renames the
    right key columns to internal names so the two column sets stay
    disjoint, and builds the join condition: same bin, equal keys,
    overlapping (widened) intervals and, with ``contained``, the unwidened
    left interval inside the right one.

    A row with a NULL bin range (NULL Start) keeps ONE bin-copy (``_bins``,
    ``__nbins__`` = 1), as a row with a NULL End or a NULL key already does:
    it matches nothing, so left/outer joins, counts and anti probes report
    it unmatched (SQL LEFT JOIN / NOT EXISTS semantics) instead of dropping
    it.

    ``ids`` tags every input row with ``__ij_lid__`` / ``__ij_rid__``
    (``monotonically_increasing_id``) before the explode, so a row's
    bin-copies share its id; streaming callers leave it off, as streaming
    plans forbid those ids. The right id comes after the key rename: a
    projection above the id one cannot collapse into it, and would keep
    the right side's null filters from reaching the scan.

    Returns ``(lb, rb, cond, once)`` where ``once`` is the emit-once term
    that pair-emitting joins AND into ``cond``: a pair qualifies only in the
    bin of ``max(widened-left-start, right-start)``."""
    rkeys = [f"__rk{i}__" for i in range(len(keys))]
    right = right.withColumnsRenamed(dict(zip(keys, rkeys)))
    if ids:
        left = left.withColumn(_LID, F.monotonically_increasing_id())
        right = right.withColumn(_RID, F.monotonically_increasing_id())
    ws, we = F.col("__ws__"), F.col("__we__")
    if slack:
        lb = left.withColumn("__ws__", F.col(START_COL) - F.lit(slack)).withColumn(
            "__we__", F.col(END_COL) + F.lit(slack)
        )
    else:
        lb = left.withColumn("__ws__", F.col(START_COL)).withColumn("__we__", F.col(END_COL))
    lo, hi = bin_range(ws, we, bin_size)
    lb = lb.withColumn("__nbins__", F.coalesce(hi - lo + 1, F.lit(1))).withColumn(
        _LBIN, F.explode(_bins(lo, hi))
    )
    rb = right.withColumn(
        _RBIN, F.explode(_bins(*bin_range(F.col(rstart), F.col(rend), bin_size)))
    )

    cond = F.col(_LBIN) == F.col(_RBIN)
    for k, rk in zip(keys, rkeys):
        cond = cond & (F.col(k) == F.col(rk))
    cond = cond & (ws < F.col(rend)) & (F.col(rstart) < we)
    if contained:
        cond = cond & (F.col(START_COL) >= F.col(rstart)) & (F.col(END_COL) <= F.col(rend))
    once = F.col(_LBIN) == floordiv(F.greatest(ws, F.col(rstart)), bin_size)
    return lb, rb, cond, once


def collapse_bins(df: DataFrame, by: list[str], fields: list[str], *aggs: Column) -> DataFrame:
    """Collapse the bin-copies of each ``by`` row id to one row: the payload
    columns ``fields`` (equal on every copy), then the ``aggs`` over the
    copies. The one bin-copy collapse behind the semi/anti probes, the
    outer joins' unmatched rows and ``count_overlaps``.

    Groupable payloads (see ``_split_payload``) ride in the GROUP BY key
    next to ``by``, top-level floats as ``first()`` aggregates: a
    map-side-combining HashAggregate. Anything else rides in
    ``any_value(struct)``, which plans a SortAggregate but keeps every bit."""
    groupable, key_fields, first_fields = _split_payload([df.schema[c] for c in fields])
    if groupable:
        group = [*by, *(f.name for f in key_fields)]
        firsts = [F.first(f.name).alias(f.name) for f in first_fields]
        if aggs or firsts:
            out = df.groupBy(*group).agg(*aggs, *firsts)
        else:
            out = df.select(*group).distinct()
        return out.select(*fields, *out.columns[len(group) : len(group) + len(aggs)])
    out = df.groupBy(*by).agg(F.any_value(F.struct(*fields)).alias("__p__"), *aggs)
    return out.select(
        *[F.col("__p__").getField(c).alias(c) for c in fields], *out.columns[len(by) + 1 :]
    )


def binned_exists(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    anti: bool = False,
    slack: int = 0,
    contained: bool = False,
    bin_size: int = DEFAULT_BIN_SIZE,
    rstart: str = START_COL,
    rend: str = END_COL,
) -> DataFrame:
    """EXISTS / NOT-EXISTS overlap test that never materializes the pair
    relation — the scale path for ``overlap`` (semi) and
    ``complement_overlaps`` (anti). Returns the qualifying left rows.

    A left join + any-flag aggregate (the r1-r3 plan) builds ``|pairs|``
    intermediate rows before reducing; at 100 TB the pair relation can dwarf
    the inputs by orders of magnitude. Here the probe stops at proof:

    * semi: ``LEFT SEMI`` join on the binned condition — each exploded left
      bin-row survives at most once regardless of partner count — then a
      slim-key aggregate collapses multi-bin duplicates. Intermediate is
      bounded by ``|exploded left|``, never ``|pairs|``.
    * anti: ``LEFT ANTI`` keeps the bin-copies with no partner in their bin;
      a row overlaps nothing iff ALL its bin-copies survive, checked by
      comparing the surviving count against the row's bin count. Intermediate
      is again bounded by ``|exploded left|``.

    The emit-once predicate is deliberately absent: it exists to count each
    PAIR once, while here a pair must count in EVERY shared bin (anti
    correctness) and semi deduplicates by row id anyway.
    """
    lb, rb, cond, _ = bin_sides(
        left, right, keys, slack=slack, contained=contained, bin_size=bin_size,
        rstart=rstart, rend=rend, ids=True,
    )
    if not anti:
        return collapse_bins(lb.join(rb, cond, "left_semi"), [_LID], left.columns)
    return (
        collapse_bins(
            lb.join(rb, cond, "left_anti"), [_LID], ["__nbins__", *left.columns],
            F.count(F.lit(1)).alias("__c__"),
        )
        .filter(F.col("__c__") == F.col("__nbins__"))
        .select(*left.columns)
    )


def binned_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    how: str = "inner",
    slack: int = 0,
    contained: bool = False,
    bin_size: int = DEFAULT_BIN_SIZE,
    rstart: str = START_COL,
    rend: str = END_COL,
    keep_unmatched_bins: bool = False,
) -> DataFrame:
    """The one shared binned interval join, on equal ``keys`` (present on
    both sides under the same names) and overlapping intervals (left
    ``Start``/``End``, right ``rstart``/``rend``). Column contract: apart
    from the keys, left/right names must be disjoint.

    how='inner': one output row per matching pair (emit-once in the condition).
    how='left' : additionally one null-padded row per matchless left row.
    how='right'/'outer': symmetric, via a full-outer binned join.

    ``slack`` widens the LEFT intervals before testing (reference semantics,
    range_frame.py:564-567). ``contained`` additionally requires the left
    interval inside the right one (unwidened).

    Output = left columns + right non-key columns. Internal row ids and match
    flags are exposed as ``__ij_lid__``/``__ij_rid__``/``__matched__`` for
    downstream windows (same-relation only!); callers drop them.

    ``keep_unmatched_bins`` (how='left' only) skips the window pass that
    reduces matchless left rows to one representative bin-row: the raw plain
    left join is returned, where a left row may surface null-padded rows for
    every bin in which it found no partner. Correct — and one whole shuffle
    cheaper — for aggregating consumers that group by left row id anyway
    (e.g. count_overlaps).
    """
    if how not in VALID_JOIN_TYPES:
        raise ValueError(f"how must be one of {VALID_JOIN_TYPES}, got {how!r}")
    if keep_unmatched_bins and how != "left":
        raise ValueError("keep_unmatched_bins only applies to how='left'")
    right_vals = [f for f in right.schema.fields if f.name not in keys]
    dup = set(left.columns) & {f.name for f in right_vals}
    if dup:
        raise ValueError(f"left/right column names must be disjoint; shared: {sorted(dup)}")

    lb, rb, cond, once = bin_sides(
        left, right, keys, slack=slack, contained=contained, bin_size=bin_size,
        rstart=rstart, rend=rend, ids=True,
    )
    cond = cond & once
    out_names = left.columns + [f.name for f in right_vals] + [_LID, _RID, "__matched__"]

    if keep_unmatched_bins:
        return (
            lb.join(rb, cond, "left")
            .withColumn("__matched__", F.col(_RID).isNotNull())
            .select(*out_names)
        )

    pairs = lb.join(rb, cond, "inner").withColumn("__matched__", F.lit(True)).select(*out_names)
    if how == "inner":
        return pairs

    # Outer variants, two passes over the same binned-join shape: an INNER
    # join emits the pairs, and a slim per-row-id hash aggregate over a left
    # join of the same condition finds the matchless outer rows (any-flag =
    # max(partner-id IS NOT NULL); the bin copies collapse map-side in
    # collapse_bins, BEFORE the shuffle). The union is content-based:
    # generated row ids are only ever grouped within a single plan-branch
    # evaluation and never compared across branches. r3 derived the anti
    # rows from ONE join with a per-id row_number window instead — the whole
    # pair relation shuffled unreduced and sorted, measured slower at every
    # scale where pairs dwarf inputs (join_left 11.2s vs 7.98s two-pass at
    # sf0.1, VERDICT r3 #4); re-scanning the inputs is the cheaper side of
    # that trade.
    null_id = F.lit(None).cast("long")

    def _anti(gid: str) -> DataFrame:
        flipped = gid == _RID
        pay_fields = right_vals if flipped else list(left.schema.fields)
        pad_fields = list(left.schema.fields) if flipped else right_vals
        partner = _LID if flipped else _RID
        joined = rb.join(lb, cond, "left") if flipped else lb.join(rb, cond, "left")
        kept = [F.col(f.name) for f in pay_fields]
        padded = [F.lit(None).cast(f.dataType).alias(f.name) for f in pad_fields]
        return (
            collapse_bins(
                joined, [gid], [f.name for f in pay_fields],
                F.max(F.col(partner).isNotNull()).alias("__any__"),
            )
            .filter(~F.col("__any__"))
            .select(
                *(padded + kept if flipped else kept + padded),
                null_id.alias(_LID),
                null_id.alias(_RID),
                F.lit(False).alias("__matched__"),
            )
            .select(*out_names)
        )

    if how == "left":
        return pairs.unionByName(_anti(_LID))
    if how == "right":
        return pairs.unionByName(_anti(_RID))
    return pairs.unionByName(_anti(_LID)).unionByName(_anti(_RID))


def top1_overlap(
    df: DataFrame,
    rstart: str,
    rend: str,
    multiple: str,
    key: str = _LID,
) -> DataFrame:
    """Keep the lexicographically first/last ``(rstart, rend)`` match per
    ``key`` row — the shared ``multiple='first'/'last'`` election for
    ``interval_join`` / ``intersect_overlaps`` / ``set_intersect_overlaps``.

    A ``row_number() == 1`` filter: Spark 3.5+ plans it as WindowGroupLimit
    (partial top-1 per key BEFORE the exchange + final after), so like a
    partial aggregate it ships <= 1 row per key per map partition — but
    with NO SortAggregate. The r15-era ``min_by/max_by(struct(...))``
    formulation carried a struct aggregation buffer, which UnsafeRow-based
    HashAggregate cannot hold, so BOTH aggregate phases silently fell back
    to SortAggregate — two full sorts of the pair relation keyed by ``key``
    alone. The window sorts by ``(key, rstart, rend)`` once per exchange
    side and short-circuits at the first row per key (r16 interleaved A/B,
    OPTIMIZATION_r16.md §1: B faster 5/5 rounds, min 2.20 -> 1.55s at
    sf0.1; SortAggregate 2 -> 0, WindowGroupLimit 0 -> 2; values identical
    on 599,967 rows — among exact (rstart, rend) ties both forms pick an
    arbitrary match, the documented reference behavior).

    OVERLAP_LAST = lexicographically-last (Start, End) match. The reference
    DOCSTRINGS say "biggest End in other", but the only executable doctest
    (intersect_overlaps, pyranges_main.py:5406) contradicts them: among
    overlaps [25,33) and [28,32) the kernel returns [28,32) — biggest
    Start, not biggest End. The doctest is the executed truth, so mirror
    (Start, End) order here."""
    if multiple == OVERLAP_FIRST:
        order = [F.col(rstart).asc(), F.col(rend).asc()]
    else:
        order = [F.col(rstart).desc(), F.col(rend).desc()]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rk1__", F.row_number().over(w))
        .filter(F.col("__rk1__") == 1)
        .drop("__rk1__")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    how: str = "inner",
    multiple: str = OVERLAP_ALL,
    slack: int = 0,
    contained: bool = False,
    suffix: str = JOIN_SUFFIX,
    report_overlap_column: str | None = None,
    bin_size: int = DEFAULT_BIN_SIZE,
) -> DataFrame:
    """Full `join_overlaps` surface over ``binned_join``.

    Parameters mirror ``RangeFrame.join_overlaps`` (reference range_frame.py:315-395):
    ``how`` in {inner,left,right,outer}; ``multiple`` in {all,first,last} where
    'first' keeps the lexicographically first right ``(Start, End)`` match
    and 'last' the lexicographically last one (see ``top1_overlap`` for why
    this follows the reference doctest, not its "biggest End" docstring,
    range_frame.py:558-562); non-matching rows are
    null-padded — including the key columns of right-only rows, as in the
    reference's outer doctest (right-only rows show Chromosome nan).

    Output columns: all of left; right's Start/End as Start_b/End_b; right's
    other non-key columns, suffixed on collision. Right key columns are dropped.
    """
    if multiple not in VALID_OVERLAP_MODES:
        raise ValueError(f"multiple must be one of {VALID_OVERLAP_MODES}, got {multiple!r}")

    right_sfx = right
    for c in right.columns:
        if c not in keys and (c in (START_COL, END_COL) or c in left.columns):
            right_sfx = right_sfx.withColumnRenamed(c, c + suffix)
    rstart, rend = START_COL + suffix, END_COL + suffix

    out = binned_join(
        left,
        right_sfx,
        keys=keys,
        how=how,
        slack=slack,
        contained=contained,
        bin_size=bin_size,
        rstart=rstart,
        rend=rend,
    )

    if multiple != OVERLAP_ALL:
        # Reduce to one match per left row with the WindowGroupLimit top-1
        # election (see top1_overlap — ordering/tie semantics and the r16
        # A/B evidence live there). Anti rows (null _LID) pass through
        # untouched.
        matched_rows = out.filter(F.col("__matched__"))
        reduced = top1_overlap(matched_rows, rstart, rend, multiple)
        if how == "inner":
            out = reduced
        else:
            out = reduced.unionByName(out.filter(~F.col("__matched__")))

    if report_overlap_column is not None:
        out = out.withColumn(
            report_overlap_column,
            F.when(
                F.col("__matched__"),
                F.least(F.col(END_COL), F.col(rend)) - F.greatest(F.col(START_COL), F.col(rstart)),
            ),
        )

    return out.drop(_LID, _RID, "__matched__")
