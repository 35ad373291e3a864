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

__all__ = ["interval_join", "binned_join", "binned_exists", "rename_keys", "floordiv"]

_LBIN, _RBIN = "__lbin__", "__rbin__"
_LID, _RID = "__ij_lid__", "__ij_rid__"


def floordiv(c: Column, w: int) -> Column:
    """Exact integer floor-division of a LongType column (handles negatives).

    ``c - pmod(c, w)`` is the floored multiple of ``w``; dividing that exact
    multiple with integral ``div`` stays in 64-bit integer arithmetic the whole
    way (a float division would silently lose precision above 2**53)."""
    c = c.cast("long")
    return F.call_function("div", c - F.pmod(c, F.lit(w)), F.lit(w).cast("long"))


def _explode_bins(df: DataFrame, start: str, end: str, bin_size: int, bin_col: str) -> DataFrame:
    """Explode each interval to the bins it touches: ``[floor(s/W), floor((e-1)/W)]``.

    Empty intervals (End <= Start) land in their start bin only (``greatest``
    guards Spark's descending-``sequence`` behavior)."""
    lo = floordiv(F.col(start), bin_size)
    hi = F.greatest(lo, floordiv(F.col(end) - 1, bin_size))
    return df.withColumn(bin_col, F.explode(F.sequence(lo, hi)))


def rename_keys(right: DataFrame, keys: list[str], prefix: str = "__rk") -> tuple[DataFrame, list[str]]:
    """Rename the right frame's key columns to internal names so left/right
    column sets stay disjoint through the join."""
    rkeys = []
    out = right
    for i, k in enumerate(keys):
        rk = f"{prefix}{i}__"
        out = out.withColumnRenamed(k, rk)
        rkeys.append(rk)
    return out, rkeys


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


def binned_exists(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    right_keys: list[str],
    anti: bool = False,
    slack: int = 0,
    contained: bool = False,
    bin_size: int = DEFAULT_BIN_SIZE,
    lstart: str = START_COL,
    lend: str = END_COL,
    rstart: str = START_COL,
    rend: str = END_COL,
    broadcast_right: bool = False,
) -> DataFrame:
    """EXISTS / NOT-EXISTS overlap test that never materializes the pair
    relation — the scale path for ``overlap`` (semi) and
    ``complement_overlaps`` (anti).

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

    Returns the left columns plus a boolean ``__any__`` column that is
    True (semi) / False (anti) on every row — kept so callers can filter
    uniformly with the aggregate form.
    """
    lb = left.withColumn(_LID, F.monotonically_increasing_id())
    if slack:
        lb = (
            lb.withColumn("__ws__", F.col(lstart) - F.lit(slack))
            .withColumn("__we__", F.col(lend) + F.lit(slack))
        )
    else:
        lb = lb.withColumn("__ws__", F.col(lstart)).withColumn("__we__", F.col(lend))
    lo = floordiv(F.col("__ws__"), bin_size)
    hi = F.greatest(lo, floordiv(F.col("__we__") - 1, bin_size))
    lb = lb.withColumn("__nbins__", hi - lo + 1).withColumn(
        _LBIN, F.explode(F.sequence(lo, hi))
    )
    rb = right.withColumn(_RBIN, F.explode(F.sequence(
        floordiv(F.col(rstart), bin_size),
        F.greatest(floordiv(F.col(rstart), bin_size), floordiv(F.col(rend) - 1, bin_size)),
    )))
    if broadcast_right:
        rb = F.broadcast(rb)

    cond = F.col(_LBIN) == F.col(_RBIN)
    for k, rk in zip(keys, right_keys):
        cond = cond & (F.col(k) == F.col(rk))
    cond = cond & (F.col("__ws__") < F.col(rend)) & (F.col(rstart) < F.col("__we__"))
    if contained:
        cond = cond & (F.col(lstart) >= F.col(rstart)) & (F.col(lend) <= F.col(rend))

    groupable, key_fields, first_fields = _split_payload(left.schema.fields)
    if groupable:
        # Payload rides in the GROUP BY key (see _split_payload): a
        # HashAggregate with map-side combine, no SortAggregate sorts.
        # _LID stays in the key so duplicate left rows keep their
        # multiplicity; top-level float payload columns ride as first()
        # aggregates to preserve -0.0/NaN bits (VERDICT r15 #5).
        key_names = [f.name for f in key_fields]
        first_aggs = [F.first(f.name).alias(f.name) for f in first_fields]
        if not anti:
            sel = lb.join(rb, cond, "left_semi")
            if first_aggs:
                collapsed = sel.groupBy(_LID, *key_names).agg(*first_aggs)
            else:
                collapsed = sel.select(_LID, *key_names).distinct()
            return collapsed.select(*left.columns, F.lit(True).alias("__any__"))
        return (
            lb.join(rb, cond, "left_anti")
            .groupBy(_LID, "__nbins__", *key_names)
            .agg(F.count(F.lit(1)).alias("__c__"), *first_aggs)
            .filter(F.col("__c__") == F.col("__nbins__"))
            .select(*left.columns, F.lit(False).alias("__any__"))
        )
    payload = F.struct(*[F.col(c) for c in left.columns])
    if not anti:
        return (
            lb.join(rb, cond, "left_semi")
            .groupBy(_LID)
            .agg(F.any_value(payload).alias("__p__"))
            .select(
                *[F.col("__p__").getField(c).alias(c) for c in left.columns],
                F.lit(True).alias("__any__"),
            )
        )
    return (
        lb.join(rb, cond, "left_anti")
        .groupBy(_LID)
        .agg(
            F.any_value(payload).alias("__p__"),
            F.count(F.lit(1)).alias("__c__"),
            F.any_value(F.col("__nbins__")).alias("__nb__"),
        )
        .filter(F.col("__c__") == F.col("__nb__"))
        .select(
            *[F.col("__p__").getField(c).alias(c) for c in left.columns],
            F.lit(False).alias("__any__"),
        )
    )


def binned_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    right_keys: list[str],
    how: str = "inner",
    slack: int = 0,
    contained: bool = False,
    bin_size: int = DEFAULT_BIN_SIZE,
    lstart: str = START_COL,
    lend: str = END_COL,
    rstart: str = START_COL,
    rend: str = END_COL,
    broadcast_right: bool = False,
    keep_unmatched_bins: bool = False,
) -> DataFrame:
    """The one shared binned interval join. Column contract: left/right names
    must be disjoint (use ``rename_keys``).

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
    dup = set(left.columns) & set(right.columns)
    if dup:
        raise ValueError(f"left/right column names must be disjoint; shared: {sorted(dup)}")

    lb = left.withColumn(_LID, F.monotonically_increasing_id())
    if slack:
        lb = (
            lb.withColumn("__ws__", F.col(lstart) - F.lit(slack))
            .withColumn("__we__", F.col(lend) + F.lit(slack))
        )
    else:
        lb = lb.withColumn("__ws__", F.col(lstart)).withColumn("__we__", F.col(lend))
    lb = _explode_bins(lb, "__ws__", "__we__", bin_size, _LBIN)
    rb = right.withColumn(_RID, F.monotonically_increasing_id())
    rb = _explode_bins(rb, rstart, rend, bin_size, _RBIN)
    if broadcast_right:
        rb = F.broadcast(rb)

    ws, we = F.col("__ws__"), F.col("__we__")
    ls, le = F.col(lstart), F.col(lend)
    rs, re_ = F.col(rstart), F.col(rend)

    cond = F.col(_LBIN) == F.col(_RBIN)
    for k, rk in zip(keys, right_keys):
        cond = cond & (F.col(k) == F.col(rk))
    cond = cond & (ws < re_) & (rs < we)
    if contained:
        cond = cond & (ls >= rs) & (le <= re_)
    # Emit-once: the pair qualifies only in the bin of max(widened-left-start, right-start).
    first_common = F.greatest(ws, rs)
    cond = cond & (F.col(_LBIN) == floordiv(first_common, bin_size))

    if keep_unmatched_bins:
        if how != "left":
            raise ValueError("keep_unmatched_bins only applies to how='left'")
        joined = lb.join(rb, cond, "left").withColumn("__matched__", F.col(_RID).isNotNull())
        out_cols_raw = (
            [F.col(c) for c in left.columns]
            + [F.col(c) for c in right.columns if c not in right_keys]
            + [F.col(_LID), F.col(_RID), F.col("__matched__")]
        )
        return joined.select(*out_cols_raw)

    right_vals = [f for f in right.schema.fields if f.name not in right_keys]
    out_names = left.columns + [f.name for f in right_vals] + [_LID, _RID, "__matched__"]

    if how == "inner":
        return (
            lb.join(rb, cond, "inner").withColumn("__matched__", F.lit(True)).select(*out_names)
        )

    # Outer variants, two passes over the same binned-join shape: an INNER
    # join emits the pairs, and a slim per-row-id hash aggregate over a left
    # join of the same condition finds the matchless outer rows (any-flag =
    # max(partner-id IS NOT NULL); payload rides in any_value(struct), so the
    # map-side combine collapses bin copies BEFORE the shuffle). The union is
    # content-based: generated row ids are only ever grouped within a single
    # plan-branch evaluation and never compared across branches. r3 derived
    # the anti rows from ONE join with a per-id row_number window instead —
    # the whole pair relation shuffled unreduced and sorted, measured slower
    # at every scale where pairs dwarf inputs (join_left 11.2s vs 7.98s two-
    # pass at sf0.1, VERDICT r3 #4); re-scanning the inputs is the cheaper
    # side of that trade.
    null_id = F.lit(None).cast("long")

    def _pairs() -> DataFrame:
        return (
            lb.join(rb, cond, "inner").withColumn("__matched__", F.lit(True)).select(*out_names)
        )

    def _anti(gid: str) -> DataFrame:
        flipped = gid == _RID
        pay_fields = right_vals if flipped else list(left.schema.fields)
        pad_fields = list(left.schema.fields) if flipped else right_vals
        partner = _LID if flipped else _RID
        joined = (rb.join(lb, cond, "left") if flipped else lb.join(rb, cond, "left"))
        padded = [F.lit(None).cast(f.dataType).alias(f.name) for f in pad_fields]
        groupable, key_fields, first_fields = _split_payload(pay_fields)
        if groupable:
            # Payload in the GROUP BY key (see _split_payload): the bin-copy
            # collapse stays a map-side-combining HashAggregate instead of
            # a SortAggregate over the bin-exploded relation; top-level
            # float payload columns ride as first() aggregates to preserve
            # -0.0/NaN bits (VERDICT r15 #5).
            kept = [F.col(f.name) for f in pay_fields]
            return (
                joined.groupBy(gid, *[f.name for f in key_fields])
                .agg(
                    F.max(F.col(partner).isNotNull()).alias("__any__"),
                    *[F.first(f.name).alias(f.name) for f in first_fields],
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
        pay = F.struct(*[F.col(f.name) for f in pay_fields])
        kept = [F.col("__p__").getField(f.name).alias(f.name) for f in pay_fields]
        return (
            joined.groupBy(gid)
            .agg(
                F.any_value(pay).alias("__p__"),
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
        return _pairs().unionByName(_anti(_LID))
    if how == "right":
        return _pairs().unionByName(_anti(_RID))
    return _pairs().unionByName(_anti(_LID)).unionByName(_anti(_RID))


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
    broadcast_right: bool = False,
) -> DataFrame:
    """Full `join_overlaps` surface over ``binned_join``.

    Parameters mirror ``RangeFrame.join_overlaps`` (reference range_frame.py:315-395):
    ``how`` in {inner,left,right,outer}; ``multiple`` in {all,first,last} where
    'first' keeps the match with the smallest right Start and 'last' the biggest
    right End (reference range_frame.py:558-562); non-matching rows are
    null-padded — including the key columns of right-only rows, as in the
    reference's outer doctest (right-only rows show Chromosome nan).

    Output columns: all of left; right's Start/End as Start_b/End_b; right's
    other non-key columns, suffixed on collision. Right key columns are dropped.
    """
    if multiple not in VALID_OVERLAP_MODES:
        raise ValueError(f"multiple must be one of {VALID_OVERLAP_MODES}, got {multiple!r}")

    right_sfx, rkeys = rename_keys(right, keys)
    for c in right.columns:
        if c in keys:
            continue
        if c in (START_COL, END_COL) or c in left.columns:
            right_sfx = right_sfx.withColumnRenamed(c, c + suffix)
    rstart, rend = START_COL + suffix, END_COL + suffix

    out = binned_join(
        left,
        right_sfx,
        keys=keys,
        right_keys=rkeys,
        how=how,
        slack=slack,
        contained=contained,
        bin_size=bin_size,
        rstart=rstart,
        rend=rend,
        broadcast_right=broadcast_right,
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
