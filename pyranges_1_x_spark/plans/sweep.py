"""Two-phase bucketed scan — the engine's one ordered-sweep primitive.

A plain ``Window.partitionBy(Chromosome).orderBy(pos)`` puts a whole
chromosome in ONE task: fine at test scale, serial at 100 TB (a genome has
~25 chromosomes, so at most ~25-way parallelism no matter the cluster).
Running sums, counts, minima and maxima are associative, so
:func:`bucketed_scan` splits every such sweep in two phases:

1. the caller tags each row with a bucket that prefixes the scan order
   (``floor(pos / width)``, or a hash's high bits) and the running aggregate
   runs per (keys, bucket) — parallelism = #buckets;
2. one summary row per bucket holds every scan's bucket total; an exclusive
   prefix window over that tiny relation gives each bucket the total of the
   buckets before it (ascending or descending), which is broadcast back and
   combined with the bucket-local value (``+`` for sums and counts,
   ``least``/``greatest`` for min/max, ``coalesce`` for the next position).

Rows tied on the leading order column share a bucket, so the local window
settles every tie rule. Empty buckets are skipped naturally (bucket ids come
from the data).

The NULL rule, in two layers. The primitive: a row whose bucket is NULL (a
NULL position or hash) has no place in the order and is dropped before either
phase reads the input; a NULL key is a group of its own, as in
``Window.partitionBy``, so the patch join matches keys null-safe (the quota
pair's NULL group is a real quota group; ``sort_ranges`` ranks NULLs first).
The interval sweeps: :func:`interval_rows` is the one test of which interval
rows a sweep places — every key, Start and End non-NULL. A NULL key names no
chromosome (strand, match_by group), so :func:`depth_runs` (for every event
builder), the island planner, nearest and relative_distance all drop such
rows, which are also the rows the equality-keyed overlap join never matches.

Clients, with no hand-written exception: ``depth_runs`` (coverage,
coverage_ratio, split, count_overlaps_matrix, forbes/jaccard),
``asof_extreme`` (nearest_ranges' as-of legs, fdr), the bucketed island scan
(plans/islands.py), ``nearest_distance``, the k-nearest and fdr ranks,
``sort_ranges(rank_col=)`` (keys=[], a composite (chrom key, Strand, Start
bucket) struct bucket) and, in ml/sampling.py, pack/shuffle (keys=[], a
hash-prefix bucket) and the quota pair (keys=[group]).

The scan's input feeds two branches (bucket-local windows and the summary).
Both read the same filtered subtree, so over a file scan AQE can reuse a
shuffle inside it (ReusedExchange) instead of running it twice; over a
persisted source AQE 4.1.2 plans each branch its own cache read and reuses
nothing. Who persists, and why:

* ``depth_runs`` persists its pre-aggregated delta relation (tracked,
  plans/qcache.py): in every consumer that subtree holds a full groupBy
  shuffle over the registry's persisted fixtures, which is the cached-source
  case AQE does not reuse. Without the persist coverage, split and
  count_matrix lost 7 of 9 interleaved bench.py pairs at sf0.1 (medians
  4.63→5.06s, 3.66→4.14s, 4.87→5.80s). ``persist`` keeps lineage, so
  executor loss recomputes instead of failing; the caller frees it via
  ``free_tracked()`` once the result is consumed.
* fdr localCheckpoints its ranked rows before its ``asof_extreme`` pass,
  and nearest_ranges persists the stable-id relations its scans read.
* The island scan, ``nearest_distance`` and pack/shuffle recompute: their
  inputs are scans or cheap projections (a tracked persist of a 6M-row
  derived island input lost 4/4 interleaved rounds, OPTIMIZATION_r16.md §8).
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark.names import END_COL, START_COL
from pyranges_1_x_spark.plans.interval_join import floordiv
from pyranges_1_x_spark.plans.qcache import persist_tracked

__all__ = ["Scan", "bucketed_scan", "interval_rows", "depth_runs", "asof_extreme"]

_AGG = {"sum": F.sum, "min": F.min, "max": F.max}


class Scan(NamedTuple):
    """One running aggregate of :func:`bucketed_scan`, written to ``out``.

    ``kind``: ``sum``/``min``/``max`` of ``value``; ``row_number`` (a long,
    ``value`` unused); ``next`` — ``value`` on the following row, where
    ``value`` must be the leading ``order`` column, ascending. ``order`` is
    the full in-bucket order; ``desc`` says the buckets run descending (the
    order's leading column then descends too). ``inclusive=False`` ends a
    sum/min/max frame at the row before the current one.
    """

    out: str
    kind: str
    value: str | Column | None
    order: list[Column]
    desc: bool = False
    inclusive: bool = True


def bucketed_scan(d: DataFrame, keys: list[str], bkt: str, scans: list[Scan]) -> DataFrame:
    """``d``'s columns + each scan's running aggregate per ``keys``, in bucket
    order then in-bucket order (module docstring). ``d`` must carry the bucket
    column ``bkt``, whose order prefixes every scan's order. Rows with a NULL
    bucket are dropped; a NULL key is a group of its own."""
    d = d.filter(F.col(bkt).isNotNull())
    in_bucket = Window.partitionBy(*keys, bkt)
    buckets = Window.partitionBy(*keys)
    local, totals, patches, combined = [], [], [], []
    for i, s in enumerate(scans):
        if s.kind not in (*_AGG, "row_number", "next") or (s.kind == "next" and s.desc):
            raise ValueError(f"unsupported scan: {s.kind!r} desc={s.desc}")
        loc, tot, pat = f"__bsl{i}__", f"__bst{i}__", f"__bsp{i}__"
        wl = in_bucket.orderBy(*s.order)
        ws = buckets.orderBy(F.col(bkt).desc() if s.desc else F.col(bkt).asc())
        prior = ws.rowsBetween(Window.unboundedPreceding, -1)
        if s.kind == "row_number":
            local.append(F.row_number().over(wl).cast("long").alias(loc))
            totals.append(F.count(F.lit(1)).alias(tot))
        elif s.kind == "next":
            local.append(F.lead(s.value).over(wl).alias(loc))
            totals.append(F.min(s.value).alias(tot))
        else:
            frame = wl.rowsBetween(
                Window.unboundedPreceding, Window.currentRow if s.inclusive else -1
            )
            local.append(_AGG[s.kind](s.value).over(frame).alias(loc))
            totals.append(_AGG[s.kind](s.value).alias(tot))
        if s.kind in ("sum", "row_number"):
            patches.append(F.coalesce(F.sum(tot).over(prior), F.lit(0)).alias(pat))
            combined.append((F.col(pat) + F.col(loc)).alias(s.out))
        elif s.kind == "next":
            patches.append(F.lead(tot).over(ws).alias(pat))
            combined.append(F.coalesce(F.col(loc), F.col(pat)).alias(s.out))
        else:
            # least/greatest skip nulls: a bucket with no local value (or no
            # earlier bucket) degrades to the other operand; both null => null.
            patches.append(_AGG[s.kind](tot).over(prior).alias(pat))
            pick = F.least if s.kind == "min" else F.greatest
            combined.append(pick(F.col(loc), F.col(pat)).alias(s.out))
    sk = [f"__bsk{j}__" for j in range(len(keys))]
    summary = d.groupBy(*keys, bkt).agg(*totals).select(
        *[F.col(k).alias(s) for k, s in zip(keys, sk)], F.col(bkt).alias("__bsb__"), *patches
    )
    on = [F.col(k).eqNullSafe(F.col(s)) for k, s in zip(keys, sk)]
    out = d.select("*", *local).join(
        F.broadcast(summary), on=[*on, F.col(bkt) == F.col("__bsb__")]
    )
    outs = {s.out for s in scans}
    return out.select(*[c for c in d.columns if c not in outs], *combined)


def interval_rows(df: DataFrame, keys: list[str]) -> DataFrame:
    """The rows of ``df`` an interval sweep places: every key, Start and End
    non-NULL (module docstring, the NULL rule)."""
    placed = F.col(START_COL).isNotNull() & F.col(END_COL).isNotNull()
    for k in keys:
        placed &= F.col(k).isNotNull()
    return df.filter(placed)


def depth_runs(
    sources: list[tuple[DataFrame, dict[str, Column]]],
    keys: list[str],
    *,
    bucket_width: int,
) -> DataFrame:
    """(keys..., Start, End, *depth columns) for every run between two
    consecutive event points of a group — the sorted +Start/-End sweep of the
    reference's ``to_rle`` and ``split`` (methods/to_rle.py:15-63,
    methods/split.py:12-37).

    Each source is a frame and a map from depth column to per-row weight; a
    column a source does not name weighs 0 there. Every placed row
    (:func:`interval_rows`) adds its weight at Start and subtracts it at End;
    the deltas pre-aggregate per (keys, position), are persisted (tracked —
    module docstring), and one :func:`bucketed_scan` gives each point the
    running sums and the next point. A group's last point starts no run.
    """
    cols = list(dict.fromkeys(c for _, weights in sources for c in weights))
    deltas = [f"__d{i}__" for i in range(len(cols))]
    events = []
    for df, weights in sources:
        placed = interval_rows(df, keys)
        ws = [weights.get(c, F.lit(0)) for c in cols]
        for pos, signed in ((START_COL, ws), (END_COL, [-w for w in ws])):
            events.append(placed.select(
                *keys, F.col(pos).alias("__pos__"), *[w.alias(x) for w, x in zip(signed, deltas)]
            ))
    summed = reduce(DataFrame.unionByName, events).groupBy(*keys, "__pos__").agg(
        *[F.sum(x).alias(x) for x in deltas]
    )
    d = persist_tracked(summed).withColumn("__bkt__", floordiv(F.col("__pos__"), bucket_width))
    order = [F.col("__pos__").asc()]
    scans = [Scan(c, "sum", x, order) for c, x in zip(cols, deltas)]
    out = bucketed_scan(d, keys, "__bkt__", [*scans, Scan("__next__", "next", "__pos__", order)])
    return out.filter(F.col("__next__").isNotNull()).select(
        *keys, F.col("__pos__").alias(START_COL), F.col("__next__").alias(END_COL), *cols
    )


def asof_extreme(
    points: DataFrame,
    keys: list[str],
    pos_col: str,
    data_flag: Column,
    val_col: str,
    *,
    side: str,
    agg: str,
    bucket_width: int,
    out_col: str,
) -> DataFrame:
    """Bucketed as-of sweep: running min/max of data-row values.

    For every row of ``points``: the ``agg`` ('min'/'max') of ``val_col`` over
    data rows (``data_flag`` true) whose position is on this row's ``side`` —
    ``'ge'``: at-or-after it; ``'le'``: at-or-before it. Data rows count at
    position ties (touching is eligible — reference range_frame.py:451-537
    distance convention): they sort first among equal positions, which share
    a bucket, so the tie rule stays bucket-local.
    """
    if side not in ("ge", "le"):
        raise ValueError(f"side must be 'ge' or 'le', got {side!r}")
    if agg not in ("min", "max"):
        raise ValueError(f"agg must be 'min' or 'max', got {agg!r}")
    d = points.withColumn("__bkt__", floordiv(F.col(pos_col), bucket_width)).withColumn(
        "__dtf__", F.when(data_flag, 0).otherwise(1)
    )
    ge = side == "ge"
    pos = F.col(pos_col).desc() if ge else F.col(pos_col).asc()
    scan = Scan(out_col, agg, F.when(data_flag, F.col(val_col)), [pos, F.col("__dtf__").asc()], ge)
    return bucketed_scan(d, keys, "__bkt__", [scan]).drop("__bkt__", "__dtf__")
