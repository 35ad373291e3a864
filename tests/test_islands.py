"""Island-planner tests: merge/cluster goldens from the reference doctests."""

from __future__ import annotations

import pandas as pd

from pyranges_1_x_spark.core import GenomicRanges


def gr(spark, starts, ends, chrom="1"):
    return GenomicRanges(
        spark.createDataFrame(pd.DataFrame({"Chromosome": chrom, "Start": starts, "End": ends}))
    )


# The cluster_overlaps doctest fixture (reference pyranges_main.py:683-745).
STARTS = [5, 6, 12, 16, 20, 22, 24]
ENDS = [9, 8, 16, 18, 23, 25, 27]


def test_cluster_golden_slack0(spark):
    res = gr(spark, STARTS, ENDS).cluster_overlaps().df.toPandas().sort_values(["Start", "End"])
    assert res.Cluster.tolist() == [0, 0, 1, 2, 3, 3, 3]


def test_cluster_golden_slack1(spark):
    res = gr(spark, STARTS, ENDS).cluster_overlaps(slack=1).df.toPandas().sort_values(["Start", "End"])
    assert res.Cluster.tolist() == [0, 0, 1, 1, 2, 2, 2]


def test_cluster_golden_slack3(spark):
    res = gr(spark, STARTS, ENDS).cluster_overlaps(slack=3).df.toPandas().sort_values(["Start", "End"])
    assert res.Cluster.tolist() == [0, 0, 1, 1, 1, 1, 1]


def test_merge_with_count(spark):
    res = (
        gr(spark, STARTS, ENDS)
        .merge_overlaps(count_col="Count")
        .df.toPandas()
        .sort_values("Start")
    )
    assert list(map(tuple, res[["Start", "End", "Count"]].values)) == [
        (5, 9, 2),
        (12, 16, 1),
        (16, 18, 1),
        (20, 27, 3),
    ]


def test_merge_nested_interval(spark):
    # an interval fully containing later ones must keep the island open
    res = gr(spark, [1, 2, 8], [20, 3, 9]).merge_overlaps().df.toPandas()
    assert list(map(tuple, res[["Start", "End"]].values)) == [(1, 20)]


def test_outer_ranges(spark):
    res = gr(spark, STARTS, ENDS).outer_ranges(count_col="Count").df.toPandas()
    assert list(map(tuple, res[["Start", "End", "Count"]].values)) == [(5, 27, 7)]


def test_bucketed_islands_match_single_window(spark):
    """Cross-bucket correctness: with a tiny bucket width (4), islands span
    many buckets and every row's is_new depends on the broadcast prefix-max
    patch; membership must equal the single-window (bucket_width=None) plan."""
    import random

    from pyranges_1_x_spark.plans.islands import assign_islands

    rng = random.Random(7)
    rows = []
    for i in range(300):
        s = rng.randrange(0, 200)
        rows.append(("chr1" if i % 3 else "chr2", s, s + rng.randrange(1, 30), i))
    # A NULL Chromosome, Start or End places no row: both plans drop it (the
    # bucketed plan used to lose only the NULL-Chromosome rows).
    rows += [(None, 3, 9, 300), (None, 5, 20, 301), (None, 40, 44, 302)]
    rows += [("chr1", None, 250, 303), (None, None, 7, 304), ("chr2", 5, None, 305)]
    df = spark.createDataFrame(rows, "Chromosome string, Start long, End long, rid long")

    def memberships(bucket_width):
        out = assign_islands(df, ["Chromosome"], bucket_width=bucket_width, tiebreak=["rid"])
        if bucket_width:
            # createDataFrame input has unknown stats: the bucketed plan runs
            assert "__ibkt__" in out._jdf.queryExecution().executedPlan().toString()
        out = out.collect()
        isl = {}
        for r in out:
            isl.setdefault((r["Chromosome"], r["__island__"]), set()).add(r["rid"])
        return sorted(frozenset(v) for v in isl.values())

    assert memberships(4) == memberships(None)
    assert set().union(*memberships(4)) == set(range(300))


def test_bucketed_islands_null_start_repro(spark):
    """A NULL-Start row has a NULL bucket. It used to vanish from the
    bucketed plan while its bucket total still shifted every real bucket's
    patch (islands -1 and 0 here); the single-window plan merged it into the
    first island. Both plans now drop it and number the rest from 0."""
    from pyranges_1_x_spark.plans.islands import assign_islands

    df = spark.createDataFrame(
        [("chr1", None, 5), ("chr1", 1, 4), ("chr1", 10, 12)],
        "Chromosome string, Start long, End long",
    )
    for width in (4, None):
        out = assign_islands(df, ["Chromosome"], bucket_width=width).collect()
        assert sorted((r["Start"], r["__island__"]) for r in out) == [(1, 0), (10, 1)], width


def test_bucketed_islands_slack_and_bookends(spark):
    from pyranges_1_x_spark.plans.islands import assign_islands

    # bookended intervals: slack=0 keeps them apart, slack=1 merges
    df = spark.createDataFrame(
        [("c", 0, 8), ("c", 8, 16), ("c", 20, 24)],
        "Chromosome string, Start long, End long",
    )
    def islands(slack):
        out = assign_islands(df, ["Chromosome"], slack=slack, bucket_width=4).collect()
        return sorted((r["Start"], r["__island__"]) for r in out)

    assert islands(0) == [(0, 0), (8, 1), (20, 2)]
    assert islands(1) == [(0, 0), (8, 0), (20, 1)]


def test_adaptive_plan_selection(spark, monkeypatch):
    """A numeric bucket_width picks single-window for small-stats inputs and
    keeps the bucketed two-phase plan when the size estimate exceeds the
    threshold (VERDICT r6 #2)."""
    from pyranges_1_x_spark.plans import islands
    from pyranges_1_x_spark.plans.islands import assign_islands

    # NOTE: built from range(), not createDataFrame — a Python LogicalRDD has
    # UNKNOWN stats (sizeInBytes = Long.MaxValue), which the gate reads as
    # "assume huge, stay bucketed" (the scale-safe direction).
    df = spark.range(50).selectExpr(
        "'c' as Chromosome", "id * 10 as Start", "id * 10 + 5 as End"
    )

    def has_bucket():
        plan = (
            assign_islands(df, ["Chromosome"], bucket_width=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return "__ibkt__" in plan

    # small input => single window
    assert not has_bucket()
    # threshold 0: nothing is small enough, inputs stay bucketed
    monkeypatch.setattr(islands, "DEFAULT_SINGLE_WINDOW_BYTES", 0)
    assert has_bucket()
    # a 1-byte threshold says nothing is small enough either
    monkeypatch.setattr(islands, "DEFAULT_SINGLE_WINDOW_BYTES", 1)
    assert has_bucket()
