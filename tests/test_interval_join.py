"""Interval-join planner tests: doctest goldens from the reference plus a
randomized brute-force oracle (bin-boundary coverage via tiny bin_size)."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pyranges_1_x_spark.core import GenomicRanges
from tests.helpers import assert_df_equal, brute_overlap_pairs


def gr(spark, rows, cols=("Chromosome", "Start", "End")):
    return GenomicRanges(spark.createDataFrame(pd.DataFrame(rows, columns=list(cols))))


@pytest.fixture(scope="module")
def f1f2(spark):
    # The join_overlaps doctest fixture (reference pyranges_main.py:1230-1278).
    f1 = gr(
        spark,
        [("chr1", 3, 6, "interval1"), ("chr1", 8, 9, "interval3"), ("chr1", 5, 7, "interval2")],
        ("Chromosome", "Start", "End", "Name"),
    )
    f2 = gr(
        spark,
        [("chr1", 1, 2, "a"), ("chr1", 6, 7, "b")],
        ("Chromosome", "Start", "End", "Name"),
    )
    return f1, f2


def test_join_inner_golden(f1f2):
    f1, f2 = f1f2
    res = f1.join_overlaps(f2)
    expected = pd.DataFrame(
        [("chr1", 5, 7, "interval2", 6, 7, "b")],
        columns=["Chromosome", "Start", "End", "Name", "Start_b", "End_b", "Name_b"],
    )
    assert_df_equal(res, expected)


def test_join_left_golden(f1f2):
    f1, f2 = f1f2
    res = f1.join_overlaps(f2, join_type="left").df.toPandas()
    assert len(res) == 3
    matched = res[res.Name == "interval2"]
    assert matched.Start_b.tolist() == [6]
    unmatched = res[res.Name != "interval2"]
    assert unmatched.Start_b.isna().all()


def test_join_outer_golden(f1f2):
    f1, f2 = f1f2
    res = f1.join_overlaps(f2, join_type="outer").df.toPandas()
    assert len(res) == 4  # 1 match + 2 unmatched left + 1 unmatched right
    right_only = res[res.Start.isna()]
    assert right_only.Name_b.tolist() == ["a"]


def test_overlap_semi_and_anti(f1f2):
    f1, f2 = f1f2
    hits = f1.overlap(f2).df.toPandas()
    assert hits.Name.tolist() == ["interval2"]
    miss = f1.complement_overlaps(f2).df.toPandas()
    assert sorted(miss.Name) == ["interval1", "interval3"]


def test_slack_captures_bookended(spark):
    a = gr(spark, [("chr1", 1, 5)])
    b = gr(spark, [("chr1", 5, 10)])
    assert a.join_overlaps(b).df.count() == 0
    assert a.join_overlaps(b, slack=1).df.count() == 1


def test_contained_only(spark):
    a = gr(spark, [("chr1", 2, 4), ("chr1", 2, 12)])
    b = gr(spark, [("chr1", 1, 10)])
    res = a.join_overlaps(b, contained_intervals_only=True).df.toPandas()
    assert res.Start.tolist() == [2] and res.End.tolist() == [4]


def test_multiple_first_last(spark):
    a = gr(spark, [("chr1", 5, 20)])
    b = gr(spark, [("chr1", 4, 6), ("chr1", 1, 30), ("chr1", 10, 12)])
    first = a.join_overlaps(b, multiple="first").df.toPandas()
    assert first.Start_b.tolist() == [1]  # smallest right Start
    last = a.join_overlaps(b, multiple="last").df.toPandas()
    # lexicographically-last (Start_b, End_b) match — (10,12), NOT the
    # biggest-End (1,30): the reference docstring says "biggest End" but its
    # executable intersect doctest (pyranges_main.py:5406) proves the kernel
    # orders by (Start, End); see test_intersect_multiple_first_last_golden.
    assert last.Start_b.tolist() == [10] and last.End_b.tolist() == [12]


def test_strand_behavior(spark):
    cols = ("Chromosome", "Start", "End", "Strand")
    a = gr(spark, [("chr1", 1, 10, "+")], cols)
    b = gr(spark, [("chr1", 5, 8, "-")], cols)
    assert a.join_overlaps(b).df.count() == 0  # auto -> same
    assert a.join_overlaps(b, strand_behavior="opposite").df.count() == 1
    assert a.join_overlaps(b, strand_behavior="ignore").df.count() == 1


def test_count_and_intersect(spark):
    a = gr(spark, [("chr1", 1, 10), ("chr1", 50, 60), ("chr2", 1, 5)])
    b = gr(spark, [("chr1", 5, 8), ("chr1", 9, 20), ("chr1", 55, 58)])
    counts = a.count_overlaps(b).df.toPandas().sort_values(["Chromosome", "Start"])
    assert counts.Count.tolist() == [2, 1, 0]  # reference default column name
    inter = a.intersect_overlaps(b).df.toPandas().sort_values("Start")
    assert list(map(tuple, inter[["Start", "End"]].values)) == [(5, 8), (9, 10), (55, 58)]


@pytest.mark.parametrize("bin_size,slack", [(7, 0), (7, 3), (100000, 0), (13, 1)])
def test_random_against_bruteforce(spark, bin_size, slack):
    rng = random.Random(42 + bin_size + slack)
    mk = lambda n: pd.DataFrame(
        {
            "Chromosome": [f"chr{rng.randint(1, 3)}" for _ in range(n)],
            "Start": [rng.randint(0, 200) for _ in range(n)],
        }
    ).assign(End=lambda d: d.Start + [rng.randint(1, 40) for _ in range(n)], idx=range(n))
    pa, pb = mk(60), mk(40)
    a = GenomicRanges(spark.createDataFrame(pa))
    b = GenomicRanges(spark.createDataFrame(pb))
    got = a.join_overlaps(b, slack=slack, bin_size=bin_size).df.toPandas()
    expected_pairs = {
        (pa.idx[i], pb.idx[j])
        for i, j in brute_overlap_pairs(pa, pb, ["Chromosome"], slack=slack)
    }
    got_pairs = set(zip(got["idx"], got["idx_b"]))
    assert got_pairs == expected_pairs


def test_floordiv_exact_beyond_double_precision(spark):
    """floordiv must stay integer-exact above 2**53 (float division rounds there)."""
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.plans.interval_join import floordiv

    w = 100_000
    vals = [2**53 + 1, 2**53 + 3, 2**62 + 12345, -(2**53) - 7, -(2**62) - 1, 0, -1, w - 1, -w]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    got = {r["c"]: r["q"] for r in df.select("c", floordiv(F.col("c"), w).alias("q")).collect()}
    for v in vals:
        assert got[v] == v // w, f"floordiv({v}, {w}) = {got[v]} != {v // w}"


def test_intersect_multiple_first_last_golden(spark):
    """Reference doctest pyranges_main.py:5362-5413: intersect with
    multiple='first'/'last'. 'last' pins the lexicographically-last
    (Start, End) match — the executable doctest picks [28,32) over the
    bigger-End [25,33)."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges

    r1 = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": ["chr1"] * 3, "Start": [5, 20, 40],
         "End": [10, 30, 50], "ID": ["a", "b", "c"]})))
    r2 = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": ["chr1"] * 4, "Start": [7, 18, 25, 28],
         "End": [9, 22, 33, 32]})))

    def rows(gr):
        return sorted(map(tuple,
            gr.df.select("Chromosome", "Start", "End", "ID").toPandas().values))

    assert rows(r1.intersect_overlaps(r2)) == [
        ("chr1", 7, 9, "a"), ("chr1", 20, 22, "b"),
        ("chr1", 25, 30, "b"), ("chr1", 28, 30, "b")]
    assert rows(r1.intersect_overlaps(r2, multiple="first")) == [
        ("chr1", 7, 9, "a"), ("chr1", 20, 22, "b")]
    assert rows(r1.intersect_overlaps(r2, multiple="last")) == [
        ("chr1", 7, 9, "a"), ("chr1", 28, 30, "b")]


def test_overlap_multiple_and_invert(spark):
    """Reference overlap params: multiple=True duplicates a self row once per
    overlapping other interval; invert=True returns the non-overlapping rows."""
    a = gr(spark, [("chr1", 5, 20), ("chr1", 100, 110)])
    b = gr(spark, [("chr1", 4, 6), ("chr1", 10, 12), ("chr1", 300, 310)])
    once = a.overlap(b).df.toPandas()
    assert sorted(once.Start.tolist()) == [5]
    multi = a.overlap(b, multiple=True).df.toPandas()
    assert sorted(multi.Start.tolist()) == [5, 5]
    inv = a.overlap(b, invert=True).df.toPandas()
    assert sorted(inv.Start.tolist()) == [100]
    # invert + multiple is contradictory — explicit error, not silent
    # precedence (ADVICE r7).
    with pytest.raises(ValueError, match="contradictory"):
        a.overlap(b, invert=True, multiple=True)
    # copy() keeps the instance bin_size (ADVICE r7: it reverted to the
    # default, silently changing binned-join plan granularity).
    g1k = GenomicRanges(a.df, bin_size=1000)
    assert g1k.copy()._bin_size == 1000
    assert g1k.copy().resolve_bin(None) == 1000


def test_float_payload_bits_survive_bin_collapse(spark, monkeypatch):
    """VERDICT r15 #5: Spark's NormalizeFloatingNumbers rewrites -0.0 -> 0.0
    in grouping keys, so a float Score payload riding in the bin-collapse
    GROUP BY key would round-trip -0.0 as 0.0 where the struct-aggregate
    fallback preserved the sign bit. collapse_bins routes top-level floats
    through scalar first() aggregates instead — byte-compare that path with
    the struct fallback for every collapse client: the semi and anti
    probes, the left join, the right-side unmatched rows of an outer join
    and count_overlaps."""
    import math
    import struct as _struct

    import pyranges_1_x_spark.plans.interval_join as ijmod

    cols = ("Chromosome", "Start", "End", "Score")
    a = gr(
        spark,
        [("chr1", 5, 20, -0.0), ("chr1", 100, 110, float("nan")), ("chr2", 7, 9, 0.0)],
        cols,
    )
    b = gr(spark, [("chr1", 4, 6), ("chr1", 300, 310)])

    def bits(x):
        return _struct.pack(">d", x).hex() if isinstance(x, float) else x

    def snap():
        out = {
            "semi": a.overlap(b).df,
            "anti": a.overlap(b, invert=True).df,
            "join_left": a.join_overlaps(b, join_type="left").df,
            "outer_right": b.join_overlaps(a, join_type="outer").df,
            "count": a.count_overlaps(b).df,
        }
        return {
            k: sorted(repr(tuple(bits(x) for x in r)) for r in v.collect())
            for k, v in out.items()
        }

    fast = snap()
    # Force the struct fallback (the bit-exact reference path) and re-snap.
    monkeypatch.setattr(ijmod, "_split_payload", lambda fields: (False, [], []))
    slow = snap()

    assert fast == slow
    # And the sign bit really is preserved (not both-normalized).
    neg_zero, nan = repr(bits(-0.0)), repr(bits(math.nan))
    assert any(neg_zero in t for t in fast["semi"])
    assert any(neg_zero in t for t in fast["join_left"])
    assert any(nan in t for t in fast["anti"])
    assert any(nan in t for t in fast["outer_right"])
    assert any(nan in t for t in fast["count"])


def test_bin_collapse_plans_hash_aggregate(spark):
    """The groupable bin-copy collapse (_split_payload: payload in the GROUP
    BY key, top-level floats as first()) must plan a HashAggregate. A
    SortAggregate — two full sorts of the bin-exploded relation — is the
    r15 regression that routing exists to prevent."""
    a = GenomicRanges(spark.createDataFrame(
        [("chr1", 5, 20, 7, "x", 1.5), ("chr1", 100, 110, 8, "y", -0.0)],
        "Chromosome string, Start long, End long, n long, s string, d double",
    ))
    b = gr(spark, [("chr1", 4, 6)])
    clients = {
        "overlap": a.overlap(b),
        "overlap_invert": a.overlap(b, invert=True),
        "join_left": a.join_overlaps(b, join_type="left"),
        "count_overlaps": a.count_overlaps(b),
    }
    for name, g in clients.items():
        plan = g.df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan, name
        assert "SortAggregate" not in plan, name


def test_null_start_rows_come_out_unmatched(spark):
    """A NULL Start gives a row no bin range. It must still reach every
    operator that keeps left rows, unmatched, as rows with a NULL End or a
    NULL Chromosome do (SQL LEFT JOIN / NOT EXISTS semantics); explode used
    to drop it. subtract_overlaps leaves no residual for it."""
    a = GenomicRanges(spark.createDataFrame(
        [("chr1", 5, 20, 1), ("chr1", None, 20, 2), ("chr1", 5, None, 3),
         (None, 5, 20, 4), ("chr1", 500, 520, 5)],
        "Chromosome string, Start long, End long, id long",
    ))
    b = gr(spark, [("chr1", 4, 6)])

    def ids(g):
        return sorted(r.id for r in g.df.collect())

    assert ids(a.join_overlaps(b, join_type="left")) == [1, 2, 3, 4, 5]
    outer = a.join_overlaps(b, join_type="outer").df.collect()
    assert sorted((r.id, r.Start_b) for r in outer) == [
        (1, 4), (2, None), (3, None), (4, None), (5, None)]
    # the right side's unmatched rows of an outer join keep it too
    assert ids(b.join_overlaps(a, join_type="outer")) == [1, 2, 3, 4, 5]
    counts = a.count_overlaps(b).df.collect()
    assert sorted((r.id, r.Count) for r in counts) == [(1, 1), (2, 0), (3, 0), (4, 0), (5, 0)]
    assert ids(a.overlap(b, invert=True)) == [2, 3, 4, 5]
    assert ids(a.complement_overlaps(b)) == [2, 3, 4, 5]
    assert ids(a.overlap(b)) == [1]
    residual = {(r.id, r.Start, r.End) for r in a.subtract_overlaps(b).df.collect()}
    assert {(1, 6, 20), (5, 500, 520)} <= residual
    assert not {i for i, _, _ in residual} & {2, 3}
