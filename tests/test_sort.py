"""sort_ranges: natsort order + the two-phase bucketed rank (VERDICT r4 #3)."""

from __future__ import annotations

import pandas as pd

from pyranges_1_x_spark.core import GenomicRanges


def _mk(spark, rows):
    return GenomicRanges(
        spark.createDataFrame(rows, "Chromosome string, Start long, End long, name string")
    )


def test_sort_ranges_natsort_rank(spark):
    g = _mk(
        spark,
        [
            ("chr11", 5, 9, "d"),
            ("chr2", 1, 4, "b"),
            ("chr2", 1, 2, "a"),
            ("chrM", 0, 1, "e"),
            ("chr2", 300000, 300001, "c"),  # different rank bucket than the others
        ],
    )
    out = g.sort_ranges(rank_col="rank").df.toPandas().sort_values("rank")
    # natsort: chr2 < chr11 < chrM; within chr2: Start, then End
    assert list(out.name) == ["a", "b", "c", "d", "e"]
    assert list(out["rank"]) == [1, 2, 3, 4, 5]


def test_sort_ranges_reverse_rank(spark):
    g = _mk(spark, [("chr1", 0, 5, "x"), ("chr1", 10, 20, "y"), ("chr10", 0, 1, "z")])
    out = g.sort_ranges(rank_col="rank", reverse=True).df.toPandas().sort_values("rank")
    assert list(out.name) == ["z", "y", "x"]


def test_sort_ranges_rank_matches_global_window(spark):
    import random

    rng = random.Random(7)
    rows = [
        (f"chr{rng.randint(1, 3)}", s, s + rng.randint(1, 500), f"r{i}")
        for i, s in enumerate(rng.sample(range(0, 2_000_000), 300))
    ]
    g = _mk(spark, rows)
    got = g.sort_ranges(rank_col="rank").df.toPandas()
    # reference order computed driver-side
    pdf = pd.DataFrame(rows, columns=["Chromosome", "Start", "End", "name"])
    key = pdf.Chromosome.str.replace("^chr", "", regex=True).str.zfill(12)
    expect = (
        pdf.assign(__k__=key)
        .sort_values(["__k__", "Start", "End"], kind="mergesort")
        .name.tolist()
    )
    assert got.sort_values("rank").name.tolist() == expect
    assert sorted(got["rank"]) == list(range(1, 301))


def test_sort_ranges_rank_null_coordinates(spark):
    """The rank numbers exactly the rows a plain sort returns, in its order:
    a NULL Start and a NULL Chromosome included (they used to drop out of
    the rank while their bucket counts shifted every other rank)."""
    g = _mk(
        spark,
        [
            ("chr1", 5, 9, "a"),
            ("chr1", None, 4, "b"),
            (None, 1, 2, "c"),
            ("chr2", 0, 1, "d"),
            ("chr1", 300000, 300001, "e"),
        ],
    )
    for reverse in (False, True):
        plain = [r["name"] for r in g.sort_ranges(reverse=reverse).df.collect()]
        ranked = g.sort_ranges(rank_col="rank", reverse=reverse).df.toPandas()
        ranked = ranked.sort_values("rank")
        assert list(ranked["rank"]) == [1, 2, 3, 4, 5]
        assert list(ranked.name) == plain
