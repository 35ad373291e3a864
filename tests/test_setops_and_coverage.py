"""Brute-force-oracle tests for subtract/complement/split/coverage/nearest
(reference precedent: tests/unit/k_nearest.py compares against naive numpy)."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pyranges_1_x_spark.core import GenomicRanges


def random_frame(seed, n, max_pos=300, max_len=40):
    rng = random.Random(seed)
    return pd.DataFrame(
        {
            "Chromosome": [f"chr{rng.randint(1, 3)}" for _ in range(n)],
            "Start": [rng.randint(0, max_pos) for _ in range(n)],
        }
    ).assign(End=lambda d: d.Start + [rng.randint(1, max_len) for _ in range(n)])


def brute_subtract(a: pd.DataFrame, b: pd.DataFrame):
    out = []
    for _, ra in a.iterrows():
        pieces = [(ra.Start, ra.End)]
        for _, rb in b[b.Chromosome == ra.Chromosome].iterrows():
            nxt = []
            for s, e in pieces:
                if rb.Start < e and s < rb.End:  # overlap: cut
                    if s < rb.Start:
                        nxt.append((s, rb.Start))
                    if rb.End < e:
                        nxt.append((rb.End, e))
                else:
                    nxt.append((s, e))
            pieces = nxt
        out += [(ra.Chromosome, s, e) for s, e in pieces]
    return sorted(out)


def brute_coverage(a: pd.DataFrame):
    runs = []
    for chrom, grp in a.groupby("Chromosome"):
        events = {}
        for _, r in grp.iterrows():
            events[r.Start] = events.get(r.Start, 0) + 1
            events[r.End] = events.get(r.End, 0) - 1
        pos = sorted(events)
        depth = 0
        for p, nxt in zip(pos, pos[1:]):
            depth += events[p]
            runs.append((chrom, p, nxt, depth))
    return sorted(runs)


@pytest.mark.parametrize("seed", [1, 7])
def test_subtract_bruteforce(spark, seed):
    pa, pb = random_frame(seed, 50), random_frame(seed + 100, 30)
    a, b = GenomicRanges(spark.createDataFrame(pa)), GenomicRanges(spark.createDataFrame(pb))
    got = sorted(
        map(tuple, a.subtract_overlaps(b, bin_size=17).df.toPandas()[["Chromosome", "Start", "End"]].values)
    )
    assert got == brute_subtract(pa, pb)


def test_coverage_bruteforce(spark):
    pa = random_frame(3, 60)
    a = GenomicRanges(spark.createDataFrame(pa))
    got = sorted(
        map(tuple, a.to_coverage(use_strand=False).df.toPandas()[["Chromosome", "Start", "End", "Value"]].values)
    )
    assert got == brute_coverage(pa)


def test_event_sweeps_drop_unplaced_rows(spark):
    # A row with a NULL Start, End or Chromosome covers nothing in any event
    # sweep: neither its bucket total nor its lone event may shift the other
    # rows' depth, and a NULL Chromosome is no group. Subtract leaves such a
    # row no residual; relative_distance gives it no midpoint, even between
    # two NULL-Chromosome rows of the other set.
    from pyranges_1_x_spark import count_overlaps_matrix
    from pyranges_1_x_spark.functions.stats import (
        forbes_statistic,
        jaccard_statistic,
        relative_distance,
    )

    schema = "Chromosome string, Start long, End long, Score double"
    rows = [("chr1", 1, 4, 2.0), ("chr1", 3, 8, 1.0), ("chr1", 10, 12, 4.0)]
    bad = [("chr1", None, 11, 1.0), ("chr1", 2, None, 1.0), (None, 0, 20, 1.0)]

    blocker = GenomicRanges(spark.createDataFrame([("chr1", 4, 6, 0.0)], schema))
    flanks = GenomicRanges(spark.createDataFrame(
        [(None, 0, 2, 0.0), (None, 30, 32, 0.0), ("chr1", 0, 2, 0.0), ("chr1", 20, 22, 0.0)],
        schema,
    ))

    def sweeps(rows):
        g = GenomicRanges(spark.createDataFrame(rows, schema))
        outs = [
            g.to_coverage(rpm=True),
            g.coverage_ratio(value_col="Score", use_strand=False),
            g.split_overlaps(use_strand=False, between=True),
            count_overlaps_matrix({"n_a": g, "n_b": g}, use_strand=False),
            g.subtract_overlaps(blocker),
            relative_distance(g, flanks),
            jaccard_statistic(g, blocker),
            forbes_statistic(g, blocker, 100),
        ]
        return [
            sorted(map(tuple, (o.df if isinstance(o, GenomicRanges) else o).collect()))
            for o in outs
        ]

    assert sweeps(rows + bad) == sweeps(rows)


def test_complement_roundtrip(spark):
    pa = random_frame(5, 40)
    a = GenomicRanges(spark.createDataFrame(pa))
    merged = a.merge_overlaps(use_strand=False).df.toPandas()
    gaps = a.complement_ranges(use_strand=False).df.toPandas()
    # each gap must sit exactly between two consecutive merged intervals
    for chrom, grp in merged.groupby("Chromosome"):
        g = grp.sort_values("Start")
        expected = [
            (e, s)
            for e, s in zip(g.End[:-1], g.Start[1:])
            if s > e
        ]
        got = sorted(map(tuple, gaps[gaps.Chromosome == chrom][["Start", "End"]].values))
        assert got == sorted(expected)


def test_split_covers_input(spark):
    pa = random_frame(11, 30)
    a = GenomicRanges(spark.createDataFrame(pa))
    segs = a.split_overlaps(use_strand=False, bin_size=23).df.toPandas()
    # total split length equals merged coverage length
    merged = a.merge_overlaps(use_strand=False).df.toPandas()
    assert (segs.End - segs.Start).sum() == (merged.End - merged.Start).sum()
    # segments are disjoint
    for chrom, grp in segs.groupby("Chromosome"):
        g = grp.sort_values("Start")
        assert all(s >= e for e, s in zip(g.End[:-1], g.Start[1:]))


def brute_nearest_distance(a, b):
    out = {}
    for ia, ra in a.iterrows():
        best = None
        for _, rb in b[b.Chromosome == ra.Chromosome].iterrows():
            if max(ra.Start, rb.Start) < min(ra.End, rb.End):
                d = 0
            else:
                d = max(ra.Start, rb.Start) - min(ra.End, rb.End) + 1
            best = d if best is None else min(best, d)
        if best is not None:
            out[ia] = best
    return out


def test_nearest_distance_bruteforce(spark):
    pa, pb = random_frame(21, 40).assign(idx=range(40)), random_frame(22, 25)
    a, b = GenomicRanges(spark.createDataFrame(pa)), GenomicRanges(spark.createDataFrame(pb))
    got = a.nearest_distance(b).df.toPandas()
    expected = brute_nearest_distance(pa, pb)
    assert dict(zip(got.idx, got.Distance)) == expected
    # nearest_ranges agrees on the distances
    nr = a.nearest_ranges(b).df.toPandas()
    assert dict(zip(nr.idx, nr.Distance)) == expected
    # An other row with a NULL Start is nobody's neighbor: its End must not
    # leak into the sweep's cross-bucket patch as an overlap.
    nb = GenomicRanges(
        spark.createDataFrame([("chr1", None, 100)], "Chromosome string, Start long, End long")
    )
    assert a.nearest_distance(nb).df.count() == 0
    assert a.nearest_ranges(nb).df.count() == 0
    # A self row with Start > End has no neighbor in either operator, even
    # where a backward candidate ends before its Start.
    bad = GenomicRanges(spark.createDataFrame(
        pd.concat([pa.head(3), pd.DataFrame([("chr1", 50, 10, 99)], columns=pa.columns)])
    ))
    other = GenomicRanges(
        spark.createDataFrame([("chr1", 30, 45)], "Chromosome string, Start long, End long")
    )
    want = brute_nearest_distance(pa.head(3), pd.DataFrame(
        [("chr1", 30, 45)], columns=["Chromosome", "Start", "End"]
    ))
    for got in (bad.nearest_distance(other).df, bad.nearest_ranges(other).df):
        got = got.toPandas()
        assert dict(zip(got.idx, got.Distance)) == want


def brute_nearest_nonoverlapping(a, b, direction):
    """Per a row: distance to the nearest b interval that does not overlap
    it, in the row's leg (upstream of '+' = backward, of '-' = forward)."""
    out = {}
    for ia, ra in a.iterrows():
        d = direction
        if d in ("upstream", "downstream"):
            fwd_leg = (ra.Strand == "-") if d == "upstream" else (ra.Strand != "-")
            d = "forward" if fwd_leg else "backward"
        best = None
        for _, rb in b[b.Chromosome == ra.Chromosome].iterrows():
            cands = []
            if d in ("any", "forward") and rb.Start >= ra.End:
                cands.append(rb.Start - ra.End + 1)
            if d in ("any", "backward") and rb.End <= ra.Start:
                cands.append(ra.Start - rb.End + 1)
            for c in cands:
                best = c if best is None else min(best, c)
        if best is not None:
            out[ia] = best
    return out


def test_nearest_distance_exclude_overlaps_bruteforce(spark):
    pa = random_frame(31, 30).assign(
        idx=range(30), Strand=["+" if i % 3 else "-" for i in range(30)]
    )
    pb = random_frame(32, 20)
    a, b = GenomicRanges(spark.createDataFrame(pa)), GenomicRanges(spark.createDataFrame(pb))
    for direction in ("any", "forward", "backward", "upstream", "downstream"):
        got = a.nearest_distance(
            b, direction=direction, exclude_overlaps=True, strand_behavior="ignore"
        ).df.toPandas()
        assert list(got.columns) == [*pa.columns, "Distance"]
        assert dict(zip(got.idx, got.Distance)) == brute_nearest_nonoverlapping(
            pa, pb, direction
        ), direction


def test_max_disjoint(spark):
    gr = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame(
                [("chr1", 1, 5), ("chr1", 3, 7), ("chr1", 6, 10), ("chr1", 9, 12)],
                columns=["Chromosome", "Start", "End"],
            )
        )
    )
    res = gr.max_disjoint_overlaps(use_strand=False).df.toPandas().sort_values("Start")
    assert list(map(tuple, res[["Start", "End"]].values)) == [(1, 5), (6, 10)]


def brute_knearest_dists(a, b, k, exclude_overlaps=False, direction="any"):
    out = {}
    for ia, ra in a.iterrows():
        ds = []
        for _, rb in b[b.Chromosome == ra.Chromosome].iterrows():
            overlap = max(ra.Start, rb.Start) < min(ra.End, rb.End)
            if overlap:
                if exclude_overlaps:
                    continue
                d = 0
            else:
                forward = rb.Start >= ra.End
                if direction == "forward" and not forward:
                    continue
                if direction == "backward" and (forward or rb.End > ra.Start):
                    continue
                d = max(ra.Start, rb.Start) - min(ra.End, rb.End) + 1
            ds.append(d)
        if ds:
            out[ia] = sorted(ds)[:k]
    return out


def test_nearest_k3_bruteforce(spark):
    pa = random_frame(31, 35).assign(idx=range(35))
    pb = random_frame(32, 20)
    a, b = GenomicRanges(spark.createDataFrame(pa)), GenomicRanges(spark.createDataFrame(pb))
    for kwargs in (
        dict(k=3),
        dict(k=3, exclude_overlaps=True),
        dict(k=2, direction="forward"),
        dict(k=2, direction="backward", exclude_overlaps=True),
    ):
        got = a.nearest_ranges(b, **kwargs).df.toPandas()
        got_d = {
            idx: sorted(grp.Distance.tolist())
            for idx, grp in got.groupby("idx")
        }
        want = brute_knearest_dists(
            pa, pb, kwargs["k"],
            exclude_overlaps=kwargs.get("exclude_overlaps", False),
            direction=kwargs.get("direction", "any"),
        )
        assert got_d == want, f"mismatch for {kwargs}"


def test_nearest_coincident_empty_pair_counted_once(spark):
    """A pair of EMPTY intervals at the same point satisfies both sweep legs
    (forward needs other.Start >= self.End, backward other.End <= self.Start
    — mutually exclusive unless every boundary coincides); the pair must
    still be emitted ONCE, not once per leg, or the duplicate displaces a
    real k-th candidate (hypothesis explore find, r10)."""
    a = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [52], "End": [52]})))
    b = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [52, 40], "End": [52, 45]})))
    got = a.nearest_ranges(b, k=3).df.toPandas()
    # both b rows once each: the coincident empty at distance 1 (touching),
    # the [40,45) interval at 52-45+1 = 8
    assert sorted(got.Distance.tolist()) == [1, 8]
    # single-direction calls keep the degenerate pair in their only leg
    fwd = a.nearest_ranges(b, direction="forward").df.toPandas()
    assert fwd.Distance.tolist() == [1]
    bwd = a.nearest_ranges(b, direction="backward", k=3).df.toPandas()
    assert sorted(bwd.Distance.tolist()) == [1, 8]


def test_nearest_upstream_downstream(spark):
    # f1/f2 from the reference nearest_ranges doctest (pyranges_main.py:2195+)
    f1 = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [3, 5, 8], "End": [6, 7, 9], "Strand": ["+", "-", "+"]})))
    f2 = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [1, 6, 20], "End": [2, 7, 22], "Strand": ["+", "-", "+"]})))
    # downstream doctest golden: (3,6,+)->20..22 d15; (8,9,+)->20..22 d12; (5,7,-)->6,7 d0 (overlap)
    dn = f1.nearest_ranges(f2, direction="downstream").df.toPandas()
    got = sorted(zip(dn.Start, dn.Start_b, dn.Distance))
    assert got == [(3, 20, 15), (5, 6, 0), (8, 20, 12)]
    # upstream + exclude_overlaps doctest golden: the '-' row drops
    up = f1.nearest_ranges(f2, direction="upstream", exclude_overlaps=True).df.toPandas()
    got = sorted(zip(up.Start, up.Start_b, up.Distance))
    assert got == [(3, 1, 2), (8, 1, 7)]
    # '-' strand upstream means larger coordinates: give the '-' row a real
    # upstream partner on its own strand
    f3 = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [10], "End": [12], "Strand": ["-"]})))
    up2 = f1.nearest_ranges(f3, direction="upstream", exclude_overlaps=True).df.toPandas()
    # only the '-' self row (5,7) can match same-strand; upstream of '-' = forward: 10 >= 7 ok
    assert sorted(zip(up2.Start, up2.Start_b, up2.Distance)) == [(5, 10, 4)]


def test_nearest_updown_degenerate_pair_once(spark):
    """r12 (leg-filter rewrite): upstream/downstream build BOTH direction
    sweeps and select per row by strand, with the coincident-empty-pair
    dedup filter deliberately OFF (each row is single-direction, so the
    any-direction double emission cannot occur — and the filter would
    delete a forward-leg row's only copy). k=2 would expose a double
    emission as two identical rows; each row must emit the pair exactly
    ONCE at distance 1."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges

    a = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [5, 5], "End": [5, 5], "Strand": ["+", "-"]})))
    b = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": "chr1", "Start": [5], "End": [5], "Strand": ["+"]})))
    for d in ("upstream", "downstream"):
        got = a.nearest_ranges(
            b, direction=d, strand_behavior="ignore", k=2
        ).df.toPandas()
        assert sorted(zip(got.Strand, got.Distance)) == [("+", 1), ("-", 1)], d


def test_set_intersect_multiple_first_last(spark):
    """set_intersect multiple: per merged self island, keep only the
    smallest/largest (Start, End) merged other island (doctest-pinned order,
    see test_intersect_multiple_first_last_golden)."""
    import pandas as pd

    a = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": ["chr1"], "Start": [5], "End": [40]})))
    b = GenomicRanges(spark.createDataFrame(pd.DataFrame(
        {"Chromosome": ["chr1"] * 3, "Start": [7, 18, 30], "End": [9, 22, 50]})))

    def rows(gr):
        return sorted(map(tuple,
            gr.df.select("Chromosome", "Start", "End").toPandas().values))

    assert rows(a.set_intersect_overlaps(b)) == [
        ("chr1", 7, 9), ("chr1", 18, 22), ("chr1", 30, 40)]
    assert rows(a.set_intersect_overlaps(b, multiple="first")) == [("chr1", 7, 9)]
    assert rows(a.set_intersect_overlaps(b, multiple="last")) == [("chr1", 30, 40)]


def test_complement_group_by_and_sizes_dict(spark):
    """Reference complement_ranges params: positional group_by, dict
    chromsizes keyed by group_sizes_col."""
    import pandas as pd

    d = pd.DataFrame(
        {
            "Chromosome": ["chr1"] * 4,
            "Start": [5, 30, 2, 20],
            "End": [10, 40, 4, 25],
            "tx": ["t1", "t1", "t2", "t2"],
        }
    )
    g = GenomicRanges(spark.createDataFrame(d))
    out = g.complement_ranges("tx").df.toPandas()
    got = sorted(map(tuple, out[["tx", "Start", "End"]].values))
    assert got == [("t1", 10, 30), ("t2", 4, 20)]
    # sizes keyed by the grouping column: adds [0, first) and [last, size)
    out2 = g.complement_ranges(
        "tx", chromsizes={"t1": 50, "t2": 30}, group_sizes_col="tx"
    ).df.toPandas()
    got2 = sorted(map(tuple, out2[["tx", "Start", "End"]].values))
    assert got2 == [
        ("t1", 0, 5), ("t1", 10, 30), ("t1", 40, 50),
        ("t2", 0, 2), ("t2", 4, 20), ("t2", 25, 30),
    ]


def test_subtract_single_pass_plan_and_both_residuals(spark):
    """r15 optimization pin: subtract emits gap AND tail residuals from ONE
    evaluation of the join+window relation (explode of a per-row segment
    array) — the physical plan must contain no Union (the pre-r15 shape
    glued two filtered branches, re-running the whole pipeline per arm)."""
    import pandas as pd

    a = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame(
                {"Chromosome": ["chr1"] * 3, "Start": [0, 100, 300], "End": [50, 120, 310]}
            )
        )
    )
    b = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame({"Chromosome": ["chr1"] * 2, "Start": [10, 95], "End": [20, 130]})
        )
    )
    out = a.subtract_overlaps(b, strand_behavior="ignore").df
    rows = sorted(map(tuple, out.toPandas()[["Chromosome", "Start", "End"]].values))
    # row 1 yields BOTH a gap [0,10) and a tail [20,50); row 2 is fully
    # covered (no residual); row 3 is matchless (full interval).
    assert rows == [("chr1", 0, 10), ("chr1", 20, 50), ("chr1", 300, 310)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, "subtract regressed to the two-branch union shape"
