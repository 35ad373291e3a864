"""Bucketed sweep primitives vs brute force — tiny bucket widths so every
randomized case crosses many bucket boundaries (the patch path, not just the
local window)."""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import functions as F

from pyranges_1_x_spark.plans.interval_join import floordiv
from pyranges_1_x_spark.plans.qcache import free_tracked
from pyranges_1_x_spark.plans.sweep import Scan, asof_extreme, bucketed_scan, prefix_sweep


def _points(seed, n=120, span=200):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                rng.choice(["chr1", "chr2"]),
                rng.randrange(-span // 4, span),  # negative positions too
                rng.random() < 0.5,
                i,
            )
        )
    return pd.DataFrame(rows, columns=["k", "pos", "isd", "rid"])


def _brute_asof(pdf, side, agg):
    out = {}
    for _, row in pdf.iterrows():
        data = pdf[(pdf.k == row.k) & pdf.isd]
        elig = data[data.pos >= row.pos] if side == "ge" else data[data.pos <= row.pos]
        vals = elig.pos.tolist()
        out[row.rid] = (min(vals) if agg == "min" else max(vals)) if vals else None
    return out


def test_asof_extreme_all_modes_vs_brute(spark):
    for seed in (1, 2):
        pdf = _points(seed)
        df = spark.createDataFrame(pdf)
        for side in ("ge", "le"):
            for agg in ("min", "max"):
                got = asof_extreme(
                    df, ["k"], "pos", F.col("isd"), "pos",
                    side=side, agg=agg, bucket_width=7, out_col="cand",
                )
                gotmap = {r["rid"]: r["cand"] for r in got.collect()}
                assert gotmap == _brute_asof(pdf, side, agg), (seed, side, agg)


def test_bucketed_row_number_matches_global_sort(spark):
    pdf = _points(7, n=150)
    df = spark.createDataFrame(pdf)
    for descending in (False, True):
        order = [
            F.col("pos").desc() if descending else F.col("pos").asc(),
            F.col("rid").asc(),
        ]
        got = bucketed_scan(
            df.withColumn("bkt", floordiv(F.col("pos"), 5)), ["k"], "bkt",
            [Scan("rr", "row_number", None, order, desc=descending)],
        ).collect()
        gotmap = {r["rid"]: r["rr"] for r in got}
        for k, grp in pdf.groupby("k"):
            srt = grp.sort_values(["pos", "rid"], ascending=[not descending, True])
            for want, rid in enumerate(srt.rid.tolist(), start=1):
                assert gotmap[rid] == want, (k, rid, descending)


def test_asof_extreme_ties_include_data_rows(spark):
    # A data row exactly at the query position must count on both sides
    # (touching => eligible, reference range_frame.py:451-537).
    pdf = pd.DataFrame(
        [("chr1", 10, True, 0), ("chr1", 10, False, 1), ("chr1", 3, True, 2)],
        columns=["k", "pos", "isd", "rid"],
    )
    df = spark.createDataFrame(pdf)
    ge = asof_extreme(
        df, ["k"], "pos", F.col("isd"), "pos",
        side="ge", agg="min", bucket_width=4, out_col="cand",
    )
    assert {r["rid"]: r["cand"] for r in ge.collect()}[1] == 10
    le = asof_extreme(
        df, ["k"], "pos", F.col("isd"), "pos",
        side="le", agg="max", bucket_width=4, out_col="cand",
    )
    assert {r["rid"]: r["cand"] for r in le.collect()}[1] == 10


def test_prefix_sweep_vs_brute(spark):
    # Two keys, negative positions, one single-point group: running sums of
    # both delta columns and the next position (NULL on each group's last).
    rng = random.Random(5)
    rows = [
        (k1, k2, pos, rng.randint(-3, 3), rng.randint(0, 5))
        for k1 in ("a", "b")
        for k2 in ("x", "y")
        for pos in sorted(rng.sample(range(-20, 25), 12))
    ] + [("c", "z", -4, 2, 1)]
    pdf = pd.DataFrame(rows, columns=["k1", "k2", "pos", "d1", "d2"])
    got = prefix_sweep(
        spark.createDataFrame(pdf), ["k1", "k2"], "pos", ["d1", "d2"], ["c1", "c2"],
        bucket_width=3, next_col="nxt",
    ).collect()
    free_tracked()
    want = {}
    for (k1, k2), grp in pdf.groupby(["k1", "k2"]):
        grp = grp.sort_values("pos")
        nxt = grp.pos.tolist()[1:] + [None]
        for (pos, c1, c2), n in zip(zip(grp.pos, grp.d1.cumsum(), grp.d2.cumsum()), nxt):
            want[(k1, k2, pos)] = (c1, c2, n)
    assert {(r.k1, r.k2, r.pos): (r.c1, r.c2, r.nxt) for r in got} == want
