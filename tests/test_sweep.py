"""Bucketed sweep primitives vs brute force — tiny bucket widths so every
randomized case crosses many bucket boundaries (the patch path, not just the
local window)."""

from __future__ import annotations

import hashlib
import random

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyranges_1_x_spark.plans.interval_join import floordiv
from pyranges_1_x_spark.plans.qcache import free_tracked
from pyranges_1_x_spark.plans.sweep import Scan, asof_extreme, bucketed_scan, depth_runs


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


def _brute_runs(rows):
    """{(*key, Start, End): depths} of every run between two consecutive event
    points of a key, from (key tuple, Start, End, weights) rows."""
    events = {}
    for key, s, e, ws in rows:
        for p, sign in ((s, 1), (e, -1)):
            d = events.setdefault(key, {}).setdefault(p, [0] * len(ws))
            for i, w in enumerate(ws):
                d[i] += sign * w
    out = {}
    for key, pts in events.items():
        ps = sorted(pts)
        run = [0] * len(pts[ps[0]])
        for p, nxt in zip(ps, ps[1:]):
            run = [r + d for r, d in zip(run, pts[p])]
            out[(*key, p, nxt)] = tuple(run)
    return out


def test_depth_runs_vs_brute(spark):
    # Two sources, each with its own weighted column (b's a double weight,
    # negative too) and one shared column; two keys, negative positions,
    # zero-length rows, a single-point group (no run), and rows with a NULL
    # key, Start or End, which place nothing.
    rng = random.Random(5)

    def rows(n):
        out = []
        for _ in range(n):
            s = rng.randrange(-20, 25)
            w = rng.randrange(-4, 5) / 2
            out.append((rng.choice("ab"), rng.choice("xy"), s, s + rng.randrange(0, 7), w))
        return out

    ra, rb = rows(30) + [("c", "z", -4, -4, 1.0)], rows(30)
    unplaced = [
        (None, "x", 0, 5, 1.0), ("a", None, 0, 5, 1.0),
        ("a", "x", None, 5, 1.0), ("a", "x", 0, None, 1.0),
    ]
    schema = "k1 string, k2 string, Start long, End long, w double"
    a, b = (spark.createDataFrame(r + unplaced, schema) for r in (ra, rb))
    runs = depth_runs(
        [(a, {"n_a": F.lit(1), "n": F.lit(1)}), (b, {"w_b": F.col("w"), "n": F.lit(1)})],
        ["k1", "k2"],
        bucket_width=3,
    )
    assert runs.dtypes == [
        ("k1", "string"), ("k2", "string"), ("Start", "bigint"), ("End", "bigint"),
        ("n_a", "bigint"), ("n", "bigint"), ("w_b", "double"),
    ]
    got = runs.collect()
    free_tracked()
    want = _brute_runs(
        [((k1, k2), s, e, (1, 1, 0.0)) for k1, k2, s, e, _ in ra]
        + [((k1, k2), s, e, (0, 1, w)) for k1, k2, s, e, w in rb]
    )
    assert {(r.k1, r.k2, r.Start, r.End): (r.n_a, r.n, r.w_b) for r in got} == want


# --- every bucketed_scan client vs brute force / the single-window plan -----
#
# One row: (chrom or NULL, Start or NULL, length >= 1, NULL doc id?). A
# NULL-Start row keeps a real End, the shape whose bucket total used to leak
# into every real bucket's patch. Bucket width 3 (hash clients: 1 bit);
# ``reverse`` picks the descending or ascending scan of asof and the sort.

_row = st.tuples(
    st.sampled_from(["c1", "c2", None]),
    st.one_of(st.none(), st.integers(min_value=-10, max_value=30)),
    st.integers(min_value=1, max_value=8),
    st.booleans(),
)


def _md5h(i):
    return int(hashlib.md5(f"{i}#0".encode()).hexdigest()[:15], 16)


def _brute_bh(ps):
    order = sorted(ps, key=lambda i: ps[i])
    run = [ps[i] * len(ps) / (r + 1) for r, i in enumerate(order)]
    for r in range(len(run) - 2, -1, -1):
        run[r] = min(run[r], run[r + 1])
    return {i: min(run[r], 1.0) for r, i in enumerate(order)}


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=1, max_size=14), reverse=st.booleans())
def test_bucketed_scan_clients_with_nulls(spark, monkeypatch, rows, reverse):
    from pyranges_1_x_spark import names
    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.functions.stats import fdr
    from pyranges_1_x_spark.ml.sampling import (
        deterministic_shuffle,
        pack_training_examples,
        quota_sample,
    )
    from pyranges_1_x_spark.plans.islands import assign_islands

    recs = [
        (c, s, (s if s is not None else 0) + ln, i, None if nid else i, ln)
        for i, (c, s, ln, nid) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        recs, "Chromosome string, Start long, End long, idx long, doc_id long, n long"
    )
    placed = [r for r in recs if r[1] is not None]

    # depth_runs: even rows weigh n in one source, odd rows 1 in two columns
    # in the other; a NULL Chromosome or Start places no row
    # (plans/sweep.py:interval_rows) — neither its lone End event nor its
    # bucket total may shift a placed row's depth
    keyed = [((c,), s, e, i, ln) for c, s, e, i, _, ln in placed if c is not None]
    got = depth_runs(
        [
            (df.filter(F.col("idx") % 2 == 0), {"d": F.col("n")}),
            (df.filter(F.col("idx") % 2 == 1), {"d": F.lit(1), "o": F.lit(1)}),
        ],
        ["Chromosome"],
        bucket_width=3,
    ).collect()
    free_tracked()
    want = _brute_runs(
        [(k, s, e, (1, 1) if i % 2 else (ln, 0)) for k, s, e, i, ln in keyed]
    )
    assert {(r.Chromosome, r.Start, r.End): (r.d, r.o) for r in got} == want

    # to_coverage, an event builder over depth_runs
    gr = GenomicRanges(df)
    want = {(*run, depth) for run, (depth,) in _brute_runs(
        [(k, s, e, (1,)) for k, s, e, _, _ in keyed]
    ).items()}
    assert set(map(tuple, gr.to_coverage().df.collect())) == want
    free_tracked()

    # asof_extreme: even rows are data rows
    side, agg = ("ge", "min") if reverse else ("le", "max")
    got = asof_extreme(
        df, ["Chromosome"], "Start", F.col("idx") % 2 == 0, "End",
        side=side, agg=agg, bucket_width=3, out_col="cand",
    ).collect()
    want = {}
    for c, s, _, i, _, _ in placed:
        vals = [
            e for c2, s2, e, i2, _, _ in placed
            if c2 == c and i2 % 2 == 0 and (s2 >= s if side == "ge" else s2 <= s)
        ]
        want[i] = (min(vals) if agg == "min" else max(vals)) if vals else None
    assert {r.idx: r.cand for r in got} == want

    # the island scan: bucketed == single-window (NULL Start dropped by both)
    def islands(width):
        out = assign_islands(df, ["Chromosome"], bucket_width=width, tiebreak=["idx"])
        members = {}
        for r in out.collect():
            members.setdefault((r.Chromosome, r["__island__"]), set()).add(r.idx)
        return sorted(map(sorted, members.values()))

    assert islands(3) == islands(None)

    # nearest_distance: even rows vs odd rows; a NULL key or coordinate is
    # nobody's neighbor (nearest_ranges' rank scans read the same
    # _valid_rows input; test_setops_and_coverage checks them)
    a, b = (GenomicRanges(df.filter(F.col("idx") % 2 == odd)) for odd in (0, 1))
    want = {}
    for c, s, e, i, _, _ in placed:
        if i % 2 or c is None:
            continue
        ds = [
            0 if max(s, s2) < min(e, e2) else max(s, s2) - min(e, e2) + 1
            for c2, s2, e2, i2, _, _ in placed
            if i2 % 2 and c2 == c
        ]
        if ds:
            want[i] = min(ds)
    assert {r.idx: r.Distance for r in a.nearest_distance(b, bin_size=3).df.collect()} == want

    # fdr's rank: p from Start; a NULL p is not a test
    pdf = df.select("idx", ((F.col("Start") + 10) / 40).alias("PValue"))
    got = {r.idx: r.FDR for r in fdr(pdf).collect()}
    free_tracked()
    want = _brute_bh({i: (s + 10) / 40 for _, s, _, i, _, _ in placed})
    assert got.keys() == want.keys()
    assert all(abs(got[i] - want[i]) < 1e-12 for i in want)

    # hash-ordered clients: a NULL doc id has no place in the order
    keyed = sorted((_md5h(d), d, c, n) for c, _, _, _, d, n in recs if d is not None)
    packed = pack_training_examples(df, 4, tokens_col="n", bucket_bits=1).collect()
    offsets, run = {}, 0
    for _, d, _, n in keyed:
        offsets[d] = run
        run += n
    assert {r.doc_id: r.start_offset for r in packed} == offsets
    shuffled = deterministic_shuffle(df, bucket_bits=1).collect()
    assert {r.doc_id: r.shuffle_rank for r in shuffled} == {
        d: rk for rk, (_, d, _, _) in enumerate(keyed, start=1)
    }
    got = quota_sample(df, "Chromosome", 2, bucket_bits=1, out_col="rk").collect()
    want = {}
    for c in {c for _, _, c, _ in keyed}:
        grp = [d for _, d, c2, _ in keyed if c2 == c][:2]
        want.update({d: rk for rk, d in enumerate(grp, start=1)})
    assert {r.doc_id: r.rk for r in got} == want

    # sort_ranges(rank_col=): ranks number exactly the plain sort's rows
    monkeypatch.setattr(names, "DEFAULT_BIN_SIZE", 3)
    coords = ["Chromosome", "Start", "End"]
    plain = [tuple(r) for r in gr.sort_ranges(reverse=reverse).df.select(*coords).collect()]
    ranked = sorted(gr.sort_ranges(rank_col="rk", reverse=reverse).df.collect(), key=lambda r: r.rk)
    assert [r.rk for r in ranked] == list(range(1, len(recs) + 1))
    assert [tuple(r[c] for c in coords) for r in ranked] == plain
