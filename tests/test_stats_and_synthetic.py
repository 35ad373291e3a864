"""simes/mcc/rowbased stats + random/from_string/empty generators."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pyranges_1_x_spark import empty, from_string, random
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.functions.stats import (
    mcc,
    rowbased_pearson,
    rowbased_rankdata,
    rowbased_spearman,
    simes,
)


def test_simes_doctest(spark):
    # Reference ext/stats.py simes doctest: P53 -> 3e-4, FOX -> 3e-7.
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "Chromosome": ["1", "1", "1", "2", "2", "2"],
                "Start": [10, 20, 30, 60, 70, 80],
                "End": [20, 35, 40, 65, 75, 90],
                "Strand": ["+", "+", "+", "-", "-", "-"],
                "Gene": ["P53", "P53", "P53", "FOX", "FOX", "FOX"],
                "PValue": [0.0001, 0.0002, 0.0003, 0.05, 1e-07, 2.1e-06],
            }
        )
    )
    out = {r.Gene: r.Simes for r in simes(df, "Gene", "PValue").collect()}
    assert out["P53"] == pytest.approx(3e-4)
    assert out["FOX"] == pytest.approx(3e-7)
    pos = {r.Gene: r for r in simes(df, "Gene", "PValue", keep_position=True).collect()}
    assert (pos["FOX"].Start, pos["FOX"].End, pos["FOX"].Strand) == (60, 90, "-")
    assert (pos["P53"].Start, pos["P53"].End) == (10, 40)


def test_rowbased_correlations(spark):
    # Reference ext/stats.py doctests: spearman [-0.5, 0.5, -1.0].
    df = spark.createDataFrame(
        [([7.0, 2.0, 9.0], [5.0, 3.0, 2.0]),
         ([3.0, 6.0, 0.0], [9.0, 6.0, 0.0]),
         ([0.0, 6.0, 3.0], [7.0, 3.0, 5.0])],
        "x array<double>, y array<double>",
    )
    sp = [r[0] for r in df.select(rowbased_spearman("x", "y")).collect()]
    assert sp == pytest.approx([-0.5, 0.5, -1.0])
    rk = df.select(rowbased_rankdata("x").alias("r")).collect()[0][0]
    assert rk == [2.0, 1.0, 3.0]
    # pearson of y=x is 1
    pe = [r[0] for r in df.select(rowbased_pearson("x", "x")).collect()]
    assert pe == pytest.approx([1.0, 1.0, 1.0])
    # ties get averaged ranks
    t = spark.createDataFrame([([1.0, 1.0, 2.0],)], "x array<double>")
    assert t.select(rowbased_rankdata("x")).collect()[0][0] == [1.5, 1.5, 3.0]


def test_mcc_self_and_disjoint(spark):
    def gr(starts, ends):
        return GenomicRanges(
            spark.createDataFrame(
                pd.DataFrame({"Chromosome": "1", "Start": starts, "End": ends})
            )
        )

    a = gr([0, 100], [50, 150])       # len 100
    b = gr([0], [50])                 # len 50, wholly inside a
    out = mcc({"a": a, "b": b}, genome_length=1000)
    rows = {(r.T, r.F): r for r in out.itertuples()}
    assert rows[("a", "a")].MCC == 1.0 and rows[("a", "a")].TP == 100
    ab = rows[("a", "b")]
    assert (ab.TP, ab.FP, ab.FN, ab.TN) == (50, 0, 50, 900)
    expected = (50 * 900 - 0) / math.sqrt(50 * 100 * 950 * 900)
    assert ab.MCC == pytest.approx(expected)
    ba = rows[("b", "a")]
    assert (ba.TP, ba.FP, ba.FN) == (50, 50, 0)


def test_random_generator(spark):
    sizes = {"chr1": 10_000, "chr2": 1_000}
    g = random(spark, n=500, length=100, chromsizes=sizes, seed=42)
    pdf = g.df.toPandas()
    assert len(pdf) == 500
    assert set(pdf.Chromosome) <= {"chr1", "chr2"}
    assert ((pdf.End - pdf.Start) == 100).all()
    assert (pdf.Start >= 0).all()
    for chrom, size in sizes.items():
        sub = pdf[pdf.Chromosome == chrom]
        assert (sub.End <= size).all()
    # proportional pick: chr1 is 10x chr2
    frac = (pdf.Chromosome == "chr1").mean()
    assert 0.8 < frac < 0.98
    assert set(pdf.Strand) <= {"+", "-"}


def test_from_string_and_empty(spark):
    s = """Chromosome Start End Strand
chr1 10 20 +
chr2 30 40 -"""
    g = from_string(spark, s)
    assert isinstance(g, GenomicRanges)
    assert g.df.count() == 2
    e = empty(spark, strand=True)
    assert e.df.columns == ["Chromosome", "Start", "End", "Strand"]
    assert e.df.count() == 0


def test_example_data(spark):
    from pyranges_1_x_spark.sources import example_data as ed

    assert ed.f1(spark).df.count() == 3
    assert ed.f2(spark).df.count() == 2
    cs = ed.chromsizes(spark).df.toPandas()
    assert len(cs) == 25 and (cs.Start == 0).all()
    # random() accepts the dict form directly
    g = random(spark, n=50, length=10, chromsizes=ed.chromsizes_dict(), seed=7)
    assert g.df.count() == 50


def test_example_data_packaged_fixtures(spark):
    """The packaged parquet corpus mirrors the reference's ExampleData
    properties (example_data.py:138-345): row counts and schemas from its
    doctests / data files."""
    from pyranges_1_x_spark.sources import example_data as ed

    chip = ed.chipseq(spark).df.toPandas()
    assert len(chip) == 20
    assert list(chip.columns) == ["Chromosome", "Start", "End", "Name", "Score", "Strand"]
    assert (chip.Name == "U0").all()
    assert len(ed.chipseq_background(spark).df.toPandas()) == 10
    aorta = ed.aorta(spark).df.toPandas()
    assert set(aorta.Name) <= {"H3K27me3"} and aorta.Start.min() >= 9000
    assert len(ed.aorta2(spark).df.toPandas()) > 0

    gtf = ed.ensembl_gtf(spark).df.toPandas()
    # read_gtf semantics: 0-based Start (doctest row: gene at 1-based 11869)
    gene = gtf[gtf.Feature == "gene"].iloc[0]
    assert gene.Start == 11868 and gene.End == 14409
    assert "gene_id" in gtf.columns and "transcript_id" in gtf.columns

    gff = ed.ncbi_gff(spark).df.toPandas()
    assert len(gff) == 150 and "Feature" in gff.columns

    fa = ed.ncbi_fasta(spark).toPandas()
    assert list(fa.columns) == ["Chromosome", "Sequence"] and len(fa) == 6

    ip = ed.interpro_hits(spark).df.toPandas()
    assert len(ip) == 4 and ip.Start.min() == 0  # reference shifts to 0-based
    rf = ed.rfam_hits(spark).toPandas()
    assert len(rf) == 35 and "seq_from" in rf.columns

    fl = ed.files()
    assert "chipseq.parquet" in fl and fl["chipseq.parquet"].exists()


def test_to_csv_and_writer_methods(spark, tmp_path):
    """PyRanges.to_csv parity (reference core/out.py:111-141): path mode
    writes distributed CSV, no-path mode returns the text."""
    from pyranges_1_x_spark.sources import example_data as ed

    g = ed.f1(spark)
    txt = g.to_csv()
    lines = [ln for ln in txt.strip().split("\n") if ln]
    assert lines[0] == "Chromosome,Start,End,Name,Score,Strand"
    assert len(lines) == 4  # header + 3 rows
    assert any("interval2" in ln for ln in lines)
    # custom sep, no header
    txt2 = g.to_csv(sep="\t", header=False)
    assert txt2.count("\t") >= 3 * 5 and "Chromosome" not in txt2

    out = str(tmp_path / "f1_csv")
    assert g.to_csv(out, sep="\t") is None
    back = spark.read.csv(out, sep="\t", header=True)
    assert back.count() == 3

    bed_out = str(tmp_path / "f1_bed")
    g.to_bed(bed_out)
    assert spark.read.csv(bed_out, sep="\t").count() == 3


def test_loci_setitem(spark):
    """gr.loci[key] = value sugar (reference loci_getter.py:56-59;
    pyranges_main.py:343 doctest: replace the chr2 rows with a same-sized
    frame whose Chromosome was reassigned)."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges

    pdf = pd.DataFrame(
        {
            "Chromosome": ["chr1", "chr2"],
            "Start": [1, 2],
            "End": [4, 5],
            "Strand": [".", "+"],
            "Score": [10, 12],
            "Id": ["a", "b"],
        }
    )
    from pyspark.sql import functions as F

    g = GenomicRanges(spark.createDataFrame(pdf))
    g.loci["chr2"] = g.loci["chr2"].df.withColumn("Chromosome", F.lit("xxx"))
    out = g.df.toPandas().sort_values("Start").reset_index(drop=True)
    assert out.Chromosome.tolist() == ["chr1", "xxx"]
    assert out.Id.tolist() == ["a", "b"]

    # dict form delegates to assign: set Score on chr1 rows only
    g.loci["chr1"] = {"Score": 100}
    out = g.df.toPandas().sort_values("Start").reset_index(drop=True)
    assert out.Score.tolist() == [100, 12]

    import pytest

    with pytest.raises(TypeError):
        g.loci["chr1"] = 5


def test_fisher_exact_vs_exact_rational_oracle(spark):
    """fisher_exact (scipy-free log-gamma kernel) vs exact fractions.Fraction
    hypergeometric sums, plus the reference doctest goldens (ext/stats.py:174-246)."""
    import random
    from fractions import Fraction
    from math import comb

    import pandas as pd

    from pyranges_1_x_spark.functions.stats import fisher_exact

    def exact(tp, fp, fn, tn):
        m, r1, c1 = tp + fp + fn + tn, tp + fp, tp + fn
        lo, hi = max(0, r1 + c1 - m), min(r1, c1)
        tot = comb(m, c1)
        pmf = {k: Fraction(comb(r1, k) * comb(m - r1, c1 - k), tot) for k in range(lo, hi + 1)}
        obs = pmf[tp]
        left = sum(v for k, v in pmf.items() if k <= tp)
        right = sum(v for k, v in pmf.items() if k >= tp)
        two = sum(v for v in pmf.values() if v <= obs * Fraction(10000001, 10000000))
        return float(two), float(left), float(right)

    rng = random.Random(5)
    rows = [(12, 5, 29, 2), (0, 12, 10, 2), (0, 0, 0, 5), (7, 0, 0, 7)] + [
        tuple(rng.randrange(0, 40) for _ in range(4)) for _ in range(12)
    ]
    pdf = pd.DataFrame(rows, columns=["TP", "FP", "FN", "TN"])
    out = fisher_exact(spark.createDataFrame(pdf), "TP", "FP", "FN", "TN").toPandas()
    for _, r in out.iterrows():
        two, left, right = exact(int(r.TP), int(r.FP), int(r.FN), int(r.TN))
        assert abs(r.P - two) < 1e-9, (r.to_dict(), two)
        assert abs(r.PLeft - left) < 1e-9
        assert abs(r.PRight - right) < 1e-9
    # reference doctest printed values (positional (tp,fp,fn,tn)=(12,5,29,2))
    g = out.iloc[0]
    assert (round(g.P, 6), round(g.PLeft, 6), round(g.PRight, 6)) == (0.080269, 0.044555, 0.994525)


def test_spearman_rows_matches_column_form(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.functions.stats import rowbased_spearman, spearman_rows

    df = spark.createDataFrame(
        [(1, [1.0, 5.0, 3.0, 3.0]), (2, [2.0, 2.0, 2.0, 9.0]), (3, [0.5, -1.0, 4.0, 2.0])],
        "vec_id long, x array<double>",
    )
    col_form = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id", rowbased_spearman(F.col("x"), F.reverse(F.col("x"))).alias("s")
        ).collect()
    }
    row_form = {
        r.vec_id: r.spearman
        for r in spearman_rows(df, "vec_id", F.col("x"), F.reverse(F.col("x"))).collect()
    }
    assert set(col_form) == set(row_form)
    for k in col_form:
        assert abs(col_form[k] - row_form[k]) < 1e-12


def test_fdr_benjamini_hochberg(spark):
    from pyranges_1_x_spark.functions.stats import fdr

    ps = [0.01, 0.02, 0.03, 0.5, 0.04, 0.9, 0.001, 0.04]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(ps)], "i long, PValue double")
    got = {r.i: r.FDR for r in fdr(df).collect()}

    # reference BH computed by hand: sort p asc, raw = p*n/rank, suffix min
    n = len(ps)
    order = sorted(range(n), key=lambda i: ps[i])
    raw = [ps[i] * n / (k + 1) for k, i in enumerate(order)]
    run = raw[:]
    for k in range(n - 2, -1, -1):
        run[k] = min(run[k], run[k + 1])
    expect = {i: min(run[k], 1.0) for k, i in enumerate(order)}
    for i in range(n):
        assert abs(got[i] - expect[i]) < 1e-12, (i, got[i], expect[i])


def test_fdr_null_pvalue_is_not_a_test(spark):
    """A NULL p-value counts in neither n nor the ranks: the other nine get
    the FDR of the nine-test family (it used to shift every FDR)."""
    from pyranges_1_x_spark.functions.stats import fdr

    ps = [0.05 * (i + 1) for i in range(9)] + [None]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(ps)], "i long, PValue double")
    got = {r.i: r.FDR for r in fdr(df).collect()}
    assert set(got) == set(range(9))
    for i in range(9):
        assert abs(got[i] - 0.45) < 1e-12, (i, got[i])


def test_jaccard_forbes_null_chromosome_matches_set_intersect(spark):
    """A NULL Chromosome in both frames matches nothing: the one-sweep
    jaccard/forbes intersection equals set_intersect_overlaps' length (it
    used to count the two NULL-Chromosome rows as one shared group)."""
    from pyranges_1_x_spark.functions.stats import forbes_statistic, jaccard_statistic

    df = spark.createDataFrame(
        [("chr1", 0, 10), (None, 0, 10)], "Chromosome string, Start long, End long"
    )
    a = b = GenomicRanges(df)
    inter = a.set_intersect_overlaps(b).df.toPandas()
    assert (inter.End - inter.Start).sum() == 10
    row = jaccard_statistic(a, b).collect()[0]
    assert (row["intersection_length"], row["union_length"]) == (10, 10)
    assert forbes_statistic(a, b, 100).collect()[0]["forbes"] == 10.0


def test_mcc_aorta_reference_doctest(spark):
    """Golden parity with the reference's mcc doctest (ext/stats.py:276-289):
    labels a=aorta, b=aorta, c=aorta2, genome length 2,100,000 — exact
    TP/FP/TN/FN integers and MCC to the printed 5 decimals."""
    from pyranges_1_x_spark.functions.stats import mcc
    from pyranges_1_x_spark.sources.example_data import aorta, aorta2

    out = mcc(
        {"a": aorta(spark), "b": aorta(spark), "c": aorta2(spark)},
        genome_length=2_100_000,
    )
    got = {
        (r.T, r.F): (r.TP, r.FP, r.TN, r.FN, round(r.MCC, 5))
        for r in out.itertuples()
    }
    expected = {
        ("a", "a"): (728, 0, 2099272, 0, 1.0),
        ("a", "b"): (728, 0, 2099272, 0, 1.0),
        ("a", "c"): (457, 485, 2098787, 271, 0.55168),
        ("b", "a"): (728, 0, 2099272, 0, 1.0),
        ("b", "b"): (728, 0, 2099272, 0, 1.0),
        ("b", "c"): (457, 485, 2098787, 271, 0.55168),
        ("c", "a"): (457, 271, 2098787, 485, 0.55168),
        ("c", "b"): (457, 271, 2098787, 485, 0.55168),
        ("c", "c"): (942, 0, 2099058, 0, 1.0),
    }
    assert got == expected


def test_jaccard_f1_f2_reference_doctest(spark):
    """Golden parity with the reference's jaccard doctest
    (ext/stats.py:779-782): f1 vs f2 under auto (-> same-strand) behavior
    gives 1/7; its |A|+|B|-|A∩B| denominator equals this engine's merged
    set-union length by inclusion-exclusion on point sets. The unstranded
    variant is 1/6 (checked too, against hand-merged lengths)."""
    from pyranges_1_x_spark.functions.stats import jaccard_statistic
    from pyranges_1_x_spark.sources.example_data import f1, f2

    row = jaccard_statistic(f1(spark), f2(spark), strand_behavior="same").collect()[0]
    assert abs(row["jaccard"] - 0.14285714285714285) < 1e-12
    assert (row["intersection_length"], row["union_length"]) == (1, 7)
    row2 = jaccard_statistic(f1(spark), f2(spark), strand_behavior="ignore").collect()[0]
    assert (row2["intersection_length"], row2["union_length"]) == (1, 6)


def test_combine_interval_columns_full_surface(spark):
    """Reference combine_interval_columns (pyranges_main.py:5572-5604):
    string modes, a callable on the four coordinate columns, custom column
    names, and drop_old_columns=False."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.core import GenomicRanges

    d = pd.DataFrame(
        {
            "Chromosome": ["chr1", "chr1"],
            "Start": [10, 50],
            "End": [20, 60],
            "Start_b": [15, 40],
            "End_b": [25, 55],
        }
    )
    g = GenomicRanges(spark.createDataFrame(d))

    def rows(r):
        return sorted(map(tuple, r.df.select("Start", "End").toPandas().values))

    assert rows(g.combine_interval_columns("intersect")) == [(15, 20), (50, 55)]
    assert rows(g.combine_interval_columns("union")) == [(10, 25), (40, 60)]
    assert rows(g.combine_interval_columns("swap")) == [(15, 25), (40, 55)]
    # legacy spelling still works
    assert rows(g.combine_interval_columns(how="union")) == [(10, 25), (40, 60)]
    # callable: midpoint-to-midpoint
    mid = g.combine_interval_columns(
        lambda s, e, s2, e2: ((s + e) / 2, (s2 + e2) / 2)
    )
    # midpoints: row1 (15, 20); row2 (55, 47) — applied verbatim, like the
    # reference, even when the result is not a valid interval
    assert rows(mid) == [(15, 20), (55, 47)]
    # keep the old columns
    kept = g.combine_interval_columns("intersect", drop_old_columns=False)
    assert "Start_b" in kept.df.columns and "End_b" in kept.df.columns
