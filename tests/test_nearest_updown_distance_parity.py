"""nearest_distance computes exactly the (self rows, Distance) projection of
nearest_ranges(k=1) for the same direction.

The registry's nearest and nearest_updown gates keep only self columns +
Distance, so they ride the distance-only plan: one fused bucketed sweep, with
no right-side rank relations, rank-explode joins or right-columns assembly
join. This parity property is the equivalence argument: per left row both
paths minimize the distance over the same candidates (forward leg, backward
leg, overlap), so the value and the kept-row set must be identical —
including the 5'-aware per-row leg mapping on stranded input ('.' routes like
'+', a NULL Strand gets only the overlap candidate), the single-direction
degrade on unstranded input, and the cross-bucket patches at a small
bin_size.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.operators.nearest import nearest_distance

_interval = st.tuples(
    st.sampled_from(["chr1", "chr2"]),
    st.integers(min_value=0, max_value=60),
    st.integers(min_value=0, max_value=25),
    st.sampled_from(["+", "-", ".", None]),
    st.integers(min_value=0, max_value=5),
)

_frame = st.lists(_interval, min_size=0, max_size=12)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _to_gr(spark, rows, with_strand=True):
    cols = ["Chromosome", "Start", "End", "Strand", "Score"]
    data = [(c, s, s + ln, st_, sc) for (c, s, ln, st_, sc) in rows]
    if not with_strand:
        cols = ["Chromosome", "Start", "End", "Score"]
        data = [(c, s, e, sc) for (c, s, e, _st, sc) in data]
    schema = ", ".join(
        f"{c} {'string' if c in ('Chromosome', 'Strand') else 'long'}" for c in cols
    )
    return GenomicRanges(spark.createDataFrame(data, schema))


def _dist_rows(df, stranded):
    # Only LEFT columns + Distance: nearest_ranges additionally appends the
    # right side's columns (un-suffixed when absent from the left frame, e.g.
    # the right Strand on an unstranded left), which the distance-only path
    # deliberately never computes.
    cols = ["Chromosome", "Start", "End", *(["Strand"] if stranded else []), "Distance"]
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@_SETTINGS
@given(
    a=_frame,
    b=_frame,
    direction=st.sampled_from(["upstream", "downstream", "any", "forward", "backward"]),
    stranded=st.booleans(),
    bin_size=st.sampled_from([3, 7, 1000]),
)
# Pinned so 'any' runs whatever the derandomized draws pick: rows on both
# sides of bucket edges, '.'/NULL strands, an empty pair at one point.
@example(
    a=[("chr1", 2, 3, "+", 0), ("chr1", 10, 0, ".", 1), ("chr1", 20, 4, None, 2)],
    b=[("chr1", 0, 1, "-", 0), ("chr1", 10, 0, "+", 0), ("chr1", 13, 2, "+", 0)],
    direction="any",
    stranded=True,
    bin_size=3,
)
def test_nearest_updown_distance_parity(spark, a, b, direction, stranded, bin_size):
    ga = _to_gr(spark, a, with_strand=stranded)
    gb = _to_gr(spark, b)
    full = ga.nearest_ranges(
        gb, direction=direction, k=1, strand_behavior="ignore", dist_col="Distance",
        bin_size=bin_size,
    ).df
    fast = nearest_distance(
        ga, gb, direction=direction, strand_behavior="ignore", dist_col="Distance",
        bin_size=bin_size,
    ).df
    assert _dist_rows(fast, stranded) == _dist_rows(full, stranded)
