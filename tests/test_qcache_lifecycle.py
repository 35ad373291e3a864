"""r16 (VERDICT r15 #1): persisted/checkpointed in-query intermediates must be
releasable by the consumer — the session's persistent-RDD count returns to its
baseline after ``free_query_caches()``.

The r15 comments claimed ContextCleaner reclaims persisted blocks when the
plan is dropped; it does not (CacheManager holds the canonicalized plan
strongly until unpersist), so each site now registers with plans/qcache.py and
the caller frees. These tests drive each cache-bearing operator family through
a real materialization and assert the blocks are actually gone.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import pyranges_1_x_spark as pr
from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.plans import qcache


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _intervals(spark, n=200, seed=7):
    df = spark.range(n).select(
        F.concat(F.lit("chr"), (F.col("id") % 3 + 1)).alias("Chromosome"),
        (F.xxhash64(F.col("id") + seed) % 10_000).alias("Start"),
    )
    df = df.withColumn("Start", F.abs(F.col("Start")))
    df = df.withColumn("End", F.col("Start") + (F.col("Start") % 97) + 1)
    df = df.withColumn(
        "Strand", F.when(F.col("Start") % 2 == 0, "+").otherwise("-")
    ).withColumn("Score", (F.col("Start") % 13).cast("double"))
    return GenomicRanges(df)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_free_tracked_returns_to_baseline_per_consumer(spark):
    """Every cache-bearing operator family: materialize -> free -> baseline."""
    pr.free_query_caches()  # drain anything a prior test left behind
    baseline = _n_persistent_rdds(spark)
    a = _intervals(spark, 300, seed=7)
    b = _intervals(spark, 150, seed=23)

    consumers = {
        # depth_runs persist (plans/sweep.py)
        "coverage": lambda: a.to_coverage(use_strand=False).df,
        # nearest_ranges stable-id persists (nearest.py)
        "nearest_ranges": lambda: a.nearest_ranges(b).df,
        # fdr lazy localCheckpoint (functions/stats.py)
        "fdr": lambda: pr.stats.fdr(
            spark.range(500).select((F.col("id") / 500.0).alias("PValue"))
        ),
    }
    for name, build in consumers.items():
        _noop(build())
        assert qcache.tracked_count() > 0, f"{name}: nothing was tracked"
        freed = pr.free_query_caches()
        assert freed > 0, f"{name}: free released nothing"
        assert _n_persistent_rdds(spark) == baseline, (
            f"{name}: persistent RDDs leaked past free_query_caches"
        )
        assert qcache.tracked_count() == 0

    # nearest_distance is one sweep over a single points relation: it
    # persists nothing, so there is nothing to free.
    _noop(a.nearest_distance(b).df)
    assert qcache.tracked_count() == 0
    assert _n_persistent_rdds(spark) == baseline


def test_free_tracked_is_idempotent_and_safe_before_materialization(spark):
    pr.free_query_caches()
    baseline = _n_persistent_rdds(spark)
    a = _intervals(spark, 100)
    # Build a persist-bearing plan but never run it: free must not error and
    # must still drain the registry.
    a.to_coverage(use_strand=False)
    assert qcache.tracked_count() > 0
    pr.free_query_caches()
    assert qcache.tracked_count() == 0
    pr.free_query_caches()  # second call: registry empty, still fine
    assert _n_persistent_rdds(spark) == baseline


def test_mcc_frees_its_checkpoint_in_function(spark):
    """mcc collects everything internally — no blocks may survive the call."""
    pr.free_query_caches()
    baseline = _n_persistent_rdds(spark)
    a = _intervals(spark, 120, seed=3)
    b = _intervals(spark, 120, seed=5)
    from pyranges_1_x_spark.functions.stats import mcc

    out = mcc({"A": a, "B": b}, genome_length=1_000_000)
    assert len(out) >= 3
    pr.free_query_caches()  # belt: registry entries (none expected from mcc)
    assert _n_persistent_rdds(spark) == baseline


def test_connected_components_rotation_and_final_free(spark):
    """Distributed CC (edge count above the driver threshold): superseded
    round checkpoints are rotated in-loop, the final one frees on demand."""
    pr.free_query_caches()
    baseline = _n_persistent_rdds(spark)
    from pyranges_1_x_spark.ml.dedup import connected_components

    # A long path graph forces >1 round; driver_threshold=0 forces the
    # distributed path.
    edges = spark.range(64).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels = connected_components(edges, "src", "dst", driver_threshold=0)
    assert labels.agg(F.countDistinct("component")).first()[0] == 1
    pr.free_query_caches()
    assert _n_persistent_rdds(spark) == baseline
