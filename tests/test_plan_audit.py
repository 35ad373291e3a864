"""The plan-audit's window adjudication is automated (r12, VERDICT r11
#8): a GLOBAL (unpartitioned) Window is a HARD flag unless its child
SUBTREE contains a partial/final aggregate or a limit-class operator that
bounds its input (summary relations, top-k candidates). Previously this
was an eyeballed prose note; a future full-relation global window must
fail the audit loudly. Chromosome-partitioned full-relation windows stay
the listed informational class (per-chromosome scans are sequential by
the islands contract)."""

from __future__ import annotations

import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, "scripts")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_audit_flags_unaggregated_narrow_windows(spark):
    from plan_audit import audit_plan

    df = (
        spark.range(1000)
        .withColumn("Chromosome", F.expr("concat('chr', id % 5)"))
        .withColumn("x", F.col("id") * 7 % 100)
    )

    # full-relation GLOBAL window: the synthetic failure case of the done
    # criterion — must exit-1-flag. (sum() over an unbounded frame, so the
    # optimizer cannot insert a WindowGroupLimit the way it does for a
    # rank-filter.)
    flags, _ = audit_plan(
        _plan(df.withColumn("r", F.sum("x").over(Window.orderBy("x"))))
    )
    assert "UnboundedGlobalWindow" in flags

    # full-relation window partitioned by Chromosome only: the listed
    # informational class (per-chromosome sequential scans are the islands
    # contract), NOT a hard flag
    flags, notes = audit_plan(
        _plan(df.withColumn("r", F.sum("x").over(Window.partitionBy("Chromosome").orderBy("x"))))
    )
    assert not flags
    assert any("chromosome-partitioned-window" in n for n in notes)

    # global window OVER an aggregate (the two-phase planners' bucket
    # summary shape): bounded by construction — note, not flag
    agg = df.groupBy("Chromosome").agg(F.count("*").alias("n"))
    flags, notes = audit_plan(_plan(agg.withColumn("r", F.sum("n").over(Window.orderBy("n")))))
    assert not flags
    assert any("global-window-over-bounded-input" in n for n in notes)

    # high-cardinality partition key: not narrow, untouched
    flags, notes = audit_plan(
        _plan(df.withColumn("r", F.sum("x").over(Window.partitionBy("id").orderBy("x"))))
    )
    assert not flags and not notes

    # an aggregate in the OTHER branch of a join must not excuse a global
    # window (the subtree walk is indentation-bounded, not text-below)
    left = df.withColumn("r", F.sum("x").over(Window.orderBy("x")))
    right = df.groupBy("Chromosome").agg(F.count("*").alias("n"))
    flags, _ = audit_plan(_plan(left.join(right, "Chromosome")))
    assert "UnboundedGlobalWindow" in flags

    # an aggregate in one branch of a join BELOW the window must not
    # excuse the other, unbounded branch (r12 review: `any(agg in
    # subtree)` passed this shape): full_relation JOIN summary -> global
    # window is still a single-partition sort of the full relation
    joined = df.join(right, "Chromosome")
    flags, _ = audit_plan(
        _plan(joined.withColumn("r", F.sum("x").over(Window.orderBy("x"))))
    )
    assert "UnboundedGlobalWindow" in flags
    # while agg JOIN agg -> global window is bounded on every branch
    right2 = df.groupBy("Chromosome").agg(F.max("x").alias("m"))
    bothagg = right.join(right2, "Chromosome")
    flags, notes = audit_plan(
        _plan(bothagg.withColumn("r", F.sum("n").over(Window.orderBy("n"))))
    )
    assert not flags
    assert any("global-window-over-bounded-input" in n for n in notes)


def test_repeated_spans_gram_stage_compiles_on_every_slot(spark):
    """repeated_substring_spans hashes its grams without a higher-order
    lambda (CodegenFallback, interpreted) and spreads the documents over
    every task slot before the first explode: one user-numbered doc_id
    repartition, exempt from AQE coalescing, below the first Generate."""
    import re

    from pyranges_1_x_spark.ml.dedup import repeated_substring_spans

    docs = spark.createDataFrame(
        [(i, f"doc {i} shares this boilerplate sentence, then {i * 31} ends")
         for i in range(20)],
        "doc_id long, text string",
    )
    df = repeated_substring_spans(docs, min_len=20)
    assert df.collect()  # the executed plan: AQE's final plan, exchanges reused
    plan = _plan(df)
    assert "lambdafunction" not in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    lines = final.splitlines()
    gen = next(i for i, ln in enumerate(lines) if "Generate " in ln)
    nparts = spark.sparkContext.defaultParallelism
    rep = [
        i for i, ln in enumerate(lines)
        if re.search(
            rf"Exchange hashpartitioning\(doc_id#\d+L?, {nparts}\), REPARTITION_BY_NUM", ln
        )
    ]
    assert len(rep) == 1, plan
    indent = len(lines[gen]) - len(lines[gen].lstrip(" :+-"))
    assert rep[0] > gen
    assert len(lines[rep[0]]) - len(lines[rep[0]].lstrip(" :+-")) > indent
