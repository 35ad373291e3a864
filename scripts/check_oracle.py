"""Local stand-in for the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB, compare row-count + schema + order-
insensitive values (sorted columns, sorted rows).

Usage: python scripts/check_oracle.py [--max-seconds-per-query N] [sf_dir] [query ...]

``--max-seconds-per-query`` makes a slow query a loud local FAILURE instead of
a silent driver starvation (VERDICT r3: one >12-min query turned the whole
CORRECTNESS file into ``{}``). The Spark materialization runs on a worker
thread with a wall-clock budget; on timeout the job group is cancelled, any
active stream is stopped, and the query is reported FAIL with its elapsed time.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")


def _cell_repr(v) -> str:
    """Canonical per-cell string, dtype-faithful: 123 (int) != 123.0 (float),
    matching the driver's exact value-hash (CORRECTNESS_r01 proved its hash
    distinguishes DuckDB DOUBLE from Spark BIGINT even when values are equal)."""
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell_repr(x) for x in v) + "]"
    if v is None or v != v:  # None or NaN (scalar-only test; arrays handled above)
        return "\x00null"
    if isinstance(v, float):
        return repr(v)  # keeps the ".0" — a float 123.0 must NOT equal int 123
    return str(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted-columns, sorted-rows frame of canonical cell strings.

    Exact and dtype-sensitive at the value level — strictly as strong as the
    driver's value-hash gate (no rtol, no check_dtype=False laxity)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = [_cell_repr(v) for v in df[c].tolist()]
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-seconds-per-query", type=float, default=None)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("only", nargs="*")
    args = ap.parse_args()
    sf_dir, only, budget = args.sf_dir, set(args.only), args.max_seconds_per_query

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    import os

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # The default 1g heap OOMed a >80-query session (r6: the JVM died at
        # query ~27 and every later row cascade-failed) — local mode hosts
        # the executors in the driver JVM, so size it like one.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    pool = concurrent.futures.ThreadPoolExecutor(max_workers=1)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            if budget:
                spark.sparkContext.setJobGroup(name, name, interruptOnCancel=True)
                fut = pool.submit(lambda: fn(spark, sf_dir).toPandas())
                try:
                    got = fut.result(timeout=budget)
                except concurrent.futures.TimeoutError:
                    spark.sparkContext.cancelJobGroup(name)
                    # A job-group cancel does not stop a stream's micro-batches.
                    for q in spark.streams.active:
                        q.stop()
                    print(f"FAIL {name}: exceeded {budget:.0f}s budget (driver-starver)")
                    failures.append(name)
                    fut.cancel()
                    continue
            else:
                got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        # Drop per-query residue (cached relations, finished broadcasts)
        # so an 80-query session's heap stays flat; a query under test must
        # not depend on cache surviving past its own materialization.
        # r16: free_query_caches additionally drops localCheckpoint blocks
        # (clearCache only touches CacheManager entries) and drains the
        # tracked-cache registry.
        import pyranges_1_x_spark as _pr

        _pr.free_query_caches()
        spark.catalog.clearCache()
        import gc as _gc

        _gc.collect()
        if name not in oracles:
            print(f"ok?  {name}: rows={len(got)} (no oracle, rows-only) [{t_spark:.1f}s]")
            continue
        t0 = time.time()
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        t_duck = time.time() - t0
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            failures.append(name)
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rowcount {len(got)} vs {len(exp)}")
            failures.append(name)
            continue
        g, e = normalize(got), normalize(exp)
        try:
            pd.testing.assert_frame_equal(g, e, check_exact=True)
            print(f"PASS {name}: rows={len(got)} [spark {t_spark:.1f}s, duckdb {t_duck:.1f}s]")
        except AssertionError as ex:
            print(f"FAIL {name}: values differ: {str(ex)[:400]}")
            failures.append(name)

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nALL PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
