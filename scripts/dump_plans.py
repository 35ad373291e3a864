"""Dump .explain("formatted") for queries() entries to <out_dir>/<q>_<tag>.txt.

Usage: python scripts/dump_plans.py <out_dir> <tag> [query ...]

Builds each query's DataFrame against $SPARK_GRAFT_SF_DIR (default sf0.1)
under the SAME session configuration bench.py uses, so the committed plan
text is the plan the bench actually runs. No job is executed — explain only
(plus whatever tiny actions the query builder itself performs, e.g. head()
for literal parameters).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    out_dir, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("plan-dump")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(out_dir, exist_ok=True)

    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR building {name}: {e}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
