"""Benchmark of the spark-ranges registry queries in fixed mixes.

    python3 perfbench/run.py --workload sweep_islands --seed 1 --seconds 20 --trace 0

One process, one client thread, ``local[min(2, nproc)]``. Set-up runs from
process start to the first timed pass: the JVM and SparkSession start, the
first untimed pass loads and persists the fixtures, and ``WARMUP_PASSES``
(or the workload's own ``warmup_passes``) more untimed passes let the JIT
settle; every one checks every fingerprint.
Then the run makes timed passes until ``--seconds`` have gone by, and at
least ``MIN_PASSES``. A pass runs every query of the mix once, in an order
permuted by ``--seed``. Each query is
built, materialized with a noop sink while an Observation takes its
fingerprint, and released with ``free_query_caches()``.

``--trace 1`` alternates traced and untraced passes. Traced passes read each
query's Spark jobs and stages from the status store right after the query,
write a span file, and give the per-layer metrics. The difference between
the two pass medians is the tracing overhead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A run record with loadavg, Spark config and
every pass and query wall goes to ``perfbench/out/``. All scratch files
(TMPDIR, Spark local dirs, warehouse) live under ``perfbench/.work/`` and
are removed at exit.
"""

from __future__ import annotations

import time

# Set-up is timed from here, before any heavy import.
T_PROCESS = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from tracing import MB, QueryTrace, Spans, StatusStore, dir_bytes, self_times  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(HERE, "workloads.json")) as _f:
    SPEC = json.load(_f)
PINS_PATH = os.path.join(HERE, "fingerprints.json")

# After the cold first pass, which loads and persists the fixtures and
# compiles the plans, pass walls still fall for a few passes while the JIT
# compiles (sf0.1, 4 vCPUs: the first pass after it ran 25-40% over the
# later ones). WARMUP_PASSES more untimed passes keep the steepest part of
# that out of the timed passes, and their median (over at least MIN_PASSES)
# absorbs the rest. A workload whose fall lasts longer sets its own
# "warmup_passes" in workloads.json. More untimed passes would not fit the
# run budget (4 + 22 runs per workload within 3420 s).
WARMUP_PASSES = 1
MIN_PASSES = 3
TRACE_MIN_PASSES = 2
# Two task slots on a 4-vCPU shared host: the driver's Python process, the
# Py4J and scheduler threads, the JIT and GC need cores too. With four slots
# the same code gave pass_s 4.5-6.7 s across interleaved runs (IQR 37% of the
# median), with two 5.1-5.7 s (6%).
SLOTS = min(2, len(os.sched_getaffinity(0)))
# Far below this host's 15 GiB: a run shares the machine.
DRIVER_MEMORY = "3g"
# A mix's plans compile to more generated classes than Spark's default
# 100-entry codegen cache holds, so with the default every pass recompiled
# them and left the JIT cold: pass walls drifted for a minute and more, and
# ran ~25% longer. A cache that holds them all measures the warm engine.
CODEGEN_CACHE_ENTRIES = "5000"

END_TO_END = {
    "pass_s": "s",
    "query_geomean_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}
# Per-layer metrics summed over one traced pass; the run reports their median.
LAYER_PER_PASS = {
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "spark.eager_jobs": "count",
    "qcache.tracked": "count",
    "qcache.free_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sink_gap_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "streaming.bytes_written_mb": "MB",
    "streaming.write_amp": "ratio",
}
SPAN_NAMES = ("pass", "query", "build", "sink", "free", "spark.job", "spark.stage")


def all_queries() -> list[str]:
    return sorted({q for w in SPEC["workloads"].values() for q in w["queries"]})


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_PER_PASS)
    units["spark.task_failures"] = "count"
    units.update({f"self.{s}_s": "s" for s in SPAN_NAMES})
    units["trace.overhead_s"] = "s"
    units.update({f"query.{q}_s": "s" for q in all_queries()})
    return units


class Workdir:
    """Scratch dirs of one run, inside the checkout; removed by ``close()``."""

    def __init__(self) -> None:
        self.path = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        self.warehouse = os.path.join(self.path, "warehouse")
        for d in (self.tmp, self.local, self.warehouse):
            os.makedirs(d, exist_ok=True)
        # Must precede the JVM launch: the JVM and its Python workers inherit
        # this environment, and the streaming queries stage under gettempdir().
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # Covers the launcher JVM too; no hsperfdata file under /tmp.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        sys.path.insert(0, ROOT)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(work: Workdir) -> dict[str, str]:
    return {
        "spark.master": f"local[{SLOTS}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        # A fixed heap and young generation: heap resizing during a run
        # varies resident memory and pass times from one run to the next.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn512m",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.codegen.cache.maxEntries": CODEGEN_CACHE_ENTRIES,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": work.warehouse,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        # A later session in this process then launches a fresh JVM.
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def rss_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def observe_fingerprint(df):
    """(df with an Observation attached, the Observation).

    Row count plus an order-insensitive value hash: the sum of a per-row
    xxhash64 over the columns in name order, taken as decimal so it cannot
    overflow. It is computed inside the noop-sink execution itself."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    obs = Observation("perfbench_fp")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("hash"),
    )
    return out, obs


def fingerprint_of(obs) -> dict:
    m = obs.get
    return {"rows": int(m["rows"]), "hash": str(m["hash"] or 0)}


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def data_key(data_dir: str) -> str:
    return os.path.basename(os.path.normpath(data_dir))


def input_stats(data_dir: str, tables: set[str]) -> dict[str, tuple[int, int]]:
    """table -> (rows, parquet bytes), rows from the parquet footer."""
    import pyarrow.parquet as pq

    out = {}
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        out[t] = (pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path))
    return out


def fresh_bytes(tmp: str, since: float) -> int:
    """Bytes under the top-level entries of ``tmp`` created or rewritten
    since ``since``: the staging, sink and checkpoint dirs of one query."""
    total = 0
    for e in os.scandir(tmp):
        # One second of slack for coarse file-system timestamps.
        if e.stat().st_mtime >= since - 1.0:
            total += dir_bytes(e.path) if e.is_dir() else e.stat().st_size
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs one workload's mix and keeps the record of every execution."""

    def __init__(self, mix: dict, data_dir: str, seed: int, work: Workdir, pins: dict):
        self.mix = dict(mix)
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.work = work
        self.pins = pins.get(data_key(data_dir), {})
        self.conf = spark_conf(work)
        self.spark = None
        self.spans = Spans()
        self.executions: list[dict] = []
        tables = {t for ins in self.mix.values() for i in ins for t in SPEC["inputs"][i]}
        stats = input_stats(data_dir, tables)
        # Per query: (input rows, input parquet bytes).
        self.inputs = {
            q: tuple(sum(stats[t][k] for i in ins for t in SPEC["inputs"][i]) for k in (0, 1))
            for q, ins in self.mix.items()
        }

    def execute(self, name: str, qtrace=None) -> dict:
        """Build, sink and release one query; returns its execution record."""
        import __spark_entry__ as entry
        from pyranges_1_x_spark import free_query_caches
        from pyranges_1_x_spark.plans.qcache import tracked_count

        def mark() -> int:
            """Job-id boundary between phases; taken only when traced."""
            return qtrace.store.next_job_id() if qtrace is not None else 0

        rec = {"query": name, "ok": False}
        # (time, job-id boundary) before build, sink, free and after free.
        bounds = [(time.time(), mark())]
        try:
            df = entry.queries()[name](self.spark, self.data_dir)
            bounds.append((time.time(), mark()))
            out, obs = observe_fingerprint(df)
            out.write.format("noop").mode("overwrite").save()
            bounds.append((time.time(), mark()))
            rec["fingerprint"] = fingerprint_of(obs)
            rec["ok"] = rec["fingerprint"] == self.pins.get(name)
            if not rec["ok"]:
                rec["error"] = f"fingerprint {rec['fingerprint']} != pinned {self.pins.get(name)}"
        except Exception as e:  # noqa: BLE001 — a failed execution is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            bounds += [(time.time(), mark())] * (3 - len(bounds))
        rec["tracked"] = tracked_count()
        free_query_caches()
        gc.collect()
        bounds.append((time.time(), mark()))
        (t0, _), (t1, _), (t2, _), (t3, _) = bounds
        rec.update(t0=t0, t3=t3, build_s=t1 - t0, sink_s=t2 - t1, free_s=t3 - t2, wall_s=t2 - t0)
        if qtrace is not None:
            rec["bytes_written"] = fresh_bytes(self.work.tmp, t0)
            for i, phase in enumerate(("build", "sink", "free")):
                (start, lo), (end, hi) = bounds[i], bounds[i + 1]
                qtrace.phase(phase, start, end, lo, hi)
            rec["spark"] = dict(qtrace.counts)
            rec["build_job_s"] = qtrace.job_time["build"]
            rec["sink_job_s"] = qtrace.job_time["sink"]
        if not rec["ok"]:
            print(f"perfbench: {name} failed: {rec['error']}", file=sys.stderr)
        self.executions.append(rec)
        return rec

    def run_pass(self, phase: str, store=None) -> dict:
        """Every query of the mix once, in seed-permuted order."""
        order = list(self.mix)
        self.rng.shuffle(order)
        t0 = time.time()
        pass_span = self.spans.add("pass", None, t0, t0) if store else None
        recs = []
        for name in order:
            qt = None
            if store is not None:
                qid = self.spans.add("query", pass_span, t0, t0, query=name)
                qt = QueryTrace(self.spans, store, qid)
            rec = self.execute(name, qt)
            if qt is not None:
                span = self.spans.get(qid)
                span.start, span.end = rec["t0"], rec["t3"]
            recs.append(rec)
        t1 = time.time()
        if pass_span is not None:
            self.spans.get(pass_span).end = t1
        return {"phase": phase, "traced": store is not None, "span": pass_span,
                "wall_s": t1 - t0, "order": order, "queries": recs}


def layer_metrics(runner: Runner, passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics: per-pass sums over the traced passes, then medians."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    selfs = self_times(runner.spans.items)
    root = {}
    for s in runner.spans.items:
        root[s.id] = s.id if s.parent is None else root[s.parent]
    per_pass: list[dict[str, float]] = []
    for p in traced:
        qs = p["queries"]
        sp = [q["spark"] for q in qs]
        m = {
            "operators.build_s": sum(q["build_s"] for q in qs),
            "operators.build_self_s": sum(q["build_s"] - q["build_job_s"] for q in qs),
            "spark.eager_jobs": sum(s["build_jobs"] for s in sp),
            "qcache.tracked": sum(q["tracked"] for q in qs),
            "qcache.free_s": sum(q["free_s"] for q in qs),
            "spark.sink_gap_s": sum(q["sink_s"] - q["sink_job_s"] for q in qs),
            "streaming.bytes_written_mb": sum(q["bytes_written"] for q in qs) / MB,
            "streaming.write_amp": sum(q["bytes_written"] for q in qs)
            / sum(runner.inputs[q["query"]][1] for q in qs),
        }
        for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "gc_s"):
            m[f"spark.{k}"] = sum(s[k] for s in sp)
        m["spark.core_util"] = m["spark.task_s"] / (p["wall_s"] * SLOTS)
        for name in SPAN_NAMES:
            m[f"self.{name}_s"] = sum(
                selfs[s.id] for s in runner.spans.items
                if s.name == name and root[s.id] == p["span"]
            )
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["spark.task_failures"] = sum(
        q["spark"]["task_failures"] for p in traced for q in p["queries"]
    )
    out["trace.overhead_s"] = (
        median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in untraced])
    )
    for q in all_queries():
        out[f"query.{q}_s"] = median(
            [r["wall_s"] for p in traced for r in p["queries"] if r["query"] == q]
        )
    return out


def run(args, work: Workdir, pins: dict, mix: dict | None = None) -> tuple[dict, dict, Runner]:
    """One benchmark run; returns (result line, run record, runner)."""
    load_start = os.getloadavg()
    spec = SPEC["workloads"].get(args.workload, {})
    mix = mix or spec["queries"]
    warmup = spec.get("warmup_passes", WARMUP_PASSES)
    runner = Runner(mix, args.data, args.seed, work, pins)
    runner.spark = start_session(runner.conf)
    try:
        setup_passes = [runner.run_pass("setup") for _ in range(1 + warmup)]
        setup_s = time.time() - T_PROCESS
        store = StatusStore(runner.spark.sparkContext) if args.trace else None
        passes: list[dict] = []
        t_timed = time.time()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 0
            passes.append(runner.run_pass("timed", store if traced else None))
            n_traced = sum(p["traced"] for p in passes)
            if args.trace:
                enough = min(n_traced, len(passes) - n_traced) >= TRACE_MIN_PASSES
            else:
                enough = len(passes) >= MIN_PASSES
            if enough and time.time() - t_timed >= args.seconds:
                break
        rss = {"driver": rss_hwm_mb("self"), "jvm": rss_hwm_mb(jvm_pid(runner.spark))}
    finally:
        stop_jvm(runner.spark)
    load_end = os.getloadavg()

    execs = runner.executions
    ok = sum(r["ok"] for r in execs)
    untraced = [p for p in passes if not p["traced"]]
    if args.trace:
        metrics = layer_metrics(runner, passes)
        units = per_layer_units()
    else:
        pass_s = median([p["wall_s"] for p in untraced])
        q_med = [
            median([r["wall_s"] for p in untraced for r in p["queries"] if r["query"] == q])
            for q in runner.mix
        ]
        metrics = {
            "pass_s": pass_s,
            "query_geomean_s": math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in q_med)),
            "rows_per_s": sum(runner.inputs[q][0] for q in runner.mix) / pass_s,
            "setup_s": setup_s,
            "peak_rss_mb": sum(rss.values()),
            "ok_frac": ok / len(execs),
        }
        units = END_TO_END
    result = {
        "correct": ok == len(execs),
        "attempted": len(execs),
        "failed": len(execs) - ok,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "data": args.data,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "spark_conf": runner.conf,
        "setup_s": setup_s,
        "rss_hwm_mb": rss,
        "input_rows_per_pass": sum(runner.inputs[q][0] for q in runner.mix),
        "warmup_passes": warmup,
        "timed_passes": len(passes),
        "passes": [
            {"phase": p["phase"], "traced": p["traced"], "wall_s": p["wall_s"],
             "order": p["order"],
             "queries": {r["query"]: {k: r[k] for k in ("ok", "build_s", "sink_s", "free_s")}
                         for r in p["queries"]}}
            for p in setup_passes + passes
        ],
        "errors": [r["error"] for r in execs if not r["ok"]],
        "result": result,
    }
    return result, record, runner


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=SPEC["data_dir"],
                    help="fixture directory (default: %(default)s)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind so the JVM is stopped and the scratch dirs removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no __spark_entry__.py in {ROOT}: not a source checkout",
              file=sys.stderr)
        return 2
    if not os.path.isdir(args.data):
        print(f"perfbench: fixture directory {args.data} not found", file=sys.stderr)
        return 2
    pins = load_pins()
    work = Workdir()
    try:
        result, record, runner = run(args, work, pins)
    finally:
        work.close()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        runner.spans.write(os.path.join(out_dir, f"{stem}-spans.json"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
