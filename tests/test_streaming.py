"""True Structured Streaming runs of the streaming interval operators:
file-source readStream -> memory sink -> processAllAvailable."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pandas as pd
import pytest

from pyranges_1_x_spark.core import GenomicRanges
from pyranges_1_x_spark.streaming.intervals import annotate_stream, windowed_interval_coverage

SCHEMA = "Chromosome string, Start long, End long, read_id long, ts timestamp"
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@pytest.fixture(scope="module")
def entry():
    """``__spark_entry__.py``, the query registry, loaded from the repository root."""
    path = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("entry_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def stream_dir(spark, tmp_path):
    d = str(tmp_path / "stream_in")
    pdf = pd.DataFrame(
        {
            "Chromosome": ["chr1", "chr1", "chr2", "chr1"],
            "Start": [0, 500, 100, 1500],
            "End": [100, 700, 200, 1600],
            "read_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2026-01-01 00:10", "2026-01-01 00:20", "2026-01-01 00:30", "2026-01-01 01:10"]
            ),
        }
    )
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def run_stream(spark, out_df, name):
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).toPandas()


def test_annotate_stream_is_streaming(spark, stream_dir):
    ann = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "Chromosome": ["chr1", "chr2"],
                    "Start": [50, 0],
                    "End": [600, 1000],
                    "gene": ["gA", "gB"],
                }
            )
        )
    )
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = annotate_stream(stream, ann, bin_size=256)
    assert out.isStreaming
    got = run_stream(spark, out, "annot_sink")
    # read 1 [0,100) and read 2 [500,700) overlap gA [50,600); read 3 overlaps gB; read 4 nothing
    assert sorted(zip(got.read_id, got.gene)) == [(1, "gA"), (2, "gA"), (3, "gB")]


def test_windowed_coverage_streaming(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = windowed_interval_coverage(
        stream, window_duration="1 hour", bin_size=1000, watermark="4 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cov_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("cov_sink").toPandas()
    hour0 = got[got.window_start == pd.Timestamp("2026-01-01 00:00:00")]
    # hour 0: chr1 bin0 has reads 1,2; chr2 bin0 has read 3
    counts = {(r.Chromosome, r.Start): r.n_intervals for r in hour0.itertuples()}
    assert counts == {("chr1", 0): 2, ("chr2", 0): 1}
    hour1 = got[got.window_start == pd.Timestamp("2026-01-01 01:00:00")]
    assert {(r.Chromosome, r.Start): r.n_intervals for r in hour1.itertuples()} == {("chr1", 1000): 1}


def test_batch_parity(spark, stream_dir):
    # the same plan on a batch DataFrame gives the same rows
    batch = spark.read.parquet(stream_dir)
    out = windowed_interval_coverage(batch, window_duration="1 hour", bin_size=1000)
    got = out.toPandas()
    assert got.n_intervals.sum() == 4


def test_load_events_timestamp_contract(spark, entry):
    """Guard against reader-behavior drift in the entry-point events loader
    (VERDICT r4 #1): whatever path _load_events takes (native timestamp read,
    nanosAsLong bigint, or the pyarrow fallback), the min/max of ts must equal
    what DuckDB reads from the same parquet. A unit mismatch (ns vs us) shifts
    the whole time axis into 1970 and is caught here."""
    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    if not os.path.exists(f"{sf_dir}/events.parquet"):
        pytest.skip("testdata not present")

    ev = entry._load_events(spark, sf_dir)
    got = ev.selectExpr("min(ts) as lo", "max(ts) as hi").collect()[0]
    want = duckdb.sql(
        f"select min(ts) as lo, max(ts) as hi from read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert pd.Timestamp(got.lo) == pd.Timestamp(want[0])
    assert pd.Timestamp(got.hi) == pd.Timestamp(want[1])


def test_running_anomalies_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: Welford state must SURVIVE across micro-batches
    (maxFilesPerTrigger=1 forces one batch per file), and each event scores
    against the statistics accumulated before it."""
    from pyranges_1_x_spark.streaming.events import running_anomalies

    d = str(tmp_path / "anom_in")
    schema = "event_type string, ts timestamp, value double"
    base = pd.Timestamp("2026-01-01")
    # batch 1: 20 calm values (mean ~0, sd ~1). batch 2: one huge spike.
    calm = pd.DataFrame(
        {
            "event_type": ["a"] * 20,
            "ts": [base + pd.Timedelta(minutes=i) for i in range(20)],
            "value": [(-1.0) ** i * (1.0 + 0.1 * i) for i in range(20)],
        }
    )
    spike = pd.DataFrame(
        {
            "event_type": ["a", "a"],
            "ts": [base + pd.Timedelta(hours=1), base + pd.Timedelta(hours=2)],
            "value": [100.0, 0.5],
        }
    )
    import os

    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(calm, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(spike, schema).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = running_anomalies(stream, z_threshold=3.0)
    q = (
        out.writeStream.format("memory")
        .queryName("anom_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("anom_sink").toPandas()
    # only the spike alerts; its n_seen proves the calm batch's state was there
    assert len(got) == 1
    assert got.value.iloc[0] == 100.0
    assert got.n_seen.iloc[0] >= 20
    assert got.zscore.iloc[0] > 3.0


def test_running_anomalies_batch_twin_matches_streaming_fold(spark, tmp_path):
    """The batch twin (running_anomalies_batch) runs the same _welford_scan
    as the streaming operator; on a one-batch stream the outputs must be
    row-identical."""
    from pyranges_1_x_spark.streaming.events import (
        running_anomalies,
        running_anomalies_batch,
    )

    schema = "event_type string, ts timestamp, value double"
    base = pd.Timestamp("2026-01-01")
    rng_vals = [(-1.0) ** i * (1.0 + 0.13 * i) for i in range(40)] + [55.0, -60.0]
    df = pd.DataFrame(
        {
            "event_type": ["a"] * 21 + ["b"] * 21,
            "ts": [base + pd.Timedelta(minutes=i) for i in range(42)],
            "value": rng_vals,
        }
    )
    d = str(tmp_path / "anom_twin_in")
    spark.createDataFrame(df, schema).coalesce(1).write.mode("append").parquet(d)

    batch = running_anomalies_batch(
        spark.read.parquet(d), z_threshold=3.0
    ).toPandas()

    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        running_anomalies(stream, z_threshold=3.0)
        .writeStream.format("memory")
        .queryName("anom_twin_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("anom_twin_sink").toPandas()

    key = ["event_type", "ts", "value", "zscore", "n_seen"]
    b = batch[key].sort_values(key).reset_index(drop=True)
    s = streamed[key].sort_values(key).reset_index(drop=True)
    assert len(b) > 0
    pd.testing.assert_frame_equal(b, s)


def _twin_input(spark, tmp_path, name):
    """Deterministic 200-row interval+event input staged to parquet: two
    chromosomes, varying widths, ts spread over 3 hours with duplicates —
    the same frame drives a readStream run and its batch twin."""
    n = 200
    pdf = pd.DataFrame(
        {
            "Chromosome": ["chr1" if i % 3 else "chr2" for i in range(n)],
            "Start": [(i * 97) % 5000 for i in range(n)],
            "End": [(i * 97) % 5000 + 1 + (i * 13) % 400 for i in range(n)],
            "read_id": list(range(n)),
            "ts": [
                pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=(i * 7) % 180)
                for i in range(n)
            ],
        }
    )
    d = str(tmp_path / name)
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def test_annotate_stream_batch_twin_parity(spark, tmp_path):
    """VERDICT r8 #6: run the SAME staged input through the availableNow
    stream AND the batch twin of annotate_stream; the pair sets must be
    row-identical (the operator is stateless, so parity is exact — the r7
    streaming_dedup branch divergence would have failed a test like this at
    build time)."""
    d = _twin_input(spark, tmp_path, "annot_twin_in")
    ann = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "Chromosome": ["chr1", "chr1", "chr2"],
                    "Start": [100, 2000, 0],
                    "End": [1200, 2600, 4000],
                    "gene": ["gA", "gB", "gC"],
                }
            )
        )
    )
    stream = spark.readStream.schema(SCHEMA).parquet(d)
    streamed = run_stream(spark, annotate_stream(stream, ann, bin_size=512),
                          "annot_twin_sink")
    batch = annotate_stream(spark.read.parquet(d), ann, bin_size=512).toPandas()
    key = sorted(batch.columns)
    assert len(batch) > 0
    pd.testing.assert_frame_equal(
        batch[key].sort_values(key).reset_index(drop=True),
        streamed[key].sort_values(key).reset_index(drop=True),
    )


def test_windowed_coverage_batch_twin_parity(spark, tmp_path):
    """Same input through the COMPLETE-mode stream and the batch twin of
    windowed_interval_coverage: every (window, Chromosome, bin) count equal."""
    d = _twin_input(spark, tmp_path, "wcov_twin_in")
    stream = spark.readStream.schema(SCHEMA).parquet(d)
    out = windowed_interval_coverage(
        stream, window_duration="1 hour", bin_size=1000, watermark="4 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wcov_twin_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("wcov_twin_sink").toPandas()
    batch = windowed_interval_coverage(
        spark.read.parquet(d), window_duration="1 hour", bin_size=1000
    ).toPandas()
    key = sorted(batch.columns)
    assert len(batch) > 0
    pd.testing.assert_frame_equal(
        batch[key].sort_values(key).reset_index(drop=True),
        streamed[key].sort_values(key).reset_index(drop=True),
    )


def test_streaming_dedup_batch_twin_key_parity(spark, tmp_path):
    """streaming_dedup's batch branch (dropDuplicates) and its stream run
    keep the SAME key set — only the key columns are deterministic across
    the two modes (which arrival survives differs), so parity pins exactly
    the projected-deterministic columns."""
    from pyranges_1_x_spark.streaming.events import streaming_dedup

    n = 120
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i % 37}" for i in range(n)],
            "payload": list(range(n)),
            "ts": [
                pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=(i * 3) % 50)
                for i in range(n)
            ],
        }
    )
    d = str(tmp_path / "dedup_twin_in")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)
    schema = "doc_id string, payload long, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(d)
    streamed = run_stream(
        spark, streaming_dedup(stream, "doc_id", watermark="2 hours"),
        "dedup_twin_sink",
    )
    batch = streaming_dedup(spark.read.parquet(d), "doc_id").toPandas()
    assert not batch.empty
    assert sorted(streamed["doc_id"]) == sorted(batch["doc_id"])
    assert len(streamed) == len(set(streamed["doc_id"]))


def test_streaming_dedup_drops_redeliveries(spark, tmp_path):
    """File-source stream with duplicated keys: only the first arrival of
    each key survives; state is watermark-bounded (see docstring)."""
    import pandas as pd

    from pyranges_1_x_spark.streaming.events import streaming_dedup

    d = str(tmp_path / "dedup_in")
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "a", "c", "b", "a"],
            "payload": [1, 2, 3, 4, 5, 6],
            "ts": pd.to_datetime(
                [
                    "2026-01-01 00:00",
                    "2026-01-01 00:01",
                    "2026-01-01 00:02",
                    "2026-01-01 00:03",
                    "2026-01-01 00:04",
                    "2026-01-01 00:05",
                ]
            ),
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "doc_id string, payload long, ts timestamp"
    ).parquet(d)
    out = streaming_dedup(stream, "doc_id", watermark="10 minutes")
    assert out.isStreaming
    got = run_stream(spark, out, "dedup_sink")
    assert sorted(got["doc_id"]) == ["a", "b", "c"]
    # first arrival wins
    by_id = {r.doc_id: r.payload for r in got.itertuples()}
    assert by_id == {"a": 1, "b": 2, "c": 4}


def test_stream_dedup_against_store_parity(spark, tmp_path):
    """stream_dedup_against_store: the streamed run and the batch degrade
    keep the SAME unseen-signature set — store-dups dropped by the static
    anti-join, intra-stream dups collapsed by the watermark dedup; which
    arrival survives differs, so parity pins the sig set only."""
    from pyranges_1_x_spark.streaming.events import stream_dedup_against_store

    store_docs = spark.createDataFrame(
        pd.DataFrame({"text": ["already archived", "also archived"]})
    )
    from pyranges_1_x_spark.ml.dedup import fingerprint
    from pyspark.sql import functions as F

    store = store_docs.select(fingerprint(F.col("text")).alias("sig"))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "already archived",   # store dup -> dropped
                "brand new",          # fresh
                "brand new",          # intra-stream dup -> one emit
                "also archived",      # store dup -> dropped
                "another fresh one",  # fresh
            ],
            "ts": pd.to_datetime(["2026-01-01 00:0%d" % i for i in range(5)]),
        }
    )
    d = str(tmp_path / "inc_dedup_in")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)
    schema = "doc_id long, text string, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(d)
    streamed = run_stream(
        spark, stream_dedup_against_store(stream, store), "inc_dedup_sink"
    )
    batch = stream_dedup_against_store(spark.read.parquet(d), store).toPandas()
    assert sorted(streamed["sig"]) == sorted(batch["sig"])
    assert len(streamed) == 2
    assert sorted(streamed["doc_id"].isin([2, 3]).astype(int).tolist() ) == [0, 1]
    assert set(streamed["doc_id"]) <= {2, 3, 5} and 5 in set(streamed["doc_id"])


def test_welford_scan_skips_nonfinite_and_constant_history():
    """r14 review finds, pinned: (a) a NULL/NaN value must neither alert nor
    poison the key's Welford state (one NaN previously made mean/m2 NaN
    forever, permanently blinding the key); (b) documented sd == 0
    semantics — a deviation right after a constant history is not alerted
    (z undefined), and the state then absorbs it normally."""
    import math

    from pyranges_1_x_spark.streaming.events import _welford_scan

    # (a) NaN mid-stream: state continues as if the row never arrived
    vals = [10.0, 12.0, 11.0, float("nan"), 10.5, 100.0]
    rows = ((("k", i), v) for i, v in enumerate(vals))
    out, (count, mean, m2) = _welford_scan(rows, 0, 0.0, 0.0, 3.0)
    assert count == 5 and math.isfinite(mean) and math.isfinite(m2)
    # out rows are (key, idx, value, z, n_seen): only the spike alerts, and
    # n_seen counts the 4 FINITE values before it (NaN never entered state)
    assert [(r[2], r[4]) for r in out] == [(100.0, 4)]

    # (b) constant history then a huge jump: not alerted at sd == 0, but
    # the jump creates variance and the NEXT mild deviation can alert
    rows2 = ((("k", i), v) for i, v in enumerate([5.0, 5.0, 5.0, 500.0]))
    out2, state2 = _welford_scan(rows2, 0, 0.0, 0.0, 3.0)
    assert out2 == []  # documented: z undefined with zero variance
    assert state2[0] == 4 and state2[1] > 5.0


def _write_dedup_input(spark, tmp_path):
    """Redelivered keys spread over three hours of event time, so a
    10-minute watermark moves after the first batch and leaves state to
    evict."""
    d = str(tmp_path / "in")
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "a", "c", "b"],
            "payload": [1, 2, 3, 4, 5],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00", "2026-01-01 00:05", "2026-01-01 01:00",
                 "2026-01-01 02:00", "2026-01-01 03:00"]
            ),
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(d)
    return d


def _dedup_stream(spark, d):
    from pyranges_1_x_spark.streaming.events import streaming_dedup

    stream = spark.readStream.schema("doc_id string, payload long, ts timestamp").parquet(d)
    return streaming_dedup(stream, "doc_id", watermark="10 minutes")


def _commits(chk):
    return sorted(f for f in os.listdir(os.path.join(chk, "commits")) if not f.startswith("."))


def test_run_stream_drains_watermarked_dedup_in_one_batch(spark, entry, tmp_path, monkeypatch):
    """The registry's parquet-sink runner stops after its last data batch:
    a watermarked dedup commits batch 0 only, with the same sink rows as a
    run that also takes Spark's state-evicting no-data batch, and the
    session's no-data-batch setting reads the same after every call, also
    when the stream fails to start."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = _write_dedup_input(spark, tmp_path)

    # Reference: the same stream with Spark's default no-data batches.
    ref_out, ref_chk = str(tmp_path / "ref_out"), str(tmp_path / "ref_chk")
    q = (
        _dedup_stream(spark, d).writeStream.format("parquet")
        .option("path", ref_out).option("checkpointLocation", ref_chk)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert _commits(ref_chk) == ["0", "1"]
    want = spark.read.parquet(ref_out).toPandas()

    for setting in (None, "true"):
        if setting is not None:
            spark.conf.set(NO_DATA_BATCHES, setting)
        try:
            got = entry._run_stream(spark, _dedup_stream(spark, d), "one_batch").toPandas()
            chk = str(tmp_path / "spark_graft_sink_one_batch" / "chk")
            assert _commits(chk) == ["0"]
            key = sorted(want.columns)
            pd.testing.assert_frame_equal(
                got[key].sort_values(key).reset_index(drop=True),
                want[key].sort_values(key).reset_index(drop=True),
            )
            assert spark.conf.get(NO_DATA_BATCHES, None) == setting
            # A batch frame fails at writeStream, an unwatermarked streaming
            # aggregate in append mode fails in start(): neither leaks the conf.
            stream = spark.readStream.schema("doc_id string").parquet(d)
            for bad in (spark.read.parquet(d), stream.groupBy("doc_id").count()):
                with pytest.raises(Exception):
                    entry._run_stream(spark, bad, "bad_start")
                assert spark.conf.get(NO_DATA_BATCHES, None) == setting
        finally:
            spark.conf.unset(NO_DATA_BATCHES)


def test_run_stream_conf_restore_is_thread_safe(spark, entry, tmp_path, monkeypatch):
    """Registry streams started from more threads than the session has task
    slots each start with no-data batches off (commit batch 0 only), and the
    caller's setting survives: an unguarded set -> start -> restore lets one
    thread restore another's value, which leaves the session's setting
    changed or starts a stream with no-data batches on."""
    import sys
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = _write_dedup_input(spark, tmp_path)
    names = [f"par_{i}" for i in range(8)]

    def run(name):
        entry._run_stream(spark, _dedup_stream(spark, d), name)
        return _commits(str(tmp_path / f"spark_graft_sink_{name}" / "chk"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(names)) as pool:
            futures = [pool.submit(run, n) for n in names]
            commits = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert commits == [["0"]] * len(names)
    assert spark.conf.get(NO_DATA_BATCHES, None) is None


def test_await_stream_stops_and_raises_on_timeout(spark, entry):
    """A stream that has not finished within the timeout is stopped, not
    left running in the session, and the caller gets a TimeoutError."""
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop").queryName("never_ends").start()
    )
    try:
        with pytest.raises(TimeoutError, match="never_ends"):
            entry._await_stream(q, timeout_s=1)
        assert not q.isActive
    finally:
        q.stop()
