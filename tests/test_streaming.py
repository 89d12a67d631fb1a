"""Streaming tests: rate planner (reference unit expectations),
micro-batch dedup-upsert with checkpoint recovery, watermark windows.

CORRECTNESS_r{N} can't see streaming, so these pytest gates are the
coverage for S1/T1-T3/T5/T7/K6 (mirroring the reference's own
PulsarHelperTest + ViestiTestSuite strategy).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from pulsar_spark_spark.sources.tables import load_table
from pulsar_spark_spark.sources.sinks import read_upsert_table
from pulsar_spark_spark.streaming.pipeline import (
    run_dedup_upsert_stream,
    stream_events,
    windowed_counts,
)
from pulsar_spark_spark.streaming.rate import (
    RateConfig,
    compute_max_entries_per_partition,
    default_entries_per_partition,
)
from tests.conftest import SF_DIR_SMALL

# ---------------------------------------------------------------------
# T2 rate planner — the reference's own unit expectations
# (PulsarHelperTest.scala:83-97; maxRatePerPartition=20, avg=1.0)
# ---------------------------------------------------------------------
_BACKLOGS = {"p0": 100, "p1": 0, "p2": 1000}
_CFG = RateConfig(max_rate_per_partition=20.0)


def test_rate_split_estimated_rate_10():
    got = compute_max_entries_per_partition(10, _BACKLOGS, 5000, _CFG)
    assert got == {"p0": 5, "p1": 0, "p2": 46}


def test_rate_split_estimated_rate_40():
    got = compute_max_entries_per_partition(40, _BACKLOGS, 5000, _CFG)
    assert got == {"p0": 19, "p1": 0, "p2": 100}


def test_rate_split_no_estimate_uses_max_rate():
    got = compute_max_entries_per_partition(None, _BACKLOGS, 5000, _CFG)
    assert got == {"p0": 100, "p1": 0, "p2": 100}


def test_rate_split_zero_estimate_treated_as_absent():
    got = compute_max_entries_per_partition(0, _BACKLOGS, 5000, _CFG)
    assert got == {"p0": 100, "p1": 0, "p2": 100}


def test_default_entries():
    assert default_entries_per_partition(RateConfig(), 5000) == 5000


# ---------------------------------------------------------------------
# S4/S6: Kafka-format source — option contract + envelope parse,
# exercised without a broker (none exists in this sandbox)
# ---------------------------------------------------------------------
def test_kafka_reader_option_contract():
    from pulsar_spark_spark.streaming.pipeline import kafka_reader_options

    opts = kafka_reader_options(
        "broker1:9092,broker2:9092",
        "geotags",
        starting_offsets='{"geotags":{"0":42,"1":-1}}',
        max_offsets_per_trigger=5000,
    )
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "geotags"
    # explicit per-partition resume (the ZK-stored-offsets analog);
    # the checkpoint overrides this on restart, exactly like the
    # reference's stored-offsets-else-largest precedence
    assert opts["startingOffsets"] == '{"geotags":{"0":42,"1":-1}}'
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["failOnDataLoss"] == "false"
    assert "endingOffsets" not in opts

    batch = kafka_reader_options(
        "b:9092", "t", '{"t":{"0":0}}', ending_offsets='{"t":{"0":100}}'
    )
    assert batch["endingOffsets"] == '{"t":{"0":100}}'


def test_kafka_envelope_parse_on_batch_frame(spark):
    from pulsar_spark_spark.streaming.pipeline import parse_kafka_events

    rows = [
        ("geotags", 0, 7, b'{"user_id": 3, "event_type": "click", "value": 1.5}'),
        ("geotags", 1, 9, b'{"user_id": 4, "event_type": "view", "value": 2.0}'),
        ("geotags", 1, 10, b"not json"),
        # extra unknown field + missing declared field: the reference's
        # @JsonIgnoreProperties(ignoreUnknown) tolerance
        # (core/GpsPingsPayload.scala:13) — from_json gives the same
        ("geotags", 2, 11, b'{"user_id": 5, "event_type": "click", "extra": true}'),
    ]
    records = spark.createDataFrame(
        [(t, p, o, None, v, None) for (t, p, o, v) in rows],
        "topic string, partition int, offset long, key binary, value binary, "
        "timestamp timestamp",
    )
    out = parse_kafka_events(
        records, "user_id bigint, event_type string, value double"
    ).collect()
    by_off = {(r["partition"], r["offset"]): r for r in out}
    assert by_off[(0, 7)]["user_id"] == 3 and by_off[(0, 7)]["event_type"] == "click"
    assert by_off[(1, 9)]["value"] == 2.0
    # malformed payloads keep the envelope with null fields (the
    # P8 guard downstream quarantines them), matching from_json
    assert by_off[(1, 10)]["user_id"] is None
    # unknown fields ignored, missing declared fields → null
    assert by_off[(2, 11)]["user_id"] == 5
    assert by_off[(2, 11)]["value"] is None


# ---------------------------------------------------------------------
# S1/T1/T3/T7/K6: bounded micro-batches + checkpointed dedup-upsert
# ---------------------------------------------------------------------
@pytest.fixture()
def event_chunks(spark, tmp_path):
    """Split sf0.001 events into 3 arrival chunks (parquet files)."""
    ev = load_table(spark, "events", SF_DIR_SMALL).withColumn(
        "chunk", (F.col("event_id") % 3).cast("int")
    )
    chunks = []
    for i in range(3):
        p = str(tmp_path / f"chunk_{i}")
        ev.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.parquet(p)
        chunks.append(p)
    return chunks, ev.drop("chunk")


def _copy_parquet_files(src_dir: str, dst_dir: str, tag: str) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    n = 0
    for f in os.listdir(src_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src_dir, f), os.path.join(dst_dir, f"{tag}_{n}.parquet"))
            n += 1


def _expected_latest(all_events):
    return {
        (r["user_id"], r["event_type"]): (r["ts"], r["event_id"])
        for r in (
            all_events.groupBy("user_id", "event_type")
            .agg(
                F.max_by(
                    F.struct("ts", "event_id"), F.struct("ts", "event_id")
                ).alias("m")
            )
            .select("user_id", "event_type", "m.ts", "m.event_id")
        ).collect()
    }


def test_stream_dedup_upsert_with_restart(spark, tmp_path, event_chunks):
    chunks, all_events = event_chunks
    input_dir = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(chunks[0]).schema

    # Phase 1: two chunks arrive, stream drains (availableNow), stops.
    _copy_parquet_files(chunks[0], input_dir, "c0")
    _copy_parquet_files(chunks[1], input_dir, "c1")
    ev = stream_events(spark, input_dir, schema, max_files_per_trigger=1)
    q = run_dedup_upsert_stream(ev, state, ckpt)
    q.awaitTermination(120)
    assert not q.isActive
    n_batches_p1 = len(q.recentProgress)
    assert n_batches_p1 >= 2  # maxFilesPerTrigger=1 → one batch per file
    # A7: per-batch record counts are observable on the progress feed
    assert sum(p.numInputRows for p in q.recentProgress) > 0

    # Phase 2: third chunk arrives, RESTART from the same checkpoint.
    _copy_parquet_files(chunks[2], input_dir, "c2")
    ev2 = stream_events(spark, input_dir, schema, max_files_per_trigger=1)
    q2 = run_dedup_upsert_stream(ev2, state, ckpt)
    q2.awaitTermination(120)
    assert not q2.isActive
    # recovery processed ONLY the new chunk, not the already-committed files
    assert sum(p.numInputRows for p in q2.recentProgress) < all_events.count()

    got = {
        (r["user_id"], r["event_type"]): (r["ts"], r["event_id"])
        for r in read_upsert_table(spark, state).collect()
    }
    assert got == _expected_latest(all_events)


def test_stream_replay_is_idempotent(spark, tmp_path, event_chunks):
    chunks, all_events = event_chunks
    input_dir = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    _copy_parquet_files(chunks[0], input_dir, "c0")
    schema = spark.read.parquet(chunks[0]).schema

    # First run with checkpoint A, then a "crashed-before-commit" replay
    # with a FRESH checkpoint (worst case: every batch re-delivered).
    for ckpt in (str(tmp_path / "ckptA"), str(tmp_path / "ckptB")):
        ev = stream_events(spark, input_dir, schema)
        q = run_dedup_upsert_stream(ev, state, ckpt)
        q.awaitTermination(120)
        assert not q.isActive
    chunk0 = spark.read.parquet(chunks[0])
    assert read_upsert_table(spark, state).count() == (
        chunk0.select("user_id", "event_type").distinct().count()
    )


# ---------------------------------------------------------------------
# T5: watermark + tumbling window
# ---------------------------------------------------------------------
def test_windowed_counts_with_watermark(spark, tmp_path, event_chunks):
    chunks, all_events = event_chunks
    input_dir = str(tmp_path / "incoming")
    _copy_parquet_files(chunks[0], input_dir, "c0")
    schema = spark.read.parquet(chunks[0]).schema
    ev = stream_events(spark, input_dir, schema, max_files_per_trigger=10)
    q = (
        windowed_counts(ev)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Append mode only emits windows finalized by the watermark; verify
    # every emitted row matches the batch ground truth.
    got = spark.sql("SELECT * FROM win_counts").collect()
    chunk0 = spark.read.parquet(chunks[0])
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in (
            chunk0.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        ).collect()
    }
    assert got, "watermark should finalize at least one window"
    for r in got:
        assert want[(r["window_start"], r["event_type"])] == r["n_events"]


# ---------------------------------------------------------------------
# S1 over both µs parquet timestamp encodings: micro-batch ingest is
# the reference's core identity (DSTREAM/DirectSparkPulsarDstream.
# scala:73-99), and round 3 showed the fixture encoding can change
# under us — so the stream path is pinned against an explicitly
# NTZ-written file, not just whatever the loader fixture produces.
# ---------------------------------------------------------------------
@pytest.mark.parametrize("enc", ["ntz", "ltz"])
def test_stream_ingests_ntz_and_ltz_parquet(spark, tmp_path, enc):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pa.timestamp("us") if enc == "ntz" else pa.timestamp("us", tz="UTC")
    ms = [1_700_000_000_123, 1_700_000_060_456, 1_700_000_120_789]
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "user_id": pa.array([10, 10, 10], pa.int64()),
                "event_type": pa.array(["click", "click", "view"]),
                "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
                "ts": pa.array([m * 1000 for m in ms], ts_type),
            }
        ),
        str(input_dir / "c0.parquet"),
    )
    schema = (
        "event_id bigint, user_id bigint, event_type string, "
        "value double, ts timestamp"
    )
    ev = stream_events(spark, str(input_dir), schema)
    q = run_dedup_upsert_stream(ev, str(tmp_path / "state"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert not q.isActive
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["ts_ms"])
        for r in read_upsert_table(spark, str(tmp_path / "state"))
        .withColumn("ts_ms", F.unix_millis("ts"))
        .collect()
    }
    assert set(got) == {(10, "click"), (10, "view")}
    # latest-per-key winners carry the exact epoch the file encoded —
    # same instants under either µs encoding (session zone is UTC)
    assert got[(10, "click")] == (2, ms[1])
    assert got[(10, "view")] == (3, ms[2])


def test_periodic_requery_ticks(spark, tmp_path):
    import time

    from pulsar_spark_spark.streaming.pipeline import periodic_requery

    seen: list[int] = []
    q = periodic_requery(
        spark, seen.append, str(tmp_path / "ckpt_rate"), interval="1 seconds"
    )
    deadline = time.time() + 60
    while len(seen) < 2 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert len(seen) >= 2  # the clock re-ran the query function


def test_max_offsets_for_trigger_totals_the_partition_plan():
    """The Structured Streaming knob value is the sum of the reference's
    per-partition budgets (Spark re-splits the total proportionally to
    backlog — the same policy)."""
    from pulsar_spark_spark.streaming.rate import max_offsets_for_trigger

    assert max_offsets_for_trigger(10, _BACKLOGS, 5000, _CFG) == 5 + 0 + 46
    assert max_offsets_for_trigger(40, _BACKLOGS, 5000, _CFG) == 19 + 0 + 100
    assert max_offsets_for_trigger(None, _BACKLOGS, 5000, _CFG) == 100 + 0 + 100


def test_budgeted_events_dir_user_mod(spark, tmp_path, monkeypatch):
    """Round 13: the stream-scale midpoint sampler keeps ~1/user_mod
    of the users (state-cardinality knob) and row-budgets the
    survivors, producing a complete SF_DIR (dims symlinked)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "stream_scale_mod",
        os.path.join(os.path.dirname(__file__), "..", "tools", "stream_scale.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    full_users = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .select("user_id")
        .distinct()
        .count()
    )
    out = mod._budgeted_events_dir(spark, sf, budget=10**9, user_mod=3)
    ev = spark.read.parquet(os.path.join(out, "events.parquet"))
    kept_users = ev.select("user_id").distinct().count()
    # hash-uniform: a third of the users within generous noise bounds
    assert 0.15 * full_users < kept_users < 0.55 * full_users
    # dims symlinked so the dir serves as a bench SF_DIR
    assert os.path.exists(os.path.join(out, "region.parquet"))
    # row budget: with a huge budget nothing beyond the user cut drops
    assert ev.count() > 0


def test_dedup_version_orders_by_event_id_across_batches(spark, tmp_path):
    """Round 14 review fix: the upsert version must order exactly like
    the batch arm's max_by — (ts, event_id), not ts alone. Two
    same-timestamp events for one key arriving in DIFFERENT batches
    used to let the later-arriving lower event_id win the sink's
    new-wins-ties rule; the batch arm (both in one batch) kept the
    higher event_id. Second input: the sink's window also does the
    in-batch dedup, so two same-ts rows plus an older one in ONE
    batch must keep the higher event_id as well."""
    import datetime

    schema = (
        "user_id long, event_id long, event_type string, "
        "ts timestamp, value double"
    )
    t = datetime.datetime(2026, 1, 1, 12, 0, 0)
    older = t - datetime.timedelta(seconds=1)

    def run(tag, batches):
        input_dir = str(tmp_path / tag / "incoming")
        state = str(tmp_path / tag / "state")
        ckpt = str(tmp_path / tag / "ckpt")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(input_dir)
            ev = stream_events(
                spark, input_dir, spark.read.parquet(input_dir).schema
            )
            q = run_dedup_upsert_stream(ev, state, ckpt)
            q.awaitTermination(120)
            assert not q.isActive
        return {
            (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
            for r in read_upsert_table(spark, state).collect()
        }

    across = run("across", [
        [(1, 9, "click", t, 1.0)],
        [(1, 3, "click", t, 2.0)],  # same ts, lower event_id, later batch
    ])
    assert across == {(1, "click"): (9, 1.0)}
    within = run("within", [[
        (1, 3, "click", t, 2.0),
        (1, 9, "click", t, 1.0),
        (1, 12, "click", older, 3.0),  # highest event_id, older ts
    ]])
    assert within == {(1, "click"): (9, 1.0)}
