"""Round-trip tests for the write paths (K1 keyed upsert, K2 CSV)."""

from __future__ import annotations

import csv
import os

import pyspark.sql.functions as F

from pulsar_spark_spark.sources.sinks import (
    read_upsert_table,
    upsert_parquet,
    write_csv_report,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string, version bigint")


def test_upsert_insert_then_update(spark, tmp_path):
    path = str(tmp_path / "state")
    upsert_parquet(_df(spark, [(1, "a", 1), (2, "b", 1)]), path, ["k"], "version")
    upsert_parquet(_df(spark, [(2, "b2", 2), (3, "c", 2)]), path, ["k"], "version")
    got = {
        r["k"]: (r["v"], r["version"])
        for r in read_upsert_table(spark, path).collect()
    }
    assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 2)}


def test_upsert_replay_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "state")
    batch = _df(spark, [(1, "a", 5), (2, "b", 5)])
    upsert_parquet(batch, path, ["k"], "version")
    before = sorted(map(tuple, read_upsert_table(spark, path).collect()))
    upsert_parquet(batch, path, ["k"], "version")  # replayed micro-batch
    after = sorted(map(tuple, read_upsert_table(spark, path).collect()))
    assert before == after


def test_upsert_stale_version_loses(spark, tmp_path):
    path = str(tmp_path / "state")
    upsert_parquet(_df(spark, [(1, "new", 9)]), path, ["k"], "version")
    upsert_parquet(_df(spark, [(1, "stale", 3)]), path, ["k"], "version")
    got = read_upsert_table(spark, path).collect()
    assert len(got) == 1 and got[0]["v"] == "new" and got[0]["version"] == 9


def test_upsert_state_read_fires_no_job(spark, tmp_path):
    """The stored version is read with the sink's own schema, so an
    upsert onto existing state fires no more jobs (no schema
    inference) than the first upsert onto empty state."""
    from tests.conftest import jobs_fired

    path = str(tmp_path / "state")
    first = jobs_fired(
        spark,
        lambda: upsert_parquet(_df(spark, [(1, "a", 1)]), path, ["k"], "version"),
    )
    onto_state = jobs_fired(
        spark,
        lambda: upsert_parquet(
            _df(spark, [(1, "a2", 2), (2, "b", 2)]), path, ["k"], "version"
        ),
    )
    assert 0 < onto_state <= first
    got = {r["k"]: r["v"] for r in read_upsert_table(spark, path).collect()}
    assert got == {1: "a2", 2: "b"}


def test_upsert_rejects_column_drift(spark, tmp_path):
    """A stored column missing from the new rows must be a hard error,
    never a silent drop from the durable state."""
    import pytest

    path = str(tmp_path / "state")
    upsert_parquet(_df(spark, [(1, "a", 1)]), path, ["k"], "version")
    narrow = spark.createDataFrame([(1, 2)], "k bigint, version bigint")
    with pytest.raises(ValueError, match="column mismatch"):
        upsert_parquet(narrow, path, ["k"], "version")
    got = {r["k"]: r["v"] for r in read_upsert_table(spark, path).collect()}
    assert got == {1: "a"}


def test_upsert_survives_interrupted_write(spark, tmp_path):
    """A writer that died mid-upsert (version dir written, pointer not
    committed — or pointer temp left behind) must not lose or corrupt
    the committed state; the next upsert collects the orphans."""
    path = str(tmp_path / "state")
    upsert_parquet(_df(spark, [(1, "a", 1)]), path, ["k"], "version")
    # simulate a crash: orphan version dir + orphan pointer temp
    os.makedirs(os.path.join(path, "v_deadbeef"))
    with open(os.path.join(path, ".__current.deadbeef"), "w") as f:
        f.write("v_deadbeef")
    got = {r["k"]: r["v"] for r in read_upsert_table(spark, path).collect()}
    assert got == {1: "a"}  # committed state intact
    upsert_parquet(_df(spark, [(2, "b", 2)]), path, ["k"], "version")
    got = {r["k"]: r["v"] for r in read_upsert_table(spark, path).collect()}
    assert got == {1: "a", 2: "b"}
    leftovers = set(os.listdir(path))
    assert "v_deadbeef" not in leftovers
    assert ".__current.deadbeef" not in leftovers


def test_upsert_keeps_grace_version_for_readers(spark, tmp_path):
    path = str(tmp_path / "state")
    upsert_parquet(_df(spark, [(1, "a", 1)]), path, ["k"], "version")
    v1 = open(os.path.join(path, "__current")).read().strip()
    upsert_parquet(_df(spark, [(1, "a2", 2)]), path, ["k"], "version")
    v2 = open(os.path.join(path, "__current")).read().strip()
    entries = set(os.listdir(path))
    # predecessor kept (grace for in-flight readers), then pruned on
    # the NEXT upsert
    assert v1 in entries and v2 in entries
    upsert_parquet(_df(spark, [(1, "a3", 3)]), path, ["k"], "version")
    assert v1 not in set(os.listdir(path))


def test_csv_report_roundtrip(spark, tmp_path):
    path = str(tmp_path / "report.csv")
    df = (
        spark.range(10)
        .withColumn("bucket", (F.col("id") % 3).cast("string"))
        .groupBy("bucket")
        .count()
        .orderBy("bucket")
    )
    out = write_csv_report(df, path)
    assert out == path and os.path.exists(path)
    with open(path) as f:
        rows = list(csv.DictReader(f))
    assert [(r["bucket"], r["count"]) for r in rows] == [
        ("0", "4"), ("1", "3"), ("2", "3"),
    ]


def test_blob_dump_per_row(spark, tmp_path):
    from pulsar_spark_spark.plans.multimodal import media_table
    from pulsar_spark_spark.sources.sinks import dump_blobs

    m = media_table(spark, "/root/testdata/sf0.001").limit(7)
    out = str(tmp_path / "blobs")
    n = dump_blobs(m, out, "media_id", "payload")
    assert n == 7
    row = m.orderBy("media_id").first()
    with open(f"{out}/{row['media_id']}.bin", "rb") as f:
        assert f.read() == bytes(row["payload"])


def test_events_range_read_pushdown(spark):
    from pulsar_spark_spark.sources.tables import load_events_range

    df = load_events_range(spark, "/root/testdata/sf0.001", 100, 199)
    ids = [r["event_id"] for r in df.select("event_id").collect()]
    assert ids and min(ids) >= 100 and max(ids) <= 199
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "GreaterThanOrEqual(event_id,100)" in buf.getvalue()
