"""Regression tests for the parquet timestamp-encoding contract.

Round 3 was zeroed when a driver data regeneration switched
``events.ts`` from TIMESTAMP(NANOS) to TIMESTAMP(µs,
isAdjustedToUTC=false): the loader now absorbs all three encodings the
testdata has ever shipped (sources/tables.py::_normalize_timestamps),
and these tests pin that contract — they FAIL if the normalization or
the footer-based NANOS detection is reverted.

Each encoding is written to a tmpdir with pyarrow exactly as a
regenerated dataset would ship it:

- ``ns``:  TIMESTAMP(NANOS)                 → Spark bigint under
           nanosAsLong → truncate to µs
- ``ntz``: TIMESTAMP(µs, isAdjustedToUTC=false) → timestamp_ntz →
           cast under pinned-UTC session
- ``ltz``: TIMESTAMP(µs, isAdjustedToUTC=true)  → timestamp (no-op)

A second timestamp column (``created_at``) rides along so the test
also covers the footer-schema detection path: NANOS columns are found
by parquet metadata, not by matching the column name ``ts``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from pulsar_spark_spark.sources.tables import _nanos_columns, load_table

_MS = [1_700_000_000_123, 1_700_000_060_456, 1_700_086_400_789]

# encoding name -> (pyarrow type, units per millisecond)
ENCODINGS = {
    "ns": (pa.timestamp("ns"), 1_000_000),
    "ntz": (pa.timestamp("us"), 1_000),
    "ltz": (pa.timestamp("us", tz="UTC"), 1_000),
}


def _write_events(dir_path, ts_type, scale) -> str:
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["click", "view", "click"]),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
        "ts": pa.array([m * scale for m in _MS], ts_type),
        "created_at": pa.array([m * scale for m in _MS], ts_type),
    }
    path = str(dir_path / "events.parquet")
    # version 2.6 keeps NANOS as NANOS (older writer versions coerce)
    pq.write_table(pa.table(cols), path, version="2.6")
    return path


@pytest.mark.parametrize("enc", sorted(ENCODINGS))
def test_loader_absorbs_encoding(spark, tmp_path, enc):
    ts_type, scale = ENCODINGS[enc]
    _write_events(tmp_path, ts_type, scale)
    df = load_table(spark, "events", str(tmp_path))
    dt = dict(df.dtypes)
    assert dt["ts"] == "timestamp", f"{enc}: ts surfaced as {dt['ts']}"
    # footer-based NANOS detection — NOT name-based: the second
    # timestamp column must normalize identically
    assert dt["created_at"] == "timestamp", (
        f"{enc}: created_at surfaced as {dt['created_at']}"
    )
    rows = (
        df.orderBy("event_id")
        .select(
            F.unix_millis("ts").alias("ms"),
            F.unix_millis("created_at").alias("cms"),
        )
        .collect()
    )
    assert [r["ms"] for r in rows] == _MS, f"{enc}: ts epoch drift"
    assert [r["cms"] for r in rows] == _MS, f"{enc}: created_at epoch drift"


def test_nanos_columns_footer_probe(tmp_path):
    """The footer probe reports exactly the NANOS-typed columns.

    Distinct paths per encoding: the probe is memoized per path
    (datasets are immutable within a session)."""
    d_ns, d_ntz = tmp_path / "ns", tmp_path / "ntz"
    d_ns.mkdir(), d_ntz.mkdir()
    assert _nanos_columns(_write_events(d_ns, *ENCODINGS["ns"])) == {
        "ts",
        "created_at",
    }
    assert _nanos_columns(_write_events(d_ntz, *ENCODINGS["ntz"])) == set()


def test_nanos_columns_directory_probe(tmp_path):
    """Spark-written parquet is a DIRECTORY of part files; the probe
    must read the first part footer."""
    d = tmp_path / "events.parquet"
    d.mkdir()
    cols = {
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([_MS[0] * 1_000_000], pa.timestamp("ns")),
    }
    pq.write_table(pa.table(cols), str(d / "part-00000.parquet"), version="2.6")
    assert _nanos_columns(str(d)) == {"ts"}


def test_nanos_columns_no_pyarrow_falls_back_to_name_heuristic(tmp_path, monkeypatch):
    """Without pyarrow the probe can't read footers; it must fall back
    to the legacy name-based heuristic (events.ts) instead of silently
    leaving a NANOS bigint un-normalized (round-5 advice)."""
    from pulsar_spark_spark.sources import tables

    monkeypatch.setattr(tables, "pq", None)
    tables._nanos_columns.cache_clear()
    try:
        assert tables._nanos_columns(str(tmp_path)) == {"ts"}
    finally:
        tables._nanos_columns.cache_clear()


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference(spark, scale):
    """The footer-derived schema equals the schema Spark infers, for
    every catalog table, and load_table fires no job to get it."""
    import os

    from pulsar_spark_spark.sources.tables import TABLES, _footer_spark_schema
    from tests.conftest import SF_DIR_SMALL, jobs_fired

    sf = os.path.join(os.path.dirname(SF_DIR_SMALL), scale)
    names = [t for t in TABLES if os.path.exists(f"{sf}/{t}.parquet")]
    assert names
    # nanosAsLong is set by the loader; infer under the same confs
    load_table(spark, names[0], sf)
    for name in names:
        path = f"{sf}/{name}.parquet"
        assert _footer_spark_schema(path, True) == spark.read.parquet(path).schema, name
    assert jobs_fired(spark, lambda: [load_table(spark, n, sf) for n in names]) == 0
