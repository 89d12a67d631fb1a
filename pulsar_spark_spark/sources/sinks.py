"""Write paths: keyed upsert sink (K1), CSV report writer (K2).

The reference's Cassandra writes are primary-key UPSERTS
(``saveToCassandra`` — service/KafkaStreamingService.scala:47,
GeoTagOptimizedService.scala:82-83): writing a row with an existing
key replaces it. The Spark-native equivalent without a table format
dependency is a partitioned-parquet read-merge-write: new rows win
over stored rows per key (argmax by a version column), rewritten
atomically via a temp directory swap. On a real deployment this is a
one-line swap to ``MERGE INTO`` on Delta/Iceberg — the call-site
contract (idempotent keyed upsert) is identical, which is what the
streaming layer's exactly-once story relies on (checkpoint + replayed
micro-batch ⇒ same state).

The CSV report writer mirrors AccuracyAnalysis.scala:148-166 /
GoodData.scala:140-147, which collect() to the driver and hand-write
rows with opencsv. Here: ``coalesce(1).write.csv`` — single output
file for report consumers, computed distributed, never collected.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import col

from pulsar_spark_spark.sources.tables import _footer


_POINTER = "__current"


def _current_version(path: str) -> str | None:
    """Version-dir name the pointer file designates, or None."""
    ptr = os.path.join(path, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        name = f.read().strip()
    return name or None


def upsert_parquet(
    new_rows: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str,
) -> None:
    """Keyed upsert into a versioned parquet directory (K1 analog).

    Merge discipline: ``new_rows`` may hold several rows per key. Per
    key keep the single row with the highest (version_col, is_new)
    over stored ∪ new rows — the highest version wins, new rows win
    ties, so replaying the same micro-batch is idempotent (T3's
    commit-after-write guarantee becomes "replay is harmless"). One
    key-partitioned window does both the in-batch dedup and the merge
    with the stored state, so a caller needs no per-key aggregate (and
    no second shuffle) ahead of the sink.

    The stored version is read with ``new_rows``' schema — the schema
    this sink wrote it with, since the winners only drop the helper
    columns — so reading existing state fires no schema-inference job.
    The column sets must match exactly (checked against the stored
    version's footer): a stored column missing from ``new_rows`` would
    otherwise be dropped from the durable state without a word.

    Crash safety: state lives in ``<path>/v_<uuid>/`` subdirectories
    selected by a ``__current`` pointer file, committed with an atomic
    ``os.replace``. A crash at ANY point leaves the pointer naming a
    complete version: before the replace the old state stays current
    (the interrupted batch replays from the checkpoint); after it the
    new state is current and a replay is a no-op merge. There is no
    window where the table is missing — unlike a directory-rename
    swap, which loses ALL accumulated state if it dies between its
    two renames. Superseded versions are pruned on the next upsert,
    keeping one grace version for in-flight readers. Single writer
    per state path (foreachBatch is serial; a real deployment swaps
    this file for Delta/Iceberg MERGE with the same call contract).
    """
    # NOTE deliberately no session-conf mutation here: the merge below
    # is timezone-independent (version comparison + parquet instants),
    # engine sessions already pin UTC at build (session.py), and a
    # sink call has no business flipping a global planner setting for
    # the rest of a foreign session's life (the same rule
    # tests/test_plans.py pins for plan modules).
    spark = new_rows.sparkSession
    os.makedirs(path, exist_ok=True)
    current = _current_version(path)

    new_tagged = new_rows.withColumn("__is_new", F.lit(1))
    if current is not None:
        stored = os.path.join(path, current)
        footer = _footer(stored)
        if footer is not None and set(footer[0].names) != set(new_rows.columns):
            raise ValueError(
                "upsert_parquet: state/new_rows column mismatch — "
                f"state {sorted(footer[0].names)} vs "
                f"new_rows {sorted(new_rows.columns)}"
            )
        existing = spark.read.schema(new_rows.schema).parquet(stored)
        merged = existing.withColumn("__is_new", F.lit(0)).unionByName(new_tagged)
    else:
        merged = new_tagged
    w = Window.partitionBy(*key_cols).orderBy(
        col(version_col).desc(), col("__is_new").desc()
    )
    winner = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(col("__rn") == 1)
        .drop("__rn", "__is_new")
    )
    new_version = f"v_{uuid.uuid4().hex}"
    winner.write.mode("overwrite").parquet(os.path.join(path, new_version))

    # atomic commit: write-then-replace the pointer file
    ptr_tmp = os.path.join(path, f".{_POINTER}.{uuid.uuid4().hex}")
    with open(ptr_tmp, "w", encoding="utf-8") as f:
        f.write(new_version)
    os.replace(ptr_tmp, os.path.join(path, _POINTER))

    # prune: drop everything except the new version and its immediate
    # predecessor (grace for readers that resolved the old pointer);
    # orphaned version dirs / pointer temps from crashed writes get
    # collected here too
    keep = {new_version, current, _POINTER}
    for entry in os.listdir(path):
        if entry in keep:
            continue
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            os.remove(full)


def read_upsert_table(spark: SparkSession, path: str) -> DataFrame:
    """Read back a keyed upsert table (resolves the version pointer)."""
    current = _current_version(path)
    if current is None:
        raise FileNotFoundError(f"no committed state under {path}")
    return spark.read.parquet(os.path.join(path, current))


def write_csv_report(df: DataFrame, path: str, header: bool = True) -> str:
    """Single-file CSV report (K2 analog). Returns the csv file path.

    ``coalesce(1)`` only collapses the FINAL write stage — upstream
    aggregation still runs distributed, unlike the reference's
    driver-side collect()+opencsv loop.
    """
    tmp = f"{path}.__tmp_{uuid.uuid4().hex}"
    df.coalesce(1).write.mode("overwrite").option("header", str(header).lower()).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    if os.path.exists(path):
        os.remove(path)
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


def dump_blobs(df: DataFrame, out_dir: str, id_col: str, payload_col: str) -> int:
    """Per-row binary dump (K4 analog of batch/ImageDump.scala:17-49).

    Writes each row's payload as ``<id>.bin`` under ``out_dir`` from
    the executors — distributed, no driver collect (the reference's
    version also wrote per-row from a ``foreach``). Returns the
    number of files THIS call wrote (per-partition write counts
    summed — a directory census would count pre-existing files in a
    reused out_dir and hide id collisions, so the return value would
    be useless as the write audit it documents).
    """
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows):
        n = 0
        for row in rows:
            payload = row[payload_col]
            if payload is None:
                continue
            with open(os.path.join(out_dir, f"{row[id_col]}.bin"), "wb") as f:
                f.write(bytes(payload))
            n += 1
        yield n

    return int(
        df.select(id_col, payload_col)
        .rdd.mapPartitions(write_partition)
        .sum()
    )
