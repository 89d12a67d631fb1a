"""Benchmark inputs: the engine's fixture tables, kept in ``fixtures/``,
and seeded event increments resampled from them.

``fixtures/sf0.01/`` holds the ten catalog tables the batch mix reads;
``fixtures/sf0.1/events.parquet`` is the 100,000-row event table the
ingest backlog is cut from. Both are byte copies of the engine's
deterministic test fixtures (seed 42), so the benchmark reads only
files inside its own directory. The run's ``--seed`` decides the
arrival-file split and every streamed increment; the tables themselves
never change.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BATCH_DIR = os.path.join(HERE, "fixtures", "sf0.01")
EVENTS_PATH = os.path.join(HERE, "fixtures", "sf0.1", "events.parquet")
MINUTE_US = 60_000_000


def fixture_key(data_dir: str) -> str:
    """sha1 over the names and bytes of the parquet files in ``data_dir``;
    keys the oracle digest cache."""
    h = hashlib.sha1()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            with open(os.path.join(data_dir, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stream_ready(table: pa.Table) -> pa.Table:
    """The fixture's zone-less ``ts`` as a UTC instant, the type the
    stream source schema declares. The values are unchanged: the session
    zone is UTC, which is also how ``load_table`` reads the column."""
    i = table.schema.get_field_index("ts")
    return table.set_column(
        i, "ts", table["ts"].cast(pa.timestamp("us", tz="UTC"))
    )


def backlog_events() -> pa.Table:
    return stream_ready(pq.read_table(EVENTS_PATH))


def increment(base: pa.Table, seed: int, i: int, rows: int) -> pa.Table:
    """Arrival ``i`` of the open loop: ``rows`` rows resampled from
    ``base`` (users, event types, values and props keep the fixture's
    distribution) with fresh event ids and timestamps in minute ``i``
    after the fixture ends, so every increment can change the state."""
    rng = np.random.default_rng([seed, i])
    take = base.take(np.sort(rng.integers(0, base.num_rows, rows)))
    id0 = int(pa.compute.max(base["event_id"]).as_py()) + 1 + i * rows
    t0 = pa.compute.max(base["ts"]).cast(pa.int64()).as_py() + (i + 1) * MINUTE_US
    ts = np.sort(t0 + rng.integers(0, MINUTE_US, rows))
    take = take.set_column(
        take.schema.get_field_index("event_id"), "event_id",
        pa.array(np.arange(id0, id0 + rows, dtype=np.int64)),
    )
    return take.set_column(
        take.schema.get_field_index("ts"), "ts",
        pa.array(ts, type=base.schema.field("ts").type),
    )


def split_files(table: pa.Table, n_files: int, seed: int) -> list[pa.Table]:
    """Seeded arrival split: rows shuffled, cut into ``n_files`` near-equal
    files, each kept in its own row order by the first column."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(table.num_rows)
    return [
        table.take(np.sort(part)) for part in np.array_split(order, n_files)
    ]


def write_atomic(table: pa.Table, path: str) -> None:
    """Write to a hidden temp name, then rename: the file source lists the
    directory and must never see a half-written file."""
    d, f = os.path.split(path)
    tmp = os.path.join(d, f".{f}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
