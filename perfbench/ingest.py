"""stream_ingest: the reference's core ingest identity, file micro-batches
-> per-batch dedup -> checkpointed keyed upsert
(``streaming.pipeline.run_dedup_upsert_stream`` over ``stream_events``).

Two phases, in a fresh session:

1. Drains: the 100,000-row fixture event table, cut into seeded arrival
   files, is drained by one ``availableNow`` run into fresh state, three
   times. The first drain warms the JVM and is reported only;
   ``pass_s`` is the median (the mean) wall of the other two.
2. Open loop, on the last drained stream: a generator thread writes
   seeded event files atomically on a fixed schedule that does not slow
   when the stream does. The benchmark re-runs the ``availableNow``
   query whenever unconsumed files exist (the scheduled-incremental
   shape of that trigger). A file's latency is the time from its
   *scheduled* creation to the end of the run whose committed batch
   lists it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import traceback

import data

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
BACKLOG_FILES = 8
DRAIN_FILES_PER_TRIGGER = 1
DRAINS = 3
INC_ROWS = 2000
INC_PERIOD_S = 0.4
LOOP_FILES_PER_TRIGGER = 16
RUN_TIMEOUT_S = 60.0


def _expected_state(paths: list[str]):
    """Reference: the newest row per (user_id, event_type) by
    (ts, event_id) over every delivered file, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in paths)
    rows = con.execute(f"""
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value
        FROM read_parquet([{files}])
        QUALIFY row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) = 1
    """).fetchall()
    con.close()
    return rows


def _state_rows(spark, state_dir: str):
    import pyspark.sql.functions as F

    from pulsar_spark_spark.sources.sinks import read_upsert_table

    st = read_upsert_table(spark, state_dir)
    rows = st.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"),
        "event_id", "value",
    ).collect()
    size = sum(os.path.getsize(f.replace("file:", "", 1)) for f in st.inputFiles())
    return rows, size


class Stream:
    """One stream's input, state and checkpoint directories."""

    def __init__(self, root: str):
        self.input = os.path.join(root, "in")
        self.state = os.path.join(root, "state")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.input)

    def run(self, spark, files_per_trigger: int):
        """One availableNow run to completion. Returns (wall, progress)."""
        from pulsar_spark_spark.streaming.pipeline import (
            run_dedup_upsert_stream,
            stream_events,
        )

        t0 = time.perf_counter()
        q = run_dedup_upsert_stream(
            stream_events(spark, self.input, SCHEMA, files_per_trigger),
            self.state,
            self.ckpt,
        )
        if not q.awaitTermination(RUN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"availableNow run exceeded {RUN_TIMEOUT_S} s")
        return time.perf_counter() - t0, [json.loads(p.json) for p in q.recentProgress]

    def committed(self, batch_id: int) -> list[str]:
        """File names the checkpoint lists for a committed batch. Every
        tenth source-log entry is compacted (``<id>.compact``, holding
        all earlier batches too), so entries are matched on batchId."""
        if not os.path.exists(os.path.join(self.ckpt, "commits", str(batch_id))):
            return []
        log = os.path.join(self.ckpt, "sources", "0", str(batch_id))
        if not os.path.exists(log):
            log += ".compact"
        with open(log) as fh:
            entries = [json.loads(ln) for ln in fh.read().splitlines()[1:] if ln]
        return [
            os.path.basename(e["path"]) for e in entries if e["batchId"] == batch_id
        ]


class Loop:
    """Open-loop generator: file i is due at ``t0 + i * period``."""

    def __init__(self, stream: Stream, tables, period: float):
        self.stream, self.tables, self.period = stream, tables, period
        self.due: dict[str, float] = {}
        self.written: list[str] = []
        self.lag_max = 0.0
        self.lock = threading.Lock()
        self.thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self.t0 = time.time() + 0.05
        self.thread.start()

    def _run(self) -> None:
        for i, table in enumerate(self.tables):
            name = f"inc{i:05d}.parquet"
            due = self.t0 + i * self.period
            time.sleep(max(0.0, due - time.time()))
            data.write_atomic(table, os.path.join(self.stream.input, name))
            with self.lock:
                self.due[name] = due
                self.written.append(name)
                self.lag_max = max(self.lag_max, time.time() - due)

    def snapshot(self) -> list[str]:
        with self.lock:
            return list(self.written)


def _drain(spark, tracer, stream, backlog):
    for i, table in enumerate(backlog):
        data.write_atomic(table, os.path.join(stream.input, f"b{i:05d}.parquet"))
    with tracer.span("streaming.drain"):
        wall, progress = stream.run(spark, DRAIN_FILES_PER_TRIGGER)
    return wall, progress


def _inputs(stream: Stream) -> list[str]:
    return [
        os.path.join(stream.input, f)
        for f in sorted(os.listdir(stream.input)) if f.endswith(".parquet")
    ]


def run(spark, tracer, work: str, seed: int, seconds: int) -> dict:
    """The drains, then the open loop on the last drained stream; returns e2e
    values, operation counts and the raw records the per-layer metrics
    are built from."""
    base = data.backlog_events()
    backlog = data.split_files(base, BACKLOG_FILES, seed)
    n_inc = max(1, int(round(seconds / INC_PERIOD_S)))
    increments = [data.increment(base, seed, i, INC_ROWS) for i in range(n_inc)]
    attempted = failed = 0
    walls, progress, expected = {}, [], None
    enabled = tracer.enabled
    for k in range(DRAINS):
        stream = Stream(os.path.join(work, f"drain{k}"))
        # the first drain warms the JVM: untraced, reported as
        # session.cold_pass_s only
        tracer.enabled = enabled and k > 0
        attempted += 1
        try:
            wall, prog = _drain(spark, tracer, stream, backlog)
            if expected is None:
                expected = data_digest(_expected_state(_inputs(stream)))
            rows, _ = _state_rows(spark, stream.state)
            if data_digest(rows) != expected:
                raise AssertionError("drained state differs from the reference")
            walls[k] = wall
            if k > 0:
                progress += prog
        except Exception as exc:  # counted, reported, run continues
            failed += 1
            print(f"# drain {k} failed: {exc!r}")
            traceback.print_exc()
    loop = Loop(stream, increments, INC_PERIOD_S)
    consumed: dict[str, float] = {}
    runs = []
    backlog_end = None
    loop.start()
    deadline = loop.t0 + n_inc * INC_PERIOD_S + RUN_TIMEOUT_S
    while time.time() < deadline:
        written = loop.snapshot()
        if backlog_end is None and not loop.thread.is_alive():
            backlog_end = len(written) - len(consumed)
        if len(consumed) == len(written):
            if not loop.thread.is_alive():
                break
            time.sleep(0.005)
            continue
        t_start = time.time()
        try:
            with tracer.span("streaming.run"):
                wall, prog = stream.run(spark, LOOP_FILES_PER_TRIGGER)
        except Exception as exc:
            print(f"# open-loop run failed: {exc!r}")
            traceback.print_exc()
            break
        t_end = time.time()
        files = []
        for p in prog:
            files += stream.committed(p["batchId"])
        for f in files:
            consumed[f] = t_end
        runs.append({"start": t_start, "end": t_end, "wall": wall,
                     "files": len(files), "progress": prog})
        progress += prog
    loop.thread.join(timeout=RUN_TIMEOUT_S)
    written = loop.snapshot()
    latencies = [consumed[f] - loop.due[f] for f in written if f in consumed]
    attempted += n_inc
    failed += n_inc - len(latencies)
    # the final state must equal the reference over every delivered file
    rows, state_bytes = _state_rows(spark, stream.state)
    correct = data_digest(rows) == data_digest(_expected_state(_inputs(stream)))
    if not correct:  # the loop's output is wrong: none of its files counts
        print("# final state differs from the reference")
        failed += len(latencies)
    q = statistics.quantiles(latencies, n=4) if len(latencies) >= 2 else [0, 0, 0]
    return {
        "e2e": {
            "pass_s": _p50([w for k, w in walls.items() if k > 0]),
            "latency_p50_s": q[1],
            "latency_p75_s": q[2],
        },
        "attempted": attempted,
        "failed": failed,
        "correct": correct and failed == 0,
        "cold_pass_s": walls.get(0, 0.0),
        "info": {
            "drain_walls_s": [round(w, 3) for w in walls.values()],
            "arrivals": n_inc,
            "latency_deciles_s": [
                round(x, 3) for x in statistics.quantiles(latencies, n=10)
            ] if len(latencies) >= 2 else [],
            "run_walls_p50_s": round(_p50([r["wall"] for r in runs]), 3),
            "run_walls_max_s": round(max((r["wall"] for r in runs), default=0.0), 3),
            "files_per_run": round(sum(r["files"] for r in runs) / max(1, len(runs)), 2),
            "latency_samples": len(latencies),
        },
        "raw": {
            "progress": progress,
            "runs": runs,
            "backlog_files_end": backlog_end or 0,
            "generator_lag_s_max": loop.lag_max,
            "state_rows": len(rows),
            "state_bytes": state_bytes,
        },
    }


def data_digest(rows) -> str:
    from digest import digest

    return digest(["user_id", "event_type", "ts_us", "event_id", "value"],
                  [tuple(r) for r in rows])


def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(raw: dict) -> dict:
    """streaming.* and sources.state_mb from one traced measurement."""
    prog = raw["progress"]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    runs = raw["runs"]
    overhead = [
        r["wall"] * 1000.0 - sum(dur(p, "triggerExecution") for p in r["progress"])
        for r in runs
    ]
    return {
        "streaming.batches": len(prog),
        "streaming.trigger_ms_p50": _p50([dur(p, "triggerExecution") for p in prog]),
        "streaming.add_batch_ms_p50": _p50([dur(p, "addBatch") for p in prog]),
        "streaming.planning_ms_p50": _p50([dur(p, "queryPlanning") for p in prog]),
        "streaming.offsets_ms_p50": _p50([dur(p, "latestOffset", "getBatch") for p in prog]),
        "streaming.commit_ms_p50": _p50([dur(p, "walCommit", "commitOffsets") for p in prog]),
        "streaming.run_overhead_ms_p50": _p50(overhead),
        "streaming.runs": len(runs),
        "streaming.files_per_run": (
            sum(r["files"] for r in runs) / len(runs) if runs else 0.0
        ),
        "streaming.backlog_files_end": raw["backlog_files_end"],
        "streaming.generator_lag_ms_max": raw["generator_lag_s_max"] * 1000.0,
        "streaming.state_rows": raw["state_rows"],
        "sources.state_mb": raw["state_bytes"] / (1024.0 * 1024.0),
    }
