"""batch_queries: one client running one pass, in registry order, over
a fixed mix of 14 registered queries in a fresh session.

Each query is timed as two calls: ``QUERIES[name](spark, data_dir)``
(plan build, including any eager jobs the query function fires) and
``collect()``. Every result is checked against its DuckDB oracle digest.
The run's seed and seconds do not change this workload: the tables are
the fixture's and the pass is the measured unit.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import data
from digest import digest, oracle_digests

QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "latest_event_per_user_type",
    "user_sessions",
    "purchase_click_attribution",
    "events_asof_join",
    "geofence_containment",
    "best_latlng_per_user",
    "delivery_refinement",
    "doc_near_dup_pairs",
    "doc_dedup_clusters",
    "embedding_near_dup_pairs",
    "ann_topk_lsh",
)
QUERY_TIMEOUT_S = 60.0


def stage(cache_dir: str) -> tuple[str, dict]:
    """The fixture tables and their oracle digests (computed once per
    checkout, then read from the cache)."""
    from pulsar_spark_spark.plans import ORACLES

    oracles = oracle_digests(
        data.BATCH_DIR, ORACLES, list(QUERY_MIX),
        os.path.join(cache_dir, "oracle_digests.json"),
        data.fixture_key(data.BATCH_DIR),
    )
    return data.BATCH_DIR, oracles


def _pass(spark, tracer, data_dir, oracles) -> dict:
    from pulsar_spark_spark.plans import QUERIES

    recs = []
    t_pass = time.perf_counter()
    for name in QUERY_MIX:
        rec = {"name": name, "ok": False}
        try:
            t0 = time.perf_counter()
            with tracer.span(f"plans.{name}.build"):
                df = QUERIES[name](spark, data_dir)
            t1 = time.perf_counter()
            with tracer.span(f"plans.{name}.collect"):
                rows = df.collect()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, collect_s=t2 - t1, latency_s=t2 - t0)
            if tracer.enabled:
                rec["catalyst_ms"] = _catalyst_ms(spark, df)
            if digest(df.columns, rows) != oracles[name]:
                print(f"# {name}: result differs from its oracle")
            elif rec["latency_s"] > QUERY_TIMEOUT_S:
                print(f"# {name}: exceeded {QUERY_TIMEOUT_S} s")
            else:
                rec["ok"] = True
        except Exception as exc:  # counted, reported, pass continues
            print(f"# {name} failed: {exc!r}")
            traceback.print_exc()
        recs.append(rec)
    return {"wall": time.perf_counter() - t_pass, "queries": recs}


def _catalyst_ms(spark, df) -> float:
    """Analysis + optimization + planning of the collected plan, from
    its QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    jmap = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return float(sum(jmap.get(k).durationMs() for k in jmap.keySet()))


def run(spark, tracer, staged) -> dict:
    """No warm-up pass: the first pass over the mix in a fresh session
    is the measured unit (a batch job pays its JIT warm-up every run)."""
    data_dir, oracles = staged
    one = _pass(spark, tracer, data_dir, oracles)
    if tracer.enabled:
        load_tables(spark, tracer, data_dir)
    recs = one["queries"]
    lat = [r["latency_s"] for r in recs if "latency_s" in r]
    q = statistics.quantiles(lat, n=4) if len(lat) >= 2 else [0, 0, 0]
    failed = sum(not r["ok"] for r in recs)
    return {
        "e2e": {
            "pass_s": one["wall"],
            "latency_p50_s": q[1],
            "latency_p75_s": q[2],
        },
        "attempted": len(recs),
        "failed": failed,
        "correct": failed == 0,
        "cold_pass_s": one["wall"],
        "info": {"latency_samples": len(lat)},
        "raw": {"queries": recs},
    }


def load_tables(spark, tracer, data_dir) -> None:
    """One ``load_table`` per catalog table, each in its own span, so the
    per-read cost (time and schema-inference jobs) is measured alone."""
    from pulsar_spark_spark.sources.tables import load_table

    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            with tracer.span(f"sources.load_table.{name[:-8]}"):
                load_table(spark, name[:-8], data_dir)


def layer_metrics(raw: dict, spans, by_span) -> dict:
    """plans.* (pass totals, and per query) and sources.load_table_*."""
    from spans import totals

    out = {}
    span_jobs = {s["name"]: 0 for s in spans}
    for s in spans:
        span_jobs[s["name"]] += len(by_span.get(s["id"], []))
    recs = raw["queries"]
    for r in recs:
        name = r["name"]
        out[f"plans.{name}.build_s"] = r.get("build_s", 0.0)
        out[f"plans.{name}.build_jobs"] = span_jobs.get(f"plans.{name}.build", 0)
        out[f"plans.{name}.collect_s"] = r.get("collect_s", 0.0)
    for part in ("build", "collect"):
        out[f"plans.{part}_s"] = sum(r.get(f"{part}_s", 0.0) for r in recs)
        out[f"plans.{part}_jobs"] = sum(
            v for k, v in span_jobs.items()
            if k.startswith("plans.") and k.endswith(f".{part}")
        )
    out["plans.catalyst_ms"] = sum(r.get("catalyst_ms", 0.0) for r in recs)
    loads = [s for s in spans if s["name"].startswith("sources.load_table.")]
    out["sources.load_table_s"] = sum(s["end"] - s["start"] for s in loads)
    out["sources.load_table_jobs"] = totals(
        [j for s in loads for j in by_span.get(s["id"], [])]
    )["jobs"]
    return out
