"""Order-insensitive value digest of a result, and the DuckDB oracle
digests it is checked against.

The value hash is the engine's correctness gate itself
(``tools/check_correctness.py``: columns sorted by name, values
normalised, rows sorted, md5), loaded from the checkout so the two can
never drift apart. The digest adds the sorted column names and the row
count in front of it, so a schema drift also mismatches.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

_GATE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "check_correctness.py",
)


def _gate_hash():
    spec = importlib.util.spec_from_file_location("check_correctness", _GATE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._hash


_hash = _gate_hash()


def digest(cols: list[str], rows) -> str:
    rows = list(rows)
    return f"{'|'.join(sorted(cols))}#{len(rows)}#{_hash(cols, rows)}"


def oracle_digests(data_dir: str, oracles: dict[str, str],
                   names: list[str], cache_path: str, data_key: str) -> dict:
    """DuckDB digests for ``names``, cached in ``cache_path``.

    A cache entry is keyed by the fixture bytes and the query's oracle
    SQL text, so a changed oracle recomputes it. DuckDB is slow on the
    dedup oracles, which is why the digests are computed once per
    checkout and not inside the timed loop.
    """
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    keys = {
        n: hashlib.sha1(f"{data_key}\n{oracles[n]}".encode()).hexdigest()
        for n in names
    }
    missing = [n for n in names if cache.get(n, {}).get("key") != keys[n]]
    if missing:
        import duckdb

        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute("SET enable_progress_bar = false")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                p = os.path.join(data_dir, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{p}')"
                )
        for n in missing:
            res = con.execute(oracles[n])
            cols = [d[0] for d in res.description]
            cache[n] = {"key": keys[n], "digest": digest(cols, res.fetchall())}
            tmp = f"{cache_path}.tmp"  # saved per query: an interrupted run keeps its progress
            with open(tmp, "w") as fh:
                json.dump(cache, fh, indent=1, sort_keys=True)
            os.replace(tmp, cache_path)
        con.close()
    return {n: cache[n]["digest"] for n in names}
