"""Deterministic stand-in for the ``events`` fixture table.

The benchmark reads only inside its checkout, so it cannot open the
fixture directories that ship beside the repository.  It writes its own
``events`` table instead, with the fixtures' schema, row count
(``1_000_000 * sf``), single-file layout and value distributions:

* ``event_id`` 0..N-1; ``ts`` microseconds, ascending with ``event_id``
  over 30 days from 2024-01-01;
* ``user_id`` uniform over ``15_000 * sf`` users (1500 at sf0.1, 150 at
  sf0.01);
* ``event_type`` uniform over five types;
* ``value`` exponential with mean 50, rounded to cents;
* ``props`` ``{"k": n}`` with ``n`` uniform over 0..99.

``python3 perfbench/datagen.py <sf> <fixture events.parquet>`` prints the
profile of the generated table next to a fixture's, to check that they
still agree.  The benchmark's per-run ``--seed`` never reaches this
module; it drives the statement mix and producer payloads instead, so
every run reads the same table and it is built once per checkout.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated bytes change, so stale caches are rebuilt.
VERSION = 2
DATA_SEED = 20240101
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events(sf: float) -> pa.Table:
    rng = np.random.default_rng(DATA_SEED)
    n = int(1_000_000 * sf)
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64(
        "2024-01-01", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def build(root: str, sf: float) -> str:
    """Write ``events.parquet`` at scale ``sf`` under ``root/sf<sf>``
    (idempotent, version-keyed marker) and return that directory."""
    import shutil

    out = os.path.join(root, f"sf{sf}")
    marker = os.path.join(out, "_READY")
    key = f"v{VERSION}|{sf}"
    if os.path.exists(marker) and open(marker).read() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    pq.write_table(events(sf), os.path.join(out, "events.parquet"))
    with open(marker, "w") as fh:
        fh.write(key)
    return out


def profile(path: str) -> dict:
    """Summary statistics of an ``events`` table, for comparing the
    stand-in with a fixture."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}')")
    k = "CAST(json_extract_string(props, '$.k') AS INTEGER)"
    row = con.execute(f"""
        SELECT count(*), max(event_id), count(DISTINCT user_id),
               max(user_id), min(ts), max(ts),
               round(avg(value), 2), round(median(value), 2),
               round(stddev(value), 2), min({k}), max({k}),
               round(avg({k}), 2)
        FROM t""").fetchone()
    names = ("rows", "max_event_id", "users", "max_user_id", "min_ts",
             "max_ts", "value_mean", "value_median", "value_std", "k_min",
             "k_max", "k_mean")
    out = dict(zip(names, row))
    counts = [c for (c,) in con.execute(
        "SELECT count(*) FROM t GROUP BY event_type").fetchall()]
    out["type_share_min_max"] = (round(min(counts) / out["rows"], 3),
                                 round(max(counts) / out["rows"], 3))
    parts = [c for (c,) in con.execute(
        "SELECT count(*) FROM t GROUP BY user_id % 4").fetchall()]
    out["partition_share_min_max"] = (round(min(parts) / out["rows"], 3),
                                      round(max(parts) / out["rows"], 3))
    out["ts_ascending"] = con.execute(
        "SELECT count(*) = 0 FROM (SELECT ts < lag(ts) OVER (ORDER BY "
        "event_id) AS down FROM t) WHERE down").fetchone()[0]
    con.close()
    return out


if __name__ == "__main__":
    import tempfile

    sf, fixture = float(sys.argv[1]), sys.argv[2]
    with tempfile.TemporaryDirectory() as tmp:
        mine = profile(os.path.join(build(tmp, sf), "events.parquet"))
    theirs = profile(fixture)
    for name in mine:
        print(f"{name:>24}  {str(mine[name]):>28}  {str(theirs[name]):>28}")
