"""Result hashing shared by every workload's output check.

The hashing rule is ``scripts/verify_local.py``'s ``table_hash``, imported
from there: columns sorted by name, rows sorted by their canonical text,
sha256 over the lines — order- and layout-insensitive, exact on values.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from verify_local import table_hash  # noqa: E402


def duck_connect(sf_dir: str, tables: list[str]):
    """DuckDB connection holding each fixture table (file or directory
    layout), loaded into memory."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def duck_hash(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    return table_hash([d[0] for d in res.description], res.fetchall())
