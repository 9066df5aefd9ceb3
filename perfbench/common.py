"""Small helpers shared by the workloads."""

from __future__ import annotations

import os


def parquet_glob(path: str) -> str:
    """DuckDB table expression over a Spark-written parquet directory."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [c[0] for c in cur.description], cur.fetchall()


def duck_hash(con, sql: str, table_hash) -> tuple[str, int]:
    """(order-insensitive value hash, row count) of a DuckDB query."""
    cols, rows = duck_rows(con, sql)
    return table_hash(rows, cols), len(rows)


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names)


def count(counters: dict, **inc) -> None:
    for k, v in inc.items():
        counters[k] = counters.get(k, 0) + v


def stat_key(path: str):
    """(size, mtime_ns, inode) of a file, or None when it does not exist."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino
