"""Order-insensitive result digests, and the DuckDB oracle that sets them.

A digest is (row count, sha256 over the rows as the repository's
Spark-vs-DuckDB comparison normalises them: columns ordered by name,
values normalised, rows sorted; see ``tests/oracle_utils.py``). The
oracle side runs a registered query's DuckDB SQL over the same parquet
files the Spark side reads, once, in set-up; every timed op's collected
result must reproduce it exactly.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from tests.oracle_utils import normalize_rows


def digest(cols: list[str], rows) -> tuple[int, str]:
    normed = normalize_rows(cols, rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    for row in normed:
        h.update(b"\n" + "\x1f".join(row).encode())
    return len(normed), h.hexdigest()


def oracle_digests(sql_by_name: dict[str, str], data_dir: str) -> dict[str, tuple[int, str]]:
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        out = {}
        for name, sql in sql_by_name.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()
