"""Output checks: order-insensitive digests, DuckDB oracles, generator truth.

Every check runs after the timed region. A result frame is reduced to a
digest that ignores row and column order (columns sorted by name, rows by
value, then the md5 of the CSV rendering, the same canonical form the
repository's oracle-parity tests hash) and compared with the digest of the
expected frame: the engine's own DuckDB oracle where one exists, otherwise
a frame built from the generator's truth.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds


def digest(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def oracle_frames(views: dict[str, str], sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL on DuckDB views over the given parquet globs."""
    con = duckdb.connect()
    try:
        for name, glob in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        return {k: con.execute(sql).df() for k, sql in sqls.items()}
    finally:
        con.close()


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path`` (hive partitions ignored)."""
    return ds.dataset(path, format="parquet", exclude_invalid_files=True).count_rows()


def files_under(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def components(pairs: pd.DataFrame) -> pd.DataFrame:
    """Connected components of a (doc_a, doc_b) pair graph in the layout of
    ``pipeline.dup_groups``: min member id, member count, sorted ids."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    rows = [(min(m), len(m), ",".join(map(str, sorted(m)))) for m in groups.values() if len(m) >= 2]
    return pd.DataFrame(rows, columns=["group_id", "n_docs", "doc_ids"])


def mismatches(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    """Names whose digests differ (a missing result counts as a mismatch)."""
    return sorted(k for k in want if k not in got or digest(got[k]) != digest(want[k]))
