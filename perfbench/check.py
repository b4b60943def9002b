"""Output checks with DuckDB as the independent oracle.

Each check compares a digest of what the program wrote with a digest
DuckDB computes from the inputs alone: row count, distinct primary
keys, and an order-insensitive sum of per-row hashes. Column values are
canonicalized before hashing (timestamps to epoch microseconds, names
matched case-insensitively), so a Derby round trip or a Spark re-encode
of the same values digests the same.
"""

from __future__ import annotations

# timestamp columns of the replicated tables
_TS_COLS = {"o_orderdate", "l_shipdate"}


def _canon(col: str) -> str:
    return f"epoch_us({col})" if col in _TS_COLS else col


def digest(con, relation: str, cols: list[str], pk: list[str]) -> tuple:
    """(rows, distinct pks, hash sum) of ``relation`` (SQL FROM item) on
    the DuckDB connection ``con``."""
    row = ", ".join(_canon(c) for c in cols)
    key = ", ".join(pk)
    return con.execute(
        f"SELECT count(*), count(DISTINCT ({key})), "
        f"coalesce(sum(hash({row})::HUGEINT), 0)::VARCHAR FROM {relation}"
    ).fetchone()


def parquet(path_or_glob: str | list[str]) -> str:
    """FROM item for parquet files (a Spark output dir ends in ``/``)."""
    if isinstance(path_or_glob, list):
        files = ", ".join(f"'{p}'" for p in path_or_glob)
        return f"read_parquet([{files}])"
    if path_or_glob.endswith("/"):
        path_or_glob += "*.parquet"
    return f"read_parquet('{path_or_glob}')"


def upserted(base: str, delta: str, pk: list[str]) -> str:
    """FROM item: ``base`` with ``delta`` rows replacing/adding on ``pk``."""
    on = " AND ".join(f"b.{k} = d.{k}" for k in pk)
    return (
        f"(SELECT * FROM {delta} UNION ALL SELECT * FROM {base} b "
        f"WHERE NOT EXISTS (SELECT 1 FROM {delta} d WHERE {on}))"
    )


def last_wins(files: str, pk: list[str], order_col: str) -> str:
    """FROM item: newest row per ``pk`` by ``order_col``."""
    key = ", ".join(pk)
    return (
        f"(SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {key} ORDER BY {order_col} DESC) AS __rn FROM {files}) "
        f"WHERE __rn = 1)"
    )
