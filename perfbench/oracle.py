"""Spark-independent expectations for the benchmark's correctness checks.

Export and convert outputs are checked against the generator's truth
(row counts and exact wei sums per range), read back with DuckDB.
Chain queries are re-run by DuckDB over the same Parquet files.
Corpus operators are checked against the catalog's DuckDB twins
(`plans.ALL_QUERIES[...].sql_text()`) over views of the generated
corpus; clusters and kept documents against a union-find over the
twin's near-duplicate pairs.
"""

from __future__ import annotations

import decimal
import glob
import math

import duckdb


def norm(value):
    """One comparable form for Spark and DuckDB values."""
    if isinstance(value, decimal.Decimal):
        return int(value) if value == value.to_integral_value() else float(value)
    if isinstance(value, float):
        return None if math.isnan(value) else round(value, 9)
    if isinstance(value, (list, tuple)):
        return tuple(norm(v) for v in value)
    return value


def rows(result) -> list[tuple]:
    """Sorted normalized rows of a Spark `collect()` or DuckDB
    `fetchall()` result."""
    return sorted((tuple(norm(v) for v in r) for r in result),
                  key=lambda r: tuple((v is None, str(v)) for v in r))


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    return con


# ------------------------------------------------------- export / convert

def _files(fmt: str, root: str, table: str) -> str:
    return f"{root}/{table}/*/*/*.{fmt}"


def _hive(fmt: str, root: str, table: str) -> str:
    files = _files(fmt, root, table)
    if fmt == "csv":
        return (f"read_csv('{files}', header=true, all_varchar=true, "
                f"hive_partitioning=true, hive_types_autocast=false)")
    return (f"read_parquet('{files}', hive_partitioning=true, "
            f"hive_types_autocast=false)")


def counts_per_range(con, fmt: str, root: str, table: str,
                     wei_col: str | None = None) -> dict[tuple[int, int], tuple]:
    """(start, end) → (rows,) or (rows, exact wei sum) for a
    Hive-partitioned table written as `fmt` ('csv' or 'parquet');
    empty when the table was not written."""
    if not glob.glob(_files(fmt, root, table)):
        return {}
    agg = "count(*)" + (f", sum(CAST({wei_col} AS DECIMAL(38,0)))"
                        if wei_col else "")
    got = con.execute(
        f"SELECT start_block, end_block, {agg} FROM {_hive(fmt, root, table)} "
        f"GROUP BY ALL").fetchall()
    return {(int(r[0]), int(r[1])): tuple(norm(v) for v in r[2:]) for r in got}


# ---------------------------------------------------------- chain queries

def chain_views(con, pq_root: str, tables: tuple[str, ...]) -> None:
    """A view per table that was written; a query over a missing one
    fails in DuckDB as it did in Spark."""
    for t in tables:
        if glob.glob(_files("parquet", pq_root, t)):
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"{_hive('parquet', pq_root, t)}")


# ------------------------------------------------------------- corpus

def corpus_views(con, documents: str, embeddings: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW documents AS "
                f"SELECT * FROM read_parquet('{documents}')")
    con.execute(f"CREATE OR REPLACE VIEW embeddings AS "
                f"SELECT * FROM read_parquet('{embeddings}')")


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node → min node id of its connected component (nodes in pairs)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
