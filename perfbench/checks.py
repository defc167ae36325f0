"""Output checks: query results against the registry's DuckDB oracles,
and the built KGX bundle against a DuckDB recount of its sources.

Everything here runs outside the timed passes.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from perfbench.data import TABLES


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    floats rounded to 6 places, every value stringified, rows sorted.
    The same canonical form the repository's oracle harness compares."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def duckdb_over(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    from orion_spark.plans.queries import ORACLES

    con = duckdb_over(data_dir)
    try:
        return {n: result_hash(con.execute(ORACLES[n]).df()) for n in names}
    finally:
        con.close()


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet', union_by_name=true)"


def merge_recount(primary: list[str], subset: str, edge_key_cols: list[str]) -> tuple[int, int]:
    """Node and edge counts a build must produce from the `default`
    source bundles `primary` plus the `connected_edge_subset` bundle
    `subset`: distinct node ids, and distinct edge merge keys, after the
    subset source keeps only edges touching a primary node and the nodes
    those kept edges reference."""
    con = duckdb.connect()
    try:
        pn = " UNION ALL ".join(f"SELECT id FROM {_parquet(p + '/nodes')}" for p in primary)
        pe = " UNION ALL BY NAME ".join(f"SELECT * FROM {_parquet(p + '/edges')}" for p in primary)
        con.execute(f"CREATE TEMP VIEW pn AS {pn}")
        con.execute(f"CREATE TEMP VIEW pe AS {pe}")
        con.execute(f"""CREATE TEMP VIEW ke AS
            SELECT * FROM {_parquet(subset + '/edges')}
            WHERE subject IN (SELECT id FROM pn) OR object IN (SELECT id FROM pn)""")
        con.execute(f"""CREATE TEMP VIEW kn AS
            SELECT id FROM {_parquet(subset + '/nodes')}
            WHERE id IN (SELECT subject FROM ke UNION SELECT object FROM ke)""")
        n_nodes = con.execute(
            "SELECT count(DISTINCT id) FROM (SELECT id FROM pn UNION ALL SELECT id FROM kn)"
        ).fetchone()[0]
        present = {
            r[0] for r in con.execute(
                "SELECT column_name FROM (DESCRIBE SELECT * FROM pe UNION ALL BY NAME "
                "SELECT * FROM ke)"
            ).fetchall()
        }
        cols = ", ".join(c for c in edge_key_cols if c in present)
        n_edges = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM "
            "(SELECT * FROM pe UNION ALL BY NAME SELECT * FROM ke))"
        ).fetchone()[0]
        return int(n_nodes), int(n_edges)
    finally:
        con.close()


def bundle_digest(bundle: str) -> str:
    """Order-insensitive content digest of a bundle's nodes and edges:
    row count plus the sum of per-row hashes, for each table."""
    con = duckdb.connect()
    try:
        parts = []
        for table in ("nodes", "edges"):
            n, h = con.execute(
                f"SELECT count(*), sum(hash(t)::HUGEINT) FROM "
                f"{_parquet(os.path.join(bundle, table))} t"
            ).fetchone()
            parts.append(f"{table}:{n}:{h}")
        return ";".join(parts)
    finally:
        con.close()
