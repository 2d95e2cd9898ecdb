"""Output checks against the DuckDB oracles, run outside the timed sections.

A query's output is compared by ``tests/oracle_harness.compare``: same
column names, same row count, and equal rows once every cell is
canonicalised and both sides are sorted. The warehouse's end state is
compared inside DuckDB, which reads the stored parquet files: same
column names and types, and the same multiset of rows (``EXCEPT ALL``
both ways).
"""

from __future__ import annotations

import duckdb
from oracle_harness import compare, duck_connection

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.operators.fact import DIM_LINKS, FACT_COLS
from etl_mini_dw_spark.oracle import warehouse_sql

__all__ = ["duck_connection", "query_mismatch", "stored_mismatch", "warehouse_expectations", "without_one_row"]


def query_mismatch(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str) -> str | None:
    """The mismatch message, or None when the query output agrees."""
    try:
        compare(spark_df, con, sql, name)
    except AssertionError as e:
        return str(e)[:300]
    return None


def stored_mismatch(con: duckdb.DuckDBPyConnection, stored: str, oracle: str) -> str | None:
    """The mismatch message, or None when two relations hold the same rows."""
    schemas = [sorted(c[:2] for c in con.execute(f"DESCRIBE {rel}").fetchall()) for rel in (stored, oracle)]
    if schemas[0] != schemas[1]:
        return f"schema mismatch: stored {schemas[0]}, oracle {schemas[1]}"
    cols = ", ".join(name for name, _ in schemas[0])
    extra, missing = con.execute(
        f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM ({stored}) EXCEPT ALL SELECT {cols} FROM ({oracle}))),
                   (SELECT count(*) FROM (SELECT {cols} FROM ({oracle}) EXCEPT ALL SELECT {cols} FROM ({stored})))"""
    ).fetchone()
    if extra or missing:
        return f"{extra} stored rows are not in the oracle, {missing} oracle rows are not stored"
    return None


def without_one_row(relation: str) -> str:
    """The relation less one row, for the self-test of the checks."""
    return f"SELECT * FROM ({relation}) QUALIFY row_number() OVER () > 1"


def warehouse_expectations(store_dir: str) -> list[tuple[str, str, str]]:
    """(table, stored relation, oracle relation) for the ETL end state.

    After an initial load as of ``MID`` and an incremental load, each
    dimension must equal the two-phase oracle and the fact table the
    two-phase fact oracle. The fact is compared without its three SCD2
    foreign keys: the fact oracle resolves them against one-phase
    ``dim_initial`` dimensions, whose surrogate keys and delete dates
    differ from a warehouse that learned of each delete at its
    incremental load. The Stage-5 orphan checks cover those keys.
    """
    base = store_dir.replace("'", "''")
    out = []
    for dim in spec.DIMS.values():
        oracle = warehouse_sql.dim_two_phase_sql(dim, spec.MID, spec.NOW_FIXED)
        out.append(
            (
                dim.name,
                f"SELECT * FROM read_parquet('{base}/{dim.name}/*.parquet')",
                f"SELECT * EXCLUDE (change_tag) FROM ({oracle})",
            )
        )
    cols = ", ".join(c for c in FACT_COLS if c not in {fk for fk, _, _ in DIM_LINKS})
    out.append(
        (
            "fact_sales",
            f"SELECT {cols} FROM read_parquet('{base}/fact_sales/sales_year=*/*.parquet')",
            f"SELECT {cols} FROM ({warehouse_sql.fact_two_phase_sql(decimal_measures=True)})",
        )
    )
    return out
