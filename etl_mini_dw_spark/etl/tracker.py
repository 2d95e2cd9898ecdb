"""Watermark tracker (SURVEY §2.11 X8; reference `code/SQL_1…sql:242–257`).

One row per target table: ``last_successful_load`` (MAX source change-ts
ingested — *data-driven*, never wall-clock, `code/SQL_1…sql:643–651`) and
``last_successful_execution_time``. Seeded at 1900-01-01 so the first run
ingests full history (`code/SQL_1…sql:250–255`).

The tracker is tiny (one row per table), so it never goes through Spark:
it is a plain parquet table the store reads and rewrites on the driver
(``ParquetStore.read_rows`` / ``write_rows``, pyarrow) — the reference's
scalar-subquery lookup (P11) at the cost of a file read, not a job. Each
update is a new generation through the store's swap, and Spark still
reads the table with ``SCHEMA``'s types. Updated only *after* the target
table's swap commits, uniformly for dims and fact (the reference is
inconsistent here — SURVEY §3.3 — we fix that deliberately).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from etl_mini_dw_spark.etl.store import ParquetStore
from etl_mini_dw_spark.fixtures_spec import LOW

TRACKER_TABLE = "etl_load_tracker"

SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("last_successful_load", T.TimestampType(), True),
        T.StructField("last_successful_execution_time", T.TimestampType(), True),
    ]
)

TRACKED_TABLES = ["dim_customer", "dim_salesperson", "dim_product", "fact_sales"]


def seed(spark: SparkSession, store: ParquetStore) -> None:
    """G3 VALUES-constructor seed rows, idempotent (S10 guard)."""
    if store.exists(TRACKER_TABLE):
        return
    low = datetime.strptime(LOW, "%Y-%m-%d %H:%M:%S")
    store.write_rows(spark, [(t, low, None) for t in TRACKED_TABLES], SCHEMA, TRACKER_TABLE)


def read_watermark(spark: SparkSession, store: ParquetStore, table: str) -> str:
    rows = {r["table_name"]: r for r in store.read_rows(spark, TRACKER_TABLE)}
    return rows[table]["last_successful_load"].strftime("%Y-%m-%d %H:%M:%S")


def advance(
    spark: SparkSession,
    store: ParquetStore,
    table: str,
    new_load_ts: datetime | None,
    exec_time: datetime,
) -> None:
    """Execution time always; load watermark only if the batch was non-empty
    (`code/SQL_1…sql:643–651,887–894`)."""
    rows = store.read_rows(spark, TRACKER_TABLE)
    for r in rows:
        if r["table_name"] != table:
            continue
        r["last_successful_execution_time"] = exec_time
        if new_load_ts is not None:
            # MONOTONIC advance: a delta batch can contain only old rows
            # (e.g. a re-qualifying closed archive row), whose
            # MAX(valid_from) lies BEFORE the current watermark — the
            # reference's raw MAX would regress the tracker and re-open
            # already-ingested history (`code/SQL_1…sql:643–651` has this
            # latent bug; we fix it). Like SQL GREATEST, a NULL is skipped.
            cur = r["last_successful_load"]
            r["last_successful_load"] = new_load_ts if cur is None else max(cur, new_load_ts)
    store.write_rows(
        spark, [tuple(r[c] for c in SCHEMA.names) for r in rows], SCHEMA, TRACKER_TABLE
    )
