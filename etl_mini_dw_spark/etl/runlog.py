"""Run log (SURVEY §2.11 X7; reference `code/SQL_1…sql:574–586,1012–1023`).

One row per run: name, start/end, rows inserted/updated/deleted,
SUCCESS/FAIL + error message. The reference counts via ``@@ROWCOUNT``;
here the loaders tag every output row with ``change_tag`` and the
orchestrator aggregates the tags in the same action that materializes the
table — metrics cost no extra pass over the data.

Scale notes: counters are LongType (a 100 TB fact load overflows int32),
and each run APPENDS one new parquet file to the log directory — O(1)
per run, never a read+rewrite of the whole history. The log is driver-
sized metadata (1 row/run), so the append and the ``run_id`` max+1 read
(the reference's IDENTITY) run on the driver through the store's
``append_rows`` / ``read_rows``: no Spark job, and Spark still reads the
log with ``SCHEMA``'s types.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from etl_mini_dw_spark.etl.store import ParquetStore

RUNLOG_TABLE = "etl_run_log"

SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.LongType(), False),
        T.StructField("run_name", T.StringType(), False),
        T.StructField("start_time", T.TimestampType(), True),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("rows_inserted", T.LongType(), True),
        T.StructField("rows_updated", T.LongType(), True),
        T.StructField("rows_deleted", T.LongType(), True),
        T.StructField("run_status", T.StringType(), True),
        T.StructField("run_error_message", T.StringType(), True),
    ]
)


def append(
    spark: SparkSession,
    store: ParquetStore,
    run_name: str,
    start_time: datetime,
    end_time: datetime,
    rows_inserted: int = 0,
    rows_updated: int = 0,
    rows_deleted: int = 0,
    status: str = "SUCCESS",
    error: str | None = None,
) -> None:
    """S8 literal-row append; run_id = IDENTITY replacement (max+1)."""
    next_id = 1
    if store.exists(RUNLOG_TABLE):
        ids = [r["run_id"] for r in store.read_rows(spark, RUNLOG_TABLE, columns=["run_id"])]
        next_id = max(ids, default=0) + 1
    row = (
        next_id,
        run_name,
        start_time,
        end_time,
        rows_inserted,
        rows_updated,
        rows_deleted,
        status,
        error,
    )
    # one new file per run — never a rewrite of the existing log
    store.append_rows(spark, [row], SCHEMA, RUNLOG_TABLE)


def latest(spark: SparkSession, store: ParquetStore) -> dict[str, dict]:
    """The most recent row of every run name."""
    rows = sorted(store.read_rows(spark, RUNLOG_TABLE), key=lambda r: r["run_id"])
    return {r["run_name"]: r for r in rows}
