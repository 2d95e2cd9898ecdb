"""ParquetStore write protocol: generation swap, partition-scoped merge,
and torn-state recovery (SCALE.md §writes; the poor-man's Delta commit)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import ParquetStore


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, y int")


def test_swap_partitions_touches_only_named_dirs(spark, tmp_path):
    store = ParquetStore(str(tmp_path))
    base = _mk(spark, [(1, "a", 2000), (2, "b", 2001), (3, "c", 2002)])
    store.write(base, "t", partition_by=["y"])
    untouched = os.path.join(store.path("t"), "y=2000")
    mtime_before = os.path.getmtime(untouched)

    store.swap_partitions(
        _mk(spark, [(2, "B2", 2001), (9, "new", 2003)]), "t", "y", [2001, 2003]
    )
    got = {
        (r["k"], r["v"], r["y"]) for r in store.read(spark, "t").collect()
    }
    assert got == {(1, "a", 2000), (2, "B2", 2001), (3, "c", 2002), (9, "new", 2003)}
    # the untouched partition dir was not rewritten
    assert os.path.getmtime(untouched) == mtime_before
    assert not [d for d in os.listdir(store.path("t")) if d.startswith("._old")]


def test_partition_swap_torn_state_recovers(spark, tmp_path):
    store = ParquetStore(str(tmp_path))
    store.write(_mk(spark, [(1, "a", 2000), (2, "b", 2001)]), "t", partition_by=["y"])
    final = store.path("t")
    # simulate a crash between the two renames: partition moved aside,
    # replacement never landed
    os.rename(os.path.join(final, "y=2001"), os.path.join(final, "._oldpart_y=2001"))
    got = {(r["k"], r["y"]) for r in store.read(spark, "t").collect()}
    assert got == {(1, 2000), (2, 2001)}  # recovered, nothing lost


def test_table_swap_torn_state_recovers(spark, tmp_path):
    store = ParquetStore(str(tmp_path))
    store.write(_mk(spark, [(1, "a", 2000)]), "t")
    os.rename(store.path("t"), store.path("t") + "._old_deadbeef")
    assert store.exists("t")  # _recover restored the sole old generation
    assert store.read(spark, "t").count() == 1


def test_empty_delta_writes_nothing(spark, sf_dir, tmp_path):
    """A rerun with an empty delta must not touch the fact table files."""
    from etl_mini_dw_spark import fixtures_spec as spec
    from etl_mini_dw_spark.etl.orchestrate import Warehouse

    w = Warehouse(spark, str(tmp_path / "wh"), sf_dir)
    w.init()
    w.run_all(now_ts=spec.NOW_FIXED)
    fact_dir = w.store.path("fact_sales")
    mtimes = {
        d: os.path.getmtime(os.path.join(fact_dir, d)) for d in os.listdir(fact_dir)
    }
    metrics = w.load_fact()
    assert metrics == {}
    assert {
        d: os.path.getmtime(os.path.join(fact_dir, d)) for d in os.listdir(fact_dir)
    } == mtimes


def test_warehouse_fact_equals_direct_full_build(spark, sf_dir, tmp_path):
    """Two-phase warehouse fact (partition-scoped merge path) ≡ the direct
    full build on every SK-stable column — the §5 equivalence property
    through the MERGE write. Dim FK columns are excluded because two-phase
    dims number their surrogate keys differently from a full build (the
    dim equivalence test excludes SKs for the same reason); FK integrity
    is covered by the orphan checks in test_warehouse.py."""
    from etl_mini_dw_spark import fixtures_spec as spec
    from etl_mini_dw_spark.etl.orchestrate import Warehouse
    from etl_mini_dw_spark.operators import fact

    w = Warehouse(spark, str(tmp_path / "wh"), sf_dir)
    w.init()
    w.run_all(as_of=spec.MID, now_ts=spec.NOW_FIXED)
    w.run_all(now_ts=spec.NOW_FIXED)
    cols = [
        c
        for c in fact.FACT_COLS
        if c not in ("sales_customerid", "sales_salespersonid", "sales_productid")
    ]
    direct = fact.fact_initial(spark, sf_dir).select(*cols)
    stored = w.table("fact_sales").select(*cols)
    assert stored.exceptAll(direct).count() == 0
    assert direct.exceptAll(stored).count() == 0


def test_generation_retention_and_time_travel(spark, tmp_path):
    """keep_generations retains N past states readable via read_generation;
    retention prunes beyond N; default writes never wipe retained
    snapshots; past the horizon raises."""
    import pytest

    from etl_mini_dw_spark.etl.store import ParquetStore

    store = ParquetStore(str(tmp_path / "tt"))
    for v in (1, 2, 3):
        store.write(spark.range(v).selectExpr("id", f"{v} AS gen"), "t", keep_generations=2)
    assert store.read(spark, "t").agg({"gen": "max"}).first()[0] == 3
    assert store.read_generation(spark, "t", back=1).first()["gen"] == 2
    assert store.read_generation(spark, "t", back=2).first()["gen"] == 1
    assert len(store.generations("t")) == 2  # pruned to the policy
    with pytest.raises(ValueError):
        store.read_generation(spark, "t", back=3)
    # a default (no-retention) write must not wipe retained snapshots
    store.write(spark.range(4).selectExpr("id", "4 AS gen"), "t")
    assert store.read_generation(spark, "t", back=1).first()["gen"] == 2
    # back=0 is the live table
    assert store.read_generation(spark, "t", back=0).agg({"gen": "max"}).first()[0] == 4
    store.drop("t")
    assert store.generations("t") == []


def test_driver_written_metadata_reads_back_through_spark(spark, tmp_path):
    """Tracker and run-log rows written on the driver (pyarrow) read back
    through Spark with the declared types — TimestampType, not NTZ — and
    the same values as the Spark write path they replace, FAIL row and
    NULLs included."""
    from datetime import datetime

    from etl_mini_dw_spark.etl import runlog, tracker

    t0, t1 = datetime(2001, 2, 3, 4, 5, 6, 789012), datetime(2001, 2, 3, 4, 5, 7)
    cases = [
        (
            tracker.SCHEMA,
            [("dim_customer", datetime(1998, 1, 27), t0), ("fact_sales", datetime(1900, 1, 1), None)],
        ),
        (
            runlog.SCHEMA,
            [
                (1, "etl_load_dim_customer", t0, t1, 2**40, 3, 0, "SUCCESS", None),
                (2, "etl_load_fact_sales", t0, t1, 0, 0, 0, "FAIL", "boom"),
            ],
        ),
    ]
    for i, (schema, rows) in enumerate(cases):
        driver, via_spark = ParquetStore(str(tmp_path / f"d{i}")), ParquetStore(str(tmp_path / f"s{i}"))
        driver.write_rows(spark, rows[:1], schema, "t")
        driver.append_rows(spark, rows[1:], schema, "t")
        spark.createDataFrame(rows, schema).write.parquet(via_spark.path("t"))
        got = driver.read(spark, "t")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in schema
        ]
        want = via_spark.read(spark, "t")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())) == rows
        # the driver reads both its own files and ones Spark wrote
        for store in (driver, via_spark):
            assert sorted(tuple(r.values()) for r in store.read_rows(spark, "t")) == rows


def test_warehouse_metadata_driver_and_spark_views_agree(spark, tmp_path):
    """A warehouse's tracker and run log — FAIL row included — read the
    same through ``wh.table`` (Spark) as on the driver."""
    import pytest

    from etl_mini_dw_spark.etl import runlog, tracker
    from etl_mini_dw_spark.etl.orchestrate import Warehouse

    wh = Warehouse(spark, str(tmp_path / "dw"), str(tmp_path / "no_sources"))
    wh.init()
    with pytest.raises(Exception):
        wh.load_dim("customer")
    for table, schema in ((runlog.RUNLOG_TABLE, runlog.SCHEMA), (tracker.TRACKER_TABLE, tracker.SCHEMA)):
        df = wh.table(table)
        assert [f.dataType for f in df.schema] == [f.dataType for f in schema]
        assert sorted(map(tuple, df.collect())) == sorted(
            tuple(r[c] for c in schema.names) for r in wh.store.read_rows(spark, table)
        )
    log = {r["run_name"]: r for r in wh.store.read_rows(spark, runlog.RUNLOG_TABLE)}
    assert log["etl_load_dim_date"]["run_status"] == "SUCCESS"
    assert log["etl_load_dim_date"]["rows_inserted"] == wh.table("dim_date").count()
    assert log["etl_load_dim_customer"]["run_status"] == "FAIL"
    assert log["etl_load_dim_customer"]["run_error_message"]
