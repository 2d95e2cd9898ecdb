"""Warehouse lifecycle: initial load → incremental → idempotent re-run.

Port of the reference's test strategy (SURVEY §5): zero-row Stage 5
invariants after any run, the README-documented idempotence property
(re-run ⇒ 0 inserted/updated/deleted), and run-log/tracker observability.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl.orchestrate import Warehouse
from etl_mini_dw_spark.plans import validation


@pytest.fixture(scope="module")
def wh(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("warehouse"))
    w = Warehouse(spark, base, sf_dir)
    w.init()
    # phase 1: world as of MID; phase 2: present
    w.run_all(as_of=spec.MID, now_ts=spec.NOW_FIXED)
    w.run_all(now_ts=spec.NOW_FIXED)
    return w


def test_idempotent_rerun(wh):
    metrics = wh.run_all(now_ts=spec.NOW_FIXED)
    for table, m in metrics.items():
        assert m.get("inserted", 0) == 0, (table, m)
        assert m.get("updated", 0) == 0, (table, m)
        assert m.get("closed", 0) == 0, (table, m)
        assert m.get("deleted", 0) == 0, (table, m)


def test_scd2_invariants(wh):
    for key, dim in spec.DIMS.items():
        df = wh.table(dim.name)
        assert validation.duplicate_current_per_nk(df, dim.nk).count() == 0, key
        assert validation.duplicate_version_windows(df, dim.nk).count() == 0, key
        assert validation.overlapping_windows(df, dim.nk, dim.sk).count() == 0, key
        assert validation.null_validity(df, dim.nk).count() == 0, key
        # unknown member present and current
        unk = df.filter(F.col(dim.nk) == spec.UNKNOWN_NK)
        assert unk.count() == 1 and unk.first()["is_current"], key


def test_fact_invariants(wh):
    f = wh.table("fact_sales")
    assert validation.duplicate_fact_nk(f).count() == 0
    for fk, dim, _ in __import__(
        "etl_mini_dw_spark.operators.fact", fromlist=["DIM_LINKS"]
    ).DIM_LINKS:
        d = wh.table(dim.name)
        assert validation.fact_orphans(f, d, fk, dim.sk).count() == 0, fk


def test_incremental_matches_direct_build(wh, spark, sf_dir):
    """Two-phase warehouse state ≡ the oracle-checked two-phase plan."""
    from etl_mini_dw_spark.operators import scd2

    for key, dim in spec.DIMS.items():
        direct = scd2.dim_two_phase(spark, sf_dir, dim, spec.MID, spec.NOW_FIXED).drop(
            "change_tag"
        )
        stored = wh.table(dim.name)
        assert stored.count() == direct.count(), key
        assert (
            stored.exceptAll(direct.select(*stored.columns)).count() == 0
            and direct.select(*stored.columns).exceptAll(stored).count() == 0
        ), key


def test_expected_tables_present(wh):
    assert wh.missing_tables() == []


def test_runlog_and_tracker(wh, spark):
    log = wh.table("etl_run_log")
    assert log.filter(F.col("run_status") == "FAIL").count() == 0
    # 3 full runs × 4 tables, plus DimDate's one build
    assert log.count() == 13
    tr = wh.table("etl_load_tracker")
    rows = {r["table_name"]: r for r in tr.collect()}
    assert set(rows) == {"dim_customer", "dim_salesperson", "dim_product", "fact_sales"}
    for r in rows.values():
        assert r["last_successful_execution_time"] is not None
        assert r["last_successful_load"].year > 1900  # advanced past seed


def test_fail_logging(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("warehouse_fail"))
    w = Warehouse(spark, base, "/nonexistent/dir")
    w.init()
    with pytest.raises(Exception):
        w.load_dim("customer")
    log = w.table("etl_run_log")
    assert log.filter(F.col("run_status") == "FAIL").count() == 1


def test_transform_with_state_topology(spark, sf_dir):
    """Spark-4 typed-state streaming (transformWithStateInPandas), gated on
    the protobuf state-server deps (absent in this container -> skip)."""
    import pytest

    from etl_mini_dw_spark.streaming import stateful

    if not stateful.tws_available():
        pytest.skip("google.protobuf not importable; transformWithState needs it")
    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in stateful.streaming_user_cents_tws(spark, sf_dir).collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(stateful.STREAMING_TWS_SQL).fetchall()
    }
    assert got == want


def test_bucketed_sk_warehouse_equals_ordered(wh, spark, sf_dir, tmp_path_factory):
    """The bucketed SK deployment option (CLI --sk-strategy bucketed)
    must produce byte-identical dimension tables through the full
    two-phase warehouse lifecycle — the r7 cluster-path seam proven at
    the ORCHESTRATOR level, not just the operator level."""
    base = str(tmp_path_factory.mktemp("warehouse_bucketed"))
    w2 = Warehouse(spark, base, sf_dir, sk_strategy="bucketed")
    w2.init()
    w2.run_all(as_of=spec.MID, now_ts=spec.NOW_FIXED)
    w2.run_all(now_ts=spec.NOW_FIXED)
    for dim in spec.DIMS.values():
        a = wh.table(dim.name)
        b = w2.table(dim.name)
        assert a.columns == b.columns
        assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0, dim.name


def test_noop_rerun_rewrites_no_data_file(wh):
    """A rerun with nothing new leaves every dimension and fact parquet
    file as it was (same inode, same mtime) and still logs each load."""
    import os

    def data_files():
        out = {}
        for name in [d.name for d in spec.DIMS.values()] + ["fact_sales"]:
            for f in wh.store.data_files(name):
                st = os.stat(f)
                out[f] = (st.st_ino, st.st_mtime_ns)
        return out

    files, n_log = data_files(), wh.table("etl_run_log").count()
    assert files
    metrics = wh.run_all(now_ts=spec.NOW_FIXED)
    assert all(not m.get(t) for m in metrics.values() for t in ("inserted", "updated", "closed", "deleted"))
    assert data_files() == files
    assert wh.table("etl_run_log").count() == n_log + 4
