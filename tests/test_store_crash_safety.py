"""Batch-store crash safety: injected kills at every rename site.

The streaming sink has a kill-mid-write test (test_streaming_restart);
this is its batch twin (r7 VERDICT task #3). The ParquetStore atomic
generation swap is the repo's transactionality claim (SURVEY §7
hard-part 7; reference BEGIN TRAN/ROLLBACK `code/SQL_1…sql:924–990`):
a crash at ANY point inside ``write()`` / ``merge_upsert()`` /
``swap_partitions()`` must leave the table readable as exactly the
prior generation (or, past the commit rename, exactly the new one —
all-or-nothing, never torn), and a crashed warehouse load must leave
the tracker watermark un-advanced with a FAIL run-log row (the
reference's rollback + FAIL-row contract).

Kill injection: ``os.rename`` is wrapped so the k-th call touching the
target table raises — one test case per kill point, no timing races.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl import tracker
from etl_mini_dw_spark.etl.orchestrate import Warehouse
from etl_mini_dw_spark.etl.store import ParquetStore

_REAL_RENAME = os.rename


def _install_killer(monkeypatch, kill_at: int, match: str) -> dict:
    """Make the ``kill_at``-th os.rename whose src/dst mentions ``match``
    raise; unrelated renames (tracker/runlog tables, Spark temp files)
    pass through. Returns the call-counter state dict."""
    state = {"n": 0}

    def killer(src, dst, **kw):
        if match in str(src) or match in str(dst):
            state["n"] += 1
            if state["n"] == kill_at:
                raise RuntimeError("injected crash")
        return _REAL_RENAME(src, dst, **kw)

    monkeypatch.setattr(os, "rename", killer)
    return state


def _rows(spark, store, name):
    return {tuple(r) for r in store.read(spark, name).collect()}


A = [(1, "a"), (2, "b")]
B = [(3, "c"), (4, "d")]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


@pytest.mark.parametrize("kill_at", [1, 2])
def test_write_crash_at_each_rename_preserves_prior_generation(
    spark, tmp_path, monkeypatch, kill_at
):
    """write() does two renames (final→old, tmp→final); a kill at either
    must read back as exactly the prior generation after recovery."""
    store = ParquetStore(str(tmp_path))
    store.write(_mk(spark, A), "t")
    with monkeypatch.context() as m:
        _install_killer(m, kill_at, str(tmp_path))
        with pytest.raises(RuntimeError, match="injected crash"):
            store.write(_mk(spark, B), "t")
    assert _rows(spark, store, "t") == set(A)
    # the store heals fully: the next write succeeds and leaves no debris
    store.write(_mk(spark, B), "t")
    assert _rows(spark, store, "t") == set(B)
    assert not [d for d in os.listdir(tmp_path) if "._old" in d or "._tmp" in d]


def test_write_crash_after_commit_point_keeps_new_generation(
    spark, tmp_path, monkeypatch
):
    """keep_generations adds a third rename (old→gen) AFTER the commit
    rename: a kill there must leave the NEW image current (all-or-
    nothing means the commit either happened or it didn't — here it did)."""
    store = ParquetStore(str(tmp_path))
    store.write(_mk(spark, A), "t")
    with monkeypatch.context() as m:
        _install_killer(m, 3, str(tmp_path))
        with pytest.raises(RuntimeError, match="injected crash"):
            store.write(_mk(spark, B), "t", keep_generations=1)
    assert _rows(spark, store, "t") == set(B)


def test_compute_failure_mid_parquet_write_never_touches_final(
    spark, tmp_path, monkeypatch
):
    """A Spark-side failure while materializing the tmp dir (mid-compute
    raise_error) must leave the current generation untouched and the
    stranded ._tmp_* garbage-collected by the next write."""
    store = ParquetStore(str(tmp_path))
    store.write(_mk(spark, A), "t")
    bad = _mk(spark, B).select(
        F.when(
            F.col("k") == 4, F.raise_error(F.lit("boom")).cast("int")
        ).otherwise(F.col("k")).alias("k"),
        "v",
    )
    with pytest.raises(Exception, match="boom"):
        store.write(bad, "t")
    assert _rows(spark, store, "t") == set(A)
    store.write(_mk(spark, B), "t")
    assert _rows(spark, store, "t") == set(B)
    assert not [d for d in os.listdir(tmp_path) if "._tmp" in d or "._old" in d]


@pytest.mark.parametrize("kill_at", [1, 2])
def test_merge_upsert_crash_preserves_prior_generation(
    spark, tmp_path, monkeypatch, kill_at
):
    store = ParquetStore(str(tmp_path))
    store.write(_mk(spark, A), "t")
    delta = _mk(spark, [(2, "B2"), (9, "new")])
    with monkeypatch.context() as m:
        _install_killer(m, kill_at, str(tmp_path))
        with pytest.raises(RuntimeError, match="injected crash"):
            store.merge_upsert(spark, delta, "t", ["k"])
    assert _rows(spark, store, "t") == set(A)
    # retry after the crash lands the exact merge image
    store.merge_upsert(spark, delta, "t", ["k"])
    assert _rows(spark, store, "t") == {(1, "a"), (2, "B2"), (9, "new")}


@pytest.mark.parametrize("kill_at", [1, 2, 3])
def test_swap_partitions_crash_is_per_partition_all_or_nothing(
    spark, tmp_path, monkeypatch, kill_at
):
    """Partition swaps document per-partition (not cross-partition)
    atomicity: after a kill at any of the 3 renames (y=2001: dst→old,
    src→dst; y=2003: src→dst), every partition must be exactly its old
    or its new image — untouched partitions always intact."""
    store = ParquetStore(str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 2000), (2, "b", 2001)], "k int, v string, y int"
    )
    store.write(base, "t", partition_by=["y"])
    swap = spark.createDataFrame(
        [(2, "B2", 2001), (9, "new", 2003)], "k int, v string, y int"
    )
    with monkeypatch.context() as m:
        _install_killer(m, kill_at, str(tmp_path))
        with pytest.raises(RuntimeError, match="injected crash"):
            store.swap_partitions(swap, "t", "y", [2001, 2003])
    got = _rows(spark, store, "t")
    assert {r for r in got if r[2] == 2000} == {(1, "a", 2000)}
    assert {r for r in got if r[2] == 2001} in (
        {(2, "b", 2001)}, {(2, "B2", 2001)}
    )
    assert {r for r in got if r[2] == 2003} in (set(), {(9, "new", 2003)})


def test_dim_load_crash_leaves_watermark_and_table_unchanged(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The reference's rollback contract at the orchestrator level: a
    crash inside the dim table swap must leave (a) the dim exactly at
    its prior generation, (b) the tracker watermark un-advanced, and
    (c) one FAIL run-log row — nothing else advanced."""
    w = Warehouse(spark, str(tmp_path), sf_dir)
    w.init()
    w.load_dim("customer", as_of=spec.MID, now_ts=spec.NOW_FIXED)
    dim_name = spec.DIMS["customer"].name
    wm_before = tracker.read_watermark(spark, w.store, dim_name)
    rows_before = {tuple(r) for r in w.table(dim_name).collect()}
    fails_before = (
        w.table("etl_run_log").filter(F.col("run_status") == "FAIL").count()
    )
    with monkeypatch.context() as m:
        _install_killer(m, 1, dim_name)
        with pytest.raises(RuntimeError, match="injected crash"):
            w.load_dim("customer", now_ts=spec.NOW_FIXED)
    assert tracker.read_watermark(spark, w.store, dim_name) == wm_before
    assert {tuple(r) for r in w.table(dim_name).collect()} == rows_before
    log = w.table("etl_run_log").filter(F.col("run_status") == "FAIL")
    assert log.count() == fails_before + 1
    # recovery is complete: the retried load succeeds and advances
    w.load_dim("customer", now_ts=spec.NOW_FIXED)
    assert tracker.read_watermark(spark, w.store, dim_name) != wm_before


def test_fact_load_crash_leaves_watermark_and_table_unchanged(
    spark, sf_dir, tmp_path, monkeypatch
):
    w = Warehouse(spark, str(tmp_path), sf_dir)
    w.init()
    w.run_all(as_of=spec.MID, now_ts=spec.NOW_FIXED)
    wm_before = tracker.read_watermark(spark, w.store, "fact_sales")
    n_before = w.table("fact_sales").count()
    with monkeypatch.context() as m:
        _install_killer(m, 1, "fact_sales")
        with pytest.raises(RuntimeError, match="injected crash"):
            w.load_fact()
    assert tracker.read_watermark(spark, w.store, "fact_sales") == wm_before
    assert w.table("fact_sales").count() == n_before
    assert (
        w.table("etl_run_log")
        .filter(
            (F.col("run_status") == "FAIL")
            & (F.col("run_name") == "etl_load_fact_sales")
        )
        .count()
        == 1
    )


@pytest.mark.parametrize("kill_at", [1, 2])
def test_tracker_swap_crash_keeps_previous_generation(spark, tmp_path, monkeypatch, kill_at):
    """The tracker is rewritten on the driver through the same generation
    swap: a kill at either rename leaves the previous tracker readable,
    on the driver and through Spark, and the next advance heals it."""
    from datetime import datetime

    store = ParquetStore(str(tmp_path))
    tracker.seed(spark, store)
    tracker.advance(spark, store, "dim_customer", datetime(1998, 1, 27), datetime(2001, 1, 1))
    before = sorted(map(tuple, store.read(spark, tracker.TRACKER_TABLE).collect()))
    with monkeypatch.context() as m:
        _install_killer(m, kill_at, tracker.TRACKER_TABLE)
        with pytest.raises(RuntimeError, match="injected crash"):
            tracker.advance(
                spark, store, "dim_customer", datetime(1999, 9, 9), datetime(2002, 2, 2)
            )
    assert sorted(map(tuple, store.read(spark, tracker.TRACKER_TABLE).collect())) == before
    assert tracker.read_watermark(spark, store, "dim_customer") == "1998-01-27 00:00:00"
    tracker.advance(spark, store, "dim_customer", datetime(1999, 9, 9), datetime(2002, 2, 2))
    assert tracker.read_watermark(spark, store, "dim_customer") == "1999-09-09 00:00:00"
    assert not [d for d in os.listdir(tmp_path) if "._old" in d or "._tmp" in d]
