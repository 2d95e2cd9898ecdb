"""The benchmark's workloads: closed loops with one client each.

``etl_load`` drives the product path (``Warehouse``) against a fresh
store; ``query_mix`` builds and runs a frozen list of registry queries.
Each workload times its calls through ``Run.op`` and ``Run.query`` and
checks its outputs after the timed passes.
"""

from __future__ import annotations

import os
import time

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl.orchestrate import Warehouse
from etl_mini_dw_spark.operators.fact import DIM_LINKS
from etl_mini_dw_spark.plans import validation
from etl_mini_dw_spark.registry import ORACLE_SQL

import checks
import pyarrow.parquet as pq

# The initial load sees the world as of MID; the incremental load and the
# no-op rerun see everything. now_ts is fixed so the oracle can agree.
ETL_PHASES = (("initial", {"as_of": spec.MID}), ("incremental", {}), ("noop", {}))

# Drawn once from the registry, then frozen so that the seed changes only
# the data. Rule: of the queries that have an oracle, with the names
# sorted, every 18th non-``ext_`` query starting at the 4th, every 57th
# non-streaming ``ext_`` query and every 13th streaming query, each of the
# last two starting at the first. Strides and offset are sized so that a
# run fits the benchmark's time budget.
QUERY_MIX = (
    "current_snapshot_customer",
    "forecast_revenue_change",
    "scd2_customer_initial",
    "validate_dup_versions_customer",
    "ext_ab_cuped_lift",
    "ext_embedding_label_drift",
    "ext_lexical_diversity",
    "ext_repetition_signals",
    "ext_events_streaming_tumbling",
)


def stage5(wh: Warehouse) -> int:
    """Stage-5 checks of the warehouse: violating rows plus missing tables."""
    bad = 0
    for dim in spec.DIMS.values():
        df = wh.table(dim.name)
        bad += validation.duplicate_current_per_nk(df, dim.nk).count()
        bad += validation.duplicate_version_windows(df, dim.nk).count()
        bad += validation.overlapping_windows(df, dim.nk, dim.sk).count()
        bad += validation.null_validity(df, dim.nk).count()
    fact = wh.table("fact_sales")
    bad += validation.duplicate_fact_nk(fact).count()
    for fk, dim, _ in DIM_LINKS:
        bad += validation.fact_orphans(fact, wh.table(dim.name), fk, dim.sk).count()
    return bad + len(wh.missing_tables())


def store_files(root: str) -> dict[str, tuple[int, int, int]]:
    """Parquet data files under the store: path -> (inode, mtime_ns, size)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def record_phase(stats: dict, phase: str, results: dict, before: dict, store: str) -> None:
    """Rows the phase changed, and the bytes and rows of the data files it
    wrote to the store (new files, rows counted from parquet footers)."""
    new = [p for p, key in store_files(store).items() if before.get(p) != key]
    changed = sum(
        n for r in results.values() if r for tag, n in r.items() if tag in ("inserted", "updated", "closed", "deleted")
    )
    stats.setdefault("etl_phases", {})[phase] = {
        "changed_rows": changed,
        "written_rows": sum(pq.read_metadata(p).num_rows for p in new),
        "written_mb": sum(os.path.getsize(p) for p in new) / 2**20,
    }


def etl_load(run) -> None:
    """Full ETL cycles on fresh stores until the run's seconds are used."""
    t0 = time.perf_counter()
    cycle = 0
    while True:
        store = os.path.join(run.work, f"store-{cycle}")
        wh = Warehouse(run.spark, store, run.sf_dir)
        with run.tracer.span(f"cycle{cycle}", "bench", window=True, always=True) as sp:
            run.op("Warehouse.init", "etl", wh.init, tag="init")
            first = not run.passes
            for phase, kw in ETL_PHASES:
                before = run.traced_call(store_files, store) if first else None
                results = {}
                for key in spec.DIMS:
                    results[key] = run.op(
                        f"Warehouse.load_dim.{key}",
                        "etl",
                        lambda key=key: wh.load_dim(key, now_ts=spec.NOW_FIXED, **kw),
                        tag=f"{phase}.load_dim",
                    )
                results["fact"] = run.op("Warehouse.load_fact", "etl", lambda: wh.load_fact(**kw), tag=f"{phase}.load_fact")
                if first:
                    run.traced_call(record_phase, run.stats, phase, results, before, store)
            run.op("validation", "plans", lambda: stage5(wh), tag="validation", ok=lambda bad: bad == 0)
        run.passes.append(sp)
        run.record_retained()
        if first:
            run.stats["etl_store"] = store
            run.stats["store_mb"] = sum(v[2] for v in store_files(store).values()) / 2**20
        con = checks.duck_connection(run.sf_dir)
        try:
            for name, stored, oracle in checks.warehouse_expectations(store):
                run.check(name, lambda: checks.stored_mismatch(con, stored, oracle))
        finally:
            con.close()
        cycle += 1
        if time.perf_counter() - t0 >= run.seconds:
            return


def query_mix(run) -> None:
    """A cold pass, then warm passes until the run's seconds are used."""
    run.stats["inject_query"] = QUERY_MIX[0]
    t0 = time.perf_counter()
    n = 0
    while n < 2 or time.perf_counter() - t0 < run.seconds:
        kind = "cold" if n == 0 else "warm"
        with run.tracer.span(f"pass{n}.{kind}", "bench", window=True, always=True) as sp:
            for name in QUERY_MIX:
                run.query(name, kind)
        run.passes.append(sp)
        n += 1
    run.record_retained()
    con = checks.duck_connection(run.sf_dir)
    try:
        for name in QUERY_MIX:
            df = run.frames.get(name)
            run.check(name, lambda: "no output" if df is None else checks.query_mismatch(df, con, ORACLE_SQL[name], name))
    finally:
        con.close()


WORKLOADS = {"etl_load": etl_load, "query_mix": query_mix}
