"""Warehouse orchestration (SURVEY §2.11 X6/X9; `code/SQL_1…sql:1799–1811`).

``Warehouse`` owns the stateful side of the engine: the parquet table
store, tracker, run log, and the run-order DAG (dims first, fact ALWAYS
last; DimDate on demand — the reference's scheduling contract). Loaders
stay pure; this layer is the only one that performs actions.

Failure semantics (X6): each load computes the full post-state, writes it
to a temp generation and swaps — on any exception nothing is swapped, a
FAIL row is appended to the run log, and the error re-raised
(`code/SQL_1…sql:1026–1044`). The tracker advances only after a
successful swap, uniformly (fixing the reference's dim-vs-fact
inconsistency, SURVEY §3.3). Every load — DimDate's build included —
appends one run-log row.

Cost model: a load pays Spark jobs for its data only. The tracker and
the run log are driver-sized and are read and written on the driver
(see tracker.py / runlog.py); each dimension's source is staged once
per load (``staging.src_versions_as_of``) and the extract, the live
snapshot and the initial state are derived from that one frame; a
dimension load whose change counts show nothing inserted, closed or
deleted writes nothing; the fact delta is resolved against the
dimensions once.

Scale notes: FactSales is stored partitioned by order-date *year* so date
predicates become partition pruning (the reference only had a date index;
SURVEY §4 physical-design decision). Dims are single-directory (tiny,
always broadcast).
"""

from __future__ import annotations

from contextlib import contextmanager
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl import runlog, tracker
from etl_mini_dw_spark.etl.store import make_store
from etl_mini_dw_spark.functions.dimdate import build_dim_date
from etl_mini_dw_spark.operators import fact, scd2
from etl_mini_dw_spark.sources import staging


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _tag_counts(post: DataFrame) -> dict:
    """Rows per ``change_tag`` of a tagged post-state (one job)."""
    return {
        r["change_tag"]: r["cnt"]
        for r in post.groupBy("change_tag").agg(F.count("*").alias("cnt")).collect()
    }


def run_name(table: str) -> str:
    """The run-log name of the load of ``table``."""
    return f"etl_load_{table}"


# Stage 5.1 expected-catalog manifest (`code/SQL_1…sql:1626–1638`, plus the
# run log the reference checks separately at `:1795`)
EXPECTED_TABLES = [
    "dim_date",
    "dim_customer",
    "dim_salesperson",
    "dim_product",
    "fact_sales",
    "etl_load_tracker",
    "etl_run_log",
]


class Warehouse:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        sf_dir: str,
        backend: str = "parquet",
        sk_strategy: str = "ordered",
    ) -> None:
        self.spark = spark
        self.store = make_store(base_dir, backend)
        self.sf_dir = sf_dir
        # dimension SK assignment: 'ordered' (one row_number window over
        # the dim delta — the oracle-checkable default) or 'bucketed'
        # (value-identical monotone-bucket prefix ranks, no single-
        # partition row window — the cluster deployment choice; see
        # operators/scd2.py::assign_surrogate_keys)
        self.sk_strategy = sk_strategy

    def missing_tables(self) -> list[str]:
        """Stage 5.1 structure check against the actual store. Expect []."""
        return [t for t in EXPECTED_TABLES if not self.store.exists(t)]

    @contextmanager
    def _logged(self, table: str):
        """Run-log the load of ``table``: the body fills the yielded counts;
        a SUCCESS row is appended when it returns, a FAIL row (and the
        error re-raised) when it raises."""
        start = _utcnow()
        counts: dict = {}
        try:
            yield counts
        except Exception as e:  # X6 FAIL row + rethrow
            runlog.append(
                self.spark, self.store, run_name(table), start, _utcnow(),
                status="FAIL", error=str(e)[:500],
            )
            raise
        runlog.append(self.spark, self.store, run_name(table), start, _utcnow(), **counts)

    # --- bootstrap (Stage 1) ---------------------------------------------
    def init(self) -> None:
        tracker.seed(self.spark, self.store)
        if not self.store.exists("dim_date"):
            with self._logged("dim_date") as counts:
                self.store.write(
                    build_dim_date(self.spark, spec.DATE_START, spec.DATE_END), "dim_date"
                )
                # one row per day of the horizon
                days = date.fromisoformat(spec.DATE_END) - date.fromisoformat(spec.DATE_START)
                counts["rows_inserted"] = days.days + 1

    # --- dimension loads (Stages 2–3, X2–X4) ------------------------------
    def load_dim(self, dim_key: str, as_of: str | None = None, now_ts: str | None = None) -> dict:
        dim = spec.DIMS[dim_key]
        with self._logged(dim.name) as counts:
            wm = tracker.read_watermark(self.spark, self.store, dim.name)
            versions = staging.src_versions_as_of(self.spark, self.sf_dir, dim, as_of)
            staged = staging.delta_from_versions(dim, versions, wm)
            if not self.store.exists(dim.name):
                # initial load, A5 empty-table guard (`code/SQL_1…sql:603`):
                # full history from the seed watermark, like dim_initial
                post = scd2.initial_from_staged(
                    self.spark,
                    dim,
                    staging.delta_from_versions(dim, versions, spec.LOW),
                    sk_strategy=self.sk_strategy,
                ).withColumn("change_tag", F.lit("inserted"))
            else:
                post = scd2.scd2_increment(
                    self.store.read(self.spark, dim.name),
                    staged,
                    staging.snapshot_from_versions(dim, versions),
                    dim,
                    now_ts or _utcnow().strftime("%Y-%m-%d %H:%M:%S"),
                    sk_strategy=self.sk_strategy,
                )
            post = post.localCheckpoint()  # materialize once: metrics + write
            metrics = _tag_counts(post)
            ingested = metrics.get("inserted") or metrics.get("closed")
            new_wm = staged.agg(F.max("valid_from")).first()[0] if ingested else None
            # a no-op's post-state is the current table row for row: no write
            if ingested or metrics.get("deleted"):
                self.store.write(post.drop("change_tag"), dim.name)
            tracker.advance(self.spark, self.store, dim.name, new_wm, _utcnow())
            counts.update(
                rows_inserted=metrics.get("inserted", 0),
                rows_updated=metrics.get("closed", 0),
                rows_deleted=metrics.get("deleted", 0),
            )
            return metrics

    # --- fact load (X5) ----------------------------------------------------
    def load_fact(self, as_of: str | None = None) -> dict:
        with self._logged("fact_sales") as counts:
            dims = {
                fk: self.store.read(self.spark, ds.name) for fk, ds, _ in fact.DIM_LINKS
            }
            dd = self.store.read(self.spark, "dim_date")
            wm = tracker.read_watermark(self.spark, self.store, "fact_sales")
            delta = fact.src_sales(self.spark, self.sf_dir, wm, as_of=as_of)
            resolved = fact._with_datekey(fact.resolve_dimensions(delta, dims), dd).select(
                *fact.FACT_COLS
            )
            year = (F.col("sales_order_datekey") / 10000).cast("int")
            if not self.store.exists("fact_sales"):
                # sales_id is key-derived in src_sales — no sequence needed
                post = resolved.withColumn("change_tag", F.lit("inserted")).localCheckpoint()
                metrics = _tag_counts(post)
                self.store.write(
                    post.drop("change_tag").withColumn("sales_year", year),
                    "fact_sales",
                    partition_by=["sales_year"],
                )
            else:
                # MERGE-shaped incremental: the delta determines the touched
                # year-partitions (update never moves a row's datekey, so a
                # matched NK lives in its delta row's year); prior state is
                # read with a PARTITION-PRUNED scan and only those partition
                # dirs are swapped — cost ∝ touched partitions, never table
                # size. An empty delta writes nothing at all. The years come
                # from the delta's DimDate join alone: the dimension
                # resolution is a chain of left joins, which keeps every
                # row, so it runs once — inside the merge.
                touched = sorted(
                    r[0]
                    for r in fact._with_datekey(delta, dd)
                    .select(year.alias("y"))
                    .distinct()
                    .collect()
                )
                if not touched:
                    metrics = {}
                else:
                    state0 = self.store.read(self.spark, "fact_sales")
                    state0_touched = state0.filter(
                        F.col("sales_year").isin(touched)
                    ).drop("sales_year")
                    post = fact.fact_increment(state0_touched, resolved, dims).localCheckpoint()
                    metrics = _tag_counts(post)
                    self.store.swap_partitions(
                        post.drop("change_tag").withColumn("sales_year", year),
                        "fact_sales",
                        "sales_year",
                        touched,
                    )
            new_wm = (
                delta.agg(F.max("sales_lasteditedwhen")).first()[0]
                if metrics.get("inserted") or metrics.get("updated")
                else None
            )
            tracker.advance(self.spark, self.store, "fact_sales", new_wm, _utcnow())
            counts.update(
                rows_inserted=metrics.get("inserted", 0),
                rows_updated=metrics.get("updated", 0),
            )
            return metrics

    # --- full run (X9 DAG: dims first, fact always last) -------------------
    def run_all(self, as_of: str | None = None, now_ts: str | None = None) -> dict[str, dict]:
        self.init()
        out = {}
        for dim_key in spec.DIMS:
            out[dim_key] = self.load_dim(dim_key, as_of=as_of, now_ts=now_ts)
        out["fact_sales"] = self.load_fact(as_of=as_of)
        return out

    def table(self, name: str) -> DataFrame:
        return self.store.read(self.spark, name)


def publish_guarded(
    wh: "Warehouse",
    df: "DataFrame",
    name: str,
    checks: dict[str, "Callable[[DataFrame], DataFrame]"],
) -> dict:
    """Write-audit-publish: audit the CANDIDATE frame, publish (atomic
    swap) only if every check returns zero rows; otherwise leave the
    currently-published generation untouched and report the violations.

    The pattern every serious warehouse converges on (WAP / blue-green
    tables): validations run against the not-yet-visible candidate, so
    readers never observe a state that failed its contract. Locally the
    candidate is a checkpointed frame + the store's swap protocol; with
    the Delta backend the same call maps to write-to-branch + atomic
    commit. Violations are counted in one pass per check (the frames
    are usually conditional aggregates, cheap by construction).
    """
    staged = df.localCheckpoint()
    violations = {cname: fn(staged).count() for cname, fn in checks.items()}
    ok = all(v == 0 for v in violations.values())
    if ok:
        wh.store.write(staged, name)
    return {"published": ok, "violations": violations}
