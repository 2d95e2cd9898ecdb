"""Staging layer: temporal source synthesis + delta-extract views (SURVEY §2.1 S2/S3).

The reference's ``davidf_staging`` schema is *views only* — lazy,
parameterized delta extracts over temporal source tables
(`code/SQL_1…sql:262–302,339–378,417–448`). The Spark-native equivalent is
exactly this module: **pure functions returning lazy DataFrames**. Nothing
here triggers a job; Catalyst fuses the whole chain (version synthesis →
watermark filter → projection) into the parquet scan of the downstream
action, with the watermark predicate pushed down.

Three layers:
- ``base_relation``  — source scan + lookup enrich (J2 left join)
- ``src_versions``   — synthesized full SCD2 history (FIXTURES.md §B);
  ``as_of`` re-creates what the *live* temporal table looked like at a
  past instant, which is how incremental-load tests simulate source
  evolution without mutating the read-only testdata
- ``delta_extract``  — the reference's ``src_<dim>`` views: watermark
  predicate (F1), warehouse renames (P1), NULL coalescing (P6), lastname
  derivation (P7), ``is_current`` provenance (live=1 / archive=0,
  `code/SQL_1…sql:273,292`)
- ``current_snapshot`` — S3 views: live NKs for delete detection
  (`code/SQL_1…sql:307–311`), using the reference's own ``> 9999-12-30``
  sentinel guard (`code/SQL_1…sql:90,310`)

The last two also exist as ``delta_from_versions`` / ``snapshot_from_versions``
over a versions frame the caller built once: a warehouse load derives its
extract, snapshot and initial state from one ``src_versions_as_of``
instead of re-reading the sources for each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.fixtures_spec import (
    EPOCH1,
    EPOCH2,
    HIGH,
    HIGH_GUARD,
    SALESPERSON_FILTER_MOD,
    DimSpec,
)
from etl_mini_dw_spark.sources.tables import typed_table


def _ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp")


def base_relation(spark: SparkSession, sf_dir: str, dim: DimSpec) -> DataFrame:
    """Generic (k, name, extras...) relation feeding version synthesis."""
    if dim.source == "customer":
        cust = typed_table(spark, sf_dir, "customer")
        nation = typed_table(spark, sf_dir, "nation")
        # J2 lookup enrich — Customers ⟕ CustomerCategories analog
        # (`code/SQL_1…sql:277–278`); nation is tiny → broadcast
        return (
            cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
            .select(
                F.col("c_custkey").alias("k"),
                F.col("c_name").alias("name"),
                F.col("c_nationkey").cast("int").alias("main_sellerid"),
                F.col("n_name").alias("category_name"),
            )
        )
    if dim.source == "supplier":
        supp = typed_table(spark, sf_dir, "supplier")
        # F4 boolean-flag filter: restrict People to salespeople
        # (`code/SQL_1…sql:358`), synthesized as key arithmetic
        return supp.filter((F.col("s_suppkey") % SALESPERSON_FILTER_MOD) != 0).select(
            F.col("s_suppkey").alias("k"), F.col("s_name").alias("name")
        )
    if dim.source == "part":
        return typed_table(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("k"), F.col("p_name").alias("name")
        )
    raise ValueError(dim.source)


def src_versions(spark: SparkSession, sf_dir: str, dim: DimSpec) -> DataFrame:
    """Full synthesized SCD2 history: (k, name, extras…, valid_from, valid_to, from_archive)."""
    base = base_relation(spark, sf_dir, dim)
    extras = [c for c in base.columns if c not in ("k", "name")]
    k = F.col("k")
    d_days = (k % 28).cast("int")
    vf1 = F.timestamp_add("DAY", d_days, _ts(EPOCH1))
    vf2 = F.timestamp_add("DAY", d_days, _ts(EPOCH2))
    deleted = (k % 97) == 0
    versioned = ((k % 10) == 0) & ~deleted
    null_name = (k % 53) == 0

    current = base.filter(~deleted).select(
        k,
        F.when(null_name, F.lit(None).cast("string")).otherwise(F.col("name")).alias("name"),
        *extras,
        F.when(versioned, vf2).otherwise(vf1).alias("valid_from"),
        _ts(HIGH).alias("valid_to"),
        F.lit(False).alias("from_archive"),
    )
    v1 = base.filter(versioned).select(
        k,
        F.concat(F.col("name"), F.lit(" #v1")).alias("name"),
        *extras,
        vf1.alias("valid_from"),
        vf2.alias("valid_to"),
        F.lit(True).alias("from_archive"),
    )
    gone = base.filter(deleted).select(
        k,
        F.col("name"),
        *extras,
        vf1.alias("valid_from"),
        vf2.alias("valid_to"),
        F.lit(True).alias("from_archive"),
    )
    return current.unionByName(v1).unionByName(gone)


def src_versions_as_of(
    spark: SparkSession, sf_dir: str, dim: DimSpec, as_of: str | None
) -> DataFrame:
    """The temporal source as it *looked* at instant ``as_of``.

    Rows born later don't exist; the row covering ``as_of`` is the live row
    (open ``valid_to`` sentinel, live provenance); fully-closed rows sit in
    the archive. ``None`` ⇒ the present (full history as-is).
    """
    v = src_versions(spark, sf_dir, dim)
    if as_of is None:
        return v
    t = _ts(as_of)
    vt = F.col("valid_to")
    return (
        v.filter(F.col("valid_from") <= t)
        .withColumn("from_archive", ~(vt > t))
        .withColumn("valid_to", F.when(vt > t, _ts(HIGH)).otherwise(vt))
    )


def _warehouse_shape(dim: DimSpec, versions: DataFrame) -> DataFrame:
    """P1 renames + P6 coalescing + P7 lastname + is_current provenance."""
    if dim.name == "dim_customer":
        cols = [
            F.col("k").alias("customer_nk"),
            F.coalesce(F.col("name"), F.lit("")).alias("customer_name"),
            F.coalesce(F.col("main_sellerid"), F.lit(-1)).cast("int").alias(
                "customer_main_sellerid"
            ),
            F.coalesce(F.col("category_name"), F.lit("")).alias("customer_category_name"),
        ]
    elif dim.name == "dim_salesperson":
        fullname = F.coalesce(F.col("name"), F.lit(""))
        cols = [
            F.col("k").alias("salesperson_nk"),
            fullname.alias("salesperson_fullname"),
            # P7 last-name extraction: substring after the last space
            # (`code/SQL_1…sql:345–347`); identical regex on both engines
            F.regexp_extract(F.trim(fullname), "([^ ]*)$", 1).alias("salesperson_lastname"),
        ]
    elif dim.name == "dim_product":
        cols = [
            F.col("k").alias("product_skunumber_nk"),
            F.coalesce(F.col("name"), F.lit("")).alias("product_name"),
        ]
    else:
        raise ValueError(dim.name)
    return versions.select(
        *cols,
        (~F.col("from_archive")).alias("is_current"),
        F.col("valid_from"),
        F.col("valid_to"),
    )


def delta_from_versions(dim: DimSpec, versions: DataFrame, watermark: str) -> DataFrame:
    """The reference's ``src_<dim>`` staging view (S2 + F1) over a versions
    frame (``src_versions_as_of``), so one load stages its source once.

    Watermark predicate (`code/SQL_1…sql:280–281`):
    ``ValidFrom > wm OR (ValidTo > wm AND ValidTo < HIGH)``.
    """
    wm = _ts(watermark)
    qualifies = (F.col("valid_from") > wm) | (
        (F.col("valid_to") > wm) & (F.col("valid_to") < _ts(HIGH))
    )
    return _warehouse_shape(dim, versions.filter(qualifies))


def snapshot_from_versions(dim: DimSpec, versions: DataFrame) -> DataFrame:
    """S3 view over a versions frame: NKs currently live in the source
    (delete detection input)."""
    return versions.filter(F.col("valid_to") > _ts(HIGH_GUARD)).select(
        F.col("k").alias(dim.nk)
    )


def delta_extract(
    spark: SparkSession, sf_dir: str, dim: DimSpec, watermark: str, as_of: str | None = None
) -> DataFrame:
    """``delta_from_versions`` over the source as of ``as_of``."""
    return delta_from_versions(dim, src_versions_as_of(spark, sf_dir, dim, as_of), watermark)


def current_snapshot(
    spark: SparkSession, sf_dir: str, dim: DimSpec, as_of: str | None = None
) -> DataFrame:
    """``snapshot_from_versions`` over the source as of ``as_of``."""
    return snapshot_from_versions(dim, src_versions_as_of(spark, sf_dir, dim, as_of))


CDC_T1 = "1994-01-05 00:00:00"  # EPOCH1 + 4 days: mid-birth instant so the
# diff below exercises ALL THREE change classes (see snapshot_cdc)


def snapshot_cdc(spark: SparkSession, sf_dir: str, dim: DimSpec) -> DataFrame:
    """Snapshot-diff CDC: classify every natural key as INSERT / UPDATE /
    DELETE between the live source image at ``CDC_T1`` and the present.

    The reverse-CDC operator a warehouse needs when a source system
    exposes only snapshots (no change log): full outer join of the two
    live images on the NK, null-safe column comparison (F5's ``<=>``)
    for UPDATE detection, unchanged keys dropped. One shuffle on the NK;
    at 100 TB both sides are scan-pruned to live rows before the join
    and the diff cost is ∝ |keys|, not |history|.
    """
    v = src_versions(spark, sf_dir, dim)
    attrs = [c for c in v.columns if c not in ("valid_from", "valid_to", "from_archive")]
    t1 = _ts(CDC_T1)
    old = v.filter((F.col("valid_from") <= t1) & (F.col("valid_to") > t1)).select(
        *[F.col(c).alias(f"old_{c}") for c in attrs]
    )
    new = v.filter(F.col("valid_to") > _ts(HIGH_GUARD)).select(
        *[F.col(c).alias(f"new_{c}") for c in attrs]
    )
    joined = old.join(new, old.old_k == new.new_k, "full_outer")
    any_change = None
    for c in attrs:
        if c == "k":
            continue
        diff = ~(F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")))
        any_change = diff if any_change is None else (any_change | diff)
    change_type = (
        F.when(F.col("old_k").isNull(), "INSERT")
        .when(F.col("new_k").isNull(), "DELETE")
        .when(any_change, "UPDATE")
    )
    return (
        joined.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce("old_k", "new_k").alias("k"),
            "change_type",
            F.col("old_name"),
            F.col("new_name"),
        )
    )


def snapshot_cdc_sql(dim: DimSpec) -> str:
    from etl_mini_dw_spark.oracle.fixture_sql import versions_sql

    return f"""
WITH v AS ({versions_sql(dim)}),
old AS (
  SELECT * FROM v
  WHERE valid_from <= TIMESTAMP '{CDC_T1}' AND valid_to > TIMESTAMP '{CDC_T1}'
),
new AS (SELECT * FROM v WHERE valid_to > TIMESTAMP '{HIGH_GUARD}'),
joined AS (
  SELECT old.k AS old_k, new.k AS new_k, old.name AS old_name, new.name AS new_name,
         CASE WHEN old.k IS NULL THEN 'INSERT'
              WHEN new.k IS NULL THEN 'DELETE'
              WHEN old.name IS DISTINCT FROM new.name
                {"OR old.main_sellerid IS DISTINCT FROM new.main_sellerid OR old.category_name IS DISTINCT FROM new.category_name" if dim.source == "customer" else ""}
              THEN 'UPDATE' END AS change_type
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT COALESCE(old_k, new_k) AS k, change_type, old_name, new_name
FROM joined WHERE change_type IS NOT NULL
"""
