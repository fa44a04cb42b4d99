"""Medallion pipeline: bronze → silver → gold (etl_medallion.py parity).

Re-homes the reference's BigQuery SQL lifecycle onto Spark:

- bronze  = strict CSV load, full overwrite (LOAD DATA OVERWRITE,
  etl_medallion.py:73-103)
- silver  = cleaned/validated tables (CREATE OR REPLACE TABLE AS SELECT,
  :105-149) — employees 7-col cleanse, products/sales passthrough filters
- gold    = analytics tables (:151-218) — sales_analytics 12-col 3-way
  join, product_metrics dim→fact rollup, sales_summary calendar rollup

Contract preserved from the reference (:62-71, :316-321): each statement
reports success independently; a layer's success is the AND of its
statements; the pipeline halts at the first failed LAYER but still
attempts every statement within a layer. The statements of one layer
do not read each other, so they run concurrently; the next layer starts
only after all of them have finished.

Scale notes: every layer materializes as Parquet (lineage truncation +
restartability — SURVEY §4.1); gold sales_summary is partitioned by
(year, month) — the SURVEY §4.1 100 TB disposition — so calendar-pruned
reads skip whole partition directories (layout + pruning plan asserted
in tests/test_medallion.py). sales_analytics stays unpartitioned: its
schema is parity-pinned to the reference's 12-column SELECT
(etl_medallion.py:163-175), and partitioning would append derived
year/month columns to the read-back schema; at scale, callers pass
partition_by explicitly through _write. Silver/gold dims are broadcast
in joins so the fact table never shuffles.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from contextlib import suppress
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_project_gcp_spark.functions import (
    full_name,
    money_round,
    normalize_email,
)
from etl_project_gcp_spark.session import map_concurrent
from etl_project_gcp_spark.sources.readers import (
    read_csv_bronze,
    read_parquet_memo,
)

log = logging.getLogger(__name__)

BRONZE_TABLES = ("employees", "products", "sales")
SILVER_TABLES = ("employees", "products", "sales")
GOLD_TABLES = ("sales_analytics", "product_metrics", "sales_summary")

# One statement of a layer: its plan builder and its partition columns.
_Build = tuple[Callable[[], DataFrame], list[str] | None]


@dataclass
class LayerResult:
    layer: str
    statement_success: dict[str, bool] = field(default_factory=dict)

    @property
    def success(self) -> bool:
        return all(self.statement_success.values())


class MedallionPipeline:
    """Directory-per-layer Parquet lakehouse: {warehouse}/{layer}/{table}."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = warehouse_dir.rstrip("/")

    # -- table access -----------------------------------------------------
    def path(self, layer: str, table: str) -> str:
        return f"{self.warehouse}/{layer}/{table}"

    def table(self, layer: str, table: str) -> DataFrame:
        """The table as a DataFrame, through the session's table-read
        memo: an unchanged table needs no schema-inference job, and an
        overwrite re-keys it (new part-file names)."""
        return read_parquet_memo(self.spark, self.path(layer, table))

    def _write(self, df: DataFrame, layer: str, table: str,
               partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(layer, table))

    def _run_layer(self, layer: str, builds: dict[str, _Build]) -> LayerResult:
        """Write a layer's independent statements concurrently, one
        thread each (``builds``: table -> (plan builder, partition
        columns)). Each statement reports its own success and a failed
        one does not stop its siblings (etl_medallion.py:62-71,
        :100-101); ``statement_success`` keeps ``builds`` order. A
        written table is read back in its own thread, so the next
        layer's reads hit the table memo instead of paying the schema
        inference on the layer barrier."""

        def run(table: str) -> bool:
            build, partition_by = builds[table]
            try:
                self._write(build(), layer, table, partition_by)
            except Exception as e:  # per-statement failure, keep going
                log.error("%s %s failed: %.100s", layer, table, e)
                return False
            # A table that cannot be read back (e.g. a partitioned write
            # of zero rows) raises again at its reader.
            with suppress(Exception):
                self.table(layer, table)
            return True

        return LayerResult(layer, dict(zip(builds, map_concurrent(run, builds))))

    # -- bronze (etl_medallion.py:73-103) ---------------------------------
    def bronze_layer(self, sources: dict[str, str]) -> LayerResult:
        """Strict CSV → Parquet load per table, schema autodetect."""
        return self._run_layer("bronze", {
            t: (lambda t=t: read_csv_bronze(self.spark, sources[t]), None)
            for t in BRONZE_TABLES
        })

    # -- silver (etl_medallion.py:105-149) --------------------------------
    def silver_layer(self) -> LayerResult:
        return self._run_layer("silver", {
            "employees": (self._silver_employees, None),
            "products": (self._silver_products, None),
            "sales": (self._silver_sales, None),
        })

    def _silver_employees(self) -> DataFrame:
        """7-column cleanse (etl_medallion.py:116-126): TRIM names,
        LOWER(TRIM(email)), keep rows with email AND positive salary."""
        emp = self.table("bronze", "employees")
        return emp.select(
            "employee_id",
            F.trim("first_name").alias("first_name"),
            F.trim("last_name").alias("last_name"),
            normalize_email("email").alias("email"),
            "department",
            "salary",
            "hire_date",
        ).filter(F.col("email").isNotNull() & (F.col("salary") > 0))

    def _silver_products(self) -> DataFrame:
        """Passthrough + positivity/active filter (etl_medallion.py:130-133)."""
        return self.table("bronze", "products").filter(
            (F.col("price") > 0) & F.col("is_active")
        )

    def _silver_sales(self) -> DataFrame:
        """Passthrough + positivity filter (etl_medallion.py:137-140)."""
        return self.table("bronze", "sales").filter(
            (F.col("quantity") > 0) & (F.col("total_amount") > 0)
        )

    # -- gold (etl_medallion.py:151-218) ----------------------------------
    def gold_layer(self) -> LayerResult:
        return self._run_layer("gold", {
            "sales_analytics": (self._gold_sales_analytics, None),
            "product_metrics": (self._gold_product_metrics, None),
            "sales_summary": (self._gold_sales_summary, ["year", "month"]),
        })

    def _gold_sales_analytics(self) -> DataFrame:
        """12-col 3-way left-join projection (etl_medallion.py:161-178).
        sales_rep is NULL-propagating concat — an unmatched rep stays
        NULL (F3 semantics). Dims broadcast: the fact never shuffles."""
        s = self.table("silver", "sales").alias("s")
        p = F.broadcast(self.table("silver", "products")).alias("p")
        e = F.broadcast(self.table("silver", "employees")).alias("e")
        return (
            s.join(p, F.col("s.product_id") == F.col("p.product_id"), "left")
            .join(e, F.col("s.sales_rep_id") == F.col("e.employee_id"), "left")
            .select(
                F.col("s.transaction_id"),
                F.col("s.sale_date"),
                F.col("s.quantity"),
                F.col("s.total_amount"),
                F.col("p.product_name"),
                F.col("p.category"),
                F.col("p.price").alias("unit_price"),
                full_name(F.col("e.first_name"), F.col("e.last_name")).alias("sales_rep"),
                F.col("e.department"),
                F.col("s.customer_segment"),
                F.col("s.channel"),
                F.col("s.region"),
            )
        )

    def _gold_product_metrics(self) -> DataFrame:
        """Dim→fact rollup incl. zero-sale products (etl_medallion.py:
        182-195): COUNT=0 with NULL sums for unmatched — not coalesced.

        Deliberately the reference's literal join-then-group shape, NOT
        relational.dim_fact_rollup: this pipeline is the parity surface,
        and its SUM(total_amount) is a plain double sum whose value
        depends on accumulation order — regrouping the plan (tried)
        shifts the last double bits away from the SQL twin's result.
        The scale-correct aggregation-below-join version of this query,
        with order-independent decimal-exact money sums, is the
        registry's ``product_metrics`` (queries.py, dim_fact_rollup +
        exact.dsum_round)."""
        p = self.table("silver", "products").alias("p")
        s = self.table("silver", "sales").alias("s")
        return (
            p.join(s, F.col("p.product_id") == F.col("s.product_id"), "left")
            .groupBy("p.product_id", "p.product_name", "p.category")
            .agg(
                F.count("s.transaction_id").alias("total_sales"),
                F.sum("s.quantity").alias("total_quantity_sold"),
                F.sum("s.total_amount").alias("total_revenue"),
                money_round(F.avg("s.total_amount")).alias("avg_sale_amount"),
            )
        )

    def _gold_sales_summary(self, sales: DataFrame | None = None) -> DataFrame:
        """Calendar rollup (etl_medallion.py:198-209): EXTRACT year/month
        groups + count/sum/round-avg. ``sales`` overrides the silver
        source so the incremental refresh can roll up just the touched
        months with the identical plan shape."""
        s = sales if sales is not None else self.table("silver", "sales")
        return s.groupBy(
            F.year("sale_date").alias("year"),
            F.month("sale_date").alias("month"),
            "channel",
            "region",
        ).agg(
            F.count(F.lit(1)).alias("total_transactions"),
            F.sum("total_amount").alias("total_revenue"),
            money_round(F.avg("total_amount")).alias("avg_transaction_value"),
        )

    # -- incremental gold refresh (r14 span-probe regime → product) -------
    def refresh_gold_sales_summary_incremental(
        self, changed_sales: DataFrame
    ) -> list[dict]:
        """Refresh ONLY the (year, month) gold partitions touched by a
        batch of new/changed silver sales rows, via dynamic partition
        overwrite — the measured scale regime for a calendar pipeline.

        Why this exists (NOTES.md round 14, gold partition-count axis): the
        full-rewrite gold path pays FileOutputCommitter v1's
        single-threaded O(D) commit loop — ~12-18.5 ms per leaf dir,
        measured to 870 dirs — while dynamic single-partition overwrite
        stays FLAT (~0.3 s) at every span. A steady-state daily pipeline
        touches days, not history, so from D ≳ 25 leaf dirs the
        incremental path wins (~5× at 80 dirs, ~50× at 800). The
        full-rewrite ``gold_layer`` remains the default gate for
        reference parity (etl_medallion.py:162-198 is overwrite
        semantics); this method is the scale mode.

        Semantics: touched partitions are the distinct
        (year(sale_date), month(sale_date)) tuples of ``changed_sales``.
        Each touched partition is recomputed FROM CURRENT SILVER (the
        rollup is not incrementally patched — re-aggregating one month
        is cheap and order-independent), then written under
        ``partitionOverwriteMode=dynamic`` so untouched partitions'
        files are never rewritten (asserted byte-for-byte in
        tests/test_medallion_incremental.py). A touched month whose
        silver rows have ALL been deleted yields an empty slice, which
        dynamic overwrite cannot express — its stale directory is
        pruned explicitly (see ``refresh_partitions``).

        Bootstrap: a missing gold table falls back to the full build.
        Returns the touched partition tuples for logging/audit.

        At 100 TB: ``changed_sales`` is a daily batch (its distinct
        collect is bounded by touched months); silver would itself be
        date-partitioned so the filter below prunes the silver scan
        too — here silver is a fixture-scale single table and the
        filter is a plain scan predicate.
        """
        from etl_project_gcp_spark.plans.incremental import _target_exists

        touched = [
            r.asDict()
            for r in changed_sales.select(
                F.year("sale_date").alias("year"),
                F.month("sale_date").alias("month"),
            ).distinct().collect()
        ]
        target = self.path("gold", "sales_summary")
        if not _target_exists(self.spark, target):
            self._write(
                self._gold_sales_summary(), "gold", "sales_summary",
                partition_by=["year", "month"],
            )
            return touched
        if not touched:
            return []
        pred = reduce(
            lambda a, b: a | b,
            [
                F.year("sale_date").eqNullSafe(F.lit(t["year"]))
                & F.month("sale_date").eqNullSafe(F.lit(t["month"]))
                for t in touched
            ],
        )
        slice_df = self._gold_sales_summary(
            self.table("silver", "sales").filter(pred)
        )
        return refresh_partitions(
            self.spark, target, slice_df, ["year", "month"], touched
        )

    # -- orchestration (etl_medallion.py:302-344) -------------------------
    def run_etl(self, sources: dict[str, str]) -> dict:
        """Sequential layers, fail-fast on first failed layer (:316-321)."""
        results: list[LayerResult] = []
        layers = [
            ("Bronze", lambda: self.bronze_layer(sources)),
            ("Silver", self.silver_layer),
            ("Gold", self.gold_layer),
        ]
        for name, fn in layers:
            res = fn()
            results.append(res)
            if not res.success:
                log.error("layer %s failed — halting pipeline", name)
                break
        ok = all(r.success for r in results) and len(results) == len(layers)
        return {
            "success": ok,
            "layers": {r.layer: r.statement_success for r in results},
        }


_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def refresh_partitions(
    spark: SparkSession,
    target_path: str,
    slice_df: DataFrame,
    partition_cols: list[str],
    touched: list[dict],
) -> list[dict]:
    """Replace exactly the ``touched`` partitions of a partitioned
    Parquet table with ``slice_df`` (the recomputed rows for those
    partitions), under ``partitionOverwriteMode=dynamic`` — no other
    partition's files are opened, rewritten, or re-committed.

    Dynamic overwrite replaces only partitions PRESENT in the written
    frame; a touched partition whose recomputed slice is EMPTY (every
    source row for it was deleted) would otherwise survive as a stale
    directory. Those are pruned explicitly through the Hadoop FS (any
    scheme), matching what an overwrite-from-scratch would produce.
    Hive partition-dir encoding: ``col=value`` with NULL as
    ``__HIVE_DEFAULT_PARTITION__``; values here are calendar ints —
    callers with string partition values needing URL-escaping should
    partition on a sanitized column instead.

    ``slice_df`` must contain rows ONLY for ``touched`` partitions
    (the caller derives both from the same predicate); rows outside
    would silently overwrite partitions the audit trail never named.
    Returns ``touched``.
    """
    if not touched:
        return []
    present = {
        tuple(r[c] for c in partition_cols)
        for r in slice_df.select(*partition_cols).distinct().collect()
    }
    stray = [
        p for p in present
        if dict(zip(partition_cols, p)) not in touched
    ]
    if stray:
        raise ValueError(
            f"slice contains partitions not in the touched set: "
            f"{stray[:5]} — the caller's slice predicate and touched "
            f"derivation disagree"
        )
    if present:
        (slice_df.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy(*partition_cols).parquet(target_path))
    emptied = [
        t for t in touched
        if tuple(t[c] for c in partition_cols) not in present
    ]
    if emptied:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(target_path)
        fs = root.getFileSystem(hconf)
        for t in emptied:
            rel = "/".join(
                f"{c}={_HIVE_DEFAULT_PARTITION if t[c] is None else t[c]}"
                for c in partition_cols
            )
            p = jvm.org.apache.hadoop.fs.Path(target_path + "/" + rel)
            if fs.exists(p):
                fs.delete(p, True)
    return touched


def run_corpus_gold_sales_summary(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Bronze→silver→gold over the DRIVER corpus, end to end — the
    oracle-checkable twin of the fixture pipeline (the r7 verdict's
    missing driver gate): every layer boundary the reference crosses
    (etl_medallion.py:73-218) is exercised against tables an external
    oracle can see.

    - landing: ``orders`` re-lands as CSV (the reference's ingest
      format) under ``{root}/landing``
    - bronze:  strict FAILFAST CSV load (``read_csv_bronze``, schema
      autodetect) → parquet
    - silver:  typed cleanse — dates to DATE, money to DECIMAL(15,2)
      (CSV inference is advisory; silver pins the contract types,
      SURVEY §4.3.1), positivity filter (P8 parity)
    - gold:    the sales_summary calendar rollup
      (etl_medallion.py:198-209 shape), written PARTITIONED BY
      (year, month) and read BACK from the partitioned layout — the
      returned frame is the materialized table, not the logical plan.

    Money aggregates go through exact.py so the read-back values
    hash-match a DuckDB oracle running the same silver→gold SQL over
    the raw ``orders`` fixture."""
    from etl_project_gcp_spark import exact as X
    from etl_project_gcp_spark.sources.readers import read_csv_bronze

    w = root.rstrip("/")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.mode("overwrite").options(header=True).csv(f"{w}/landing/orders")

    bronze = read_csv_bronze(spark, f"{w}/landing/orders")
    bronze.write.mode("overwrite").parquet(f"{w}/bronze/orders")

    silver = (
        spark.read.parquet(f"{w}/bronze/orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(15,2)").alias("o_totalprice"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .filter(F.col("o_totalprice") > 0)
    )
    silver.write.mode("overwrite").parquet(f"{w}/silver/orders")

    gold = (
        spark.read.parquet(f"{w}/silver/orders")
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("total_transactions"),
            X.dsum_round(F.col("o_totalprice")).alias("total_revenue"),
            X.davg(F.col("o_totalprice")).alias("avg_transaction_value"),
        )
    )
    gold.write.mode("overwrite").partitionBy("year", "month").parquet(
        f"{w}/gold/sales_summary"
    )
    return spark.read.parquet(f"{w}/gold/sales_summary")


def run_corpus_gold_incremental(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """The incremental gold-refresh regime as an ORACLE-CHECKABLE gate:
    simulate yesterday's gold (built before the last ~2 calendar months
    of orders arrived), then land the late months with
    ``refresh_partitions`` dynamic overwrite — recomputing ONLY the
    touched (year, month) partitions from full silver — and return the
    read-back table. Because late rows land only in their own months,
    the stale partitions were already correct, so the final table must
    equal the from-scratch full rollup — which is exactly what the
    DuckDB oracle computes. Any divergence in the touched-partition
    derivation, the slice predicate, the dynamic overwrite, or the
    read-back hash-fails.

    Same silver typing + exact-decimal money as
    ``run_corpus_gold_sales_summary`` (the full-rewrite twin); skips
    the CSV landing leg — that leg is the OTHER entry's contract, and
    this one's subject is the refresh regime, not ingest.
    """
    from etl_project_gcp_spark import exact as X

    w = root.rstrip("/")
    silver = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(15,2)").alias("o_totalprice"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .filter(F.col("o_totalprice") > 0)
    )
    silver.write.mode("overwrite").parquet(f"{w}/silver/orders")
    silver = spark.read.parquet(f"{w}/silver/orders")

    def rollup(src: DataFrame) -> DataFrame:
        return src.groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            "o_orderpriority",
            "o_orderstatus",
        ).agg(
            F.count(F.lit(1)).alias("total_transactions"),
            X.dsum_round(F.col("o_totalprice")).alias("total_revenue"),
            X.davg(F.col("o_totalprice")).alias("avg_transaction_value"),
        )

    # Deterministic late-arrival cut from the data itself: the last two
    # distinct calendar months are "not yet landed" when gold is built.
    mono = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    cutoff = silver.agg(F.max(mono)).first()[0] - 1
    gold_path = f"{w}/gold/sales_summary"
    rollup(silver.filter(mono < cutoff)).write.mode("overwrite").partitionBy(
        "year", "month"
    ).parquet(gold_path)

    late = silver.filter(mono >= cutoff)
    touched = [
        r.asDict()
        for r in late.select(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        ).distinct().collect()
    ]
    pred = reduce(
        lambda a, b: a | b,
        [
            F.year("o_orderdate").eqNullSafe(F.lit(t["year"]))
            & F.month("o_orderdate").eqNullSafe(F.lit(t["month"]))
            for t in touched
        ],
    )
    refresh_partitions(
        spark, gold_path, rollup(silver.filter(pred)), ["year", "month"],
        touched,
    )
    return spark.read.parquet(gold_path)
