"""Incremental gold refresh = the r14 span-probe regime as product.

The NOTES.md round 14 span probe measured the full-rewrite
gold path paying FileOutputCommitter v1's single-threaded O(D) commit
loop (~12-18.5 ms/leaf dir to 870 dirs) while dynamic single-partition
overwrite stayed flat (~0.3 s) at every span. These tests pin the
product contract of that regime
(plans/medallion.py::refresh_gold_sales_summary_incremental /
refresh_partitions):

1. EQUIVALENCE — after an incremental refresh, the gold table equals a
   from-scratch full rewrite over the same silver (the
   tests/test_incremental.py pattern, applied to the rollup).
2. PRESERVATION — untouched partitions' files are byte-level untouched
   (same mtime_ns), i.e. the refresh really skipped their commit work.
3. PRUNING — a touched month whose silver rows all disappeared loses
   its partition directory (dynamic overwrite alone cannot express an
   empty partition).
4. BOOTSTRAP — a missing gold table falls back to the full build.
5. GUARDS — a slice carrying partitions outside the touched set is
   rejected; an empty changed batch is a no-op.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from etl_project_gcp_spark import datagen
from etl_project_gcp_spark.plans.medallion import (
    MedallionPipeline,
    refresh_partitions,
)


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion_incr_landing")
    return datagen.write_fixture_csvs(spark, str(root))


@pytest.fixture()
def pipe(spark, sources, tmp_path):
    """Fresh warehouse per test — these tests mutate silver/gold."""
    p = MedallionPipeline(spark, str(tmp_path / "warehouse"))
    assert p.run_etl(sources)["success"]
    return p


def _gold_rows(pipe):
    """Read-back gold rows keyed by group, for order-free comparison."""
    return {
        (r["year"], r["month"], r["channel"], r["region"]): (
            r["total_transactions"], r["total_revenue"],
            r["avg_transaction_value"],
        )
        for r in pipe.table("gold", "sales_summary").collect()
    }


def _full_rows(pipe):
    return {
        (r["year"], r["month"], r["channel"], r["region"]): (
            r["total_transactions"], r["total_revenue"],
            r["avg_transaction_value"],
        )
        for r in pipe._gold_sales_summary().collect()
    }


def _assert_tables_equal(got, want):
    assert set(got) == set(want)
    for k, (n_g, rev_g, avg_g) in got.items():
        n_w, rev_w, avg_w = want[k]
        assert n_g == n_w, k
        # plain double sums: accumulation order may differ between the
        # one-month slice and the full-table plan (see
        # _gold_product_metrics docstring) — compare to float tolerance
        assert rev_g == pytest.approx(rev_w, abs=1e-6), k
        assert avg_g == pytest.approx(avg_w, abs=1e-6), k


def _mtimes(path):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def test_incremental_refresh_equals_full_rewrite_and_preserves(spark, pipe):
    gold_path = pipe.path("gold", "sales_summary")
    silver_path = pipe.path("silver", "sales")
    # late-arriving batch: 25 July rows re-keyed as new transactions
    extra = spark.createDataFrame(
        pipe.table("silver", "sales")
        .filter((F.year("sale_date") == 2023) & (F.month("sale_date") == 7))
        .limit(25)
        .withColumn("transaction_id", F.concat(F.lit("NEW-"), "transaction_id"))
        .collect(),
        pipe.table("silver", "sales").schema,
    )
    assert extra.count() == 25
    extra.write.mode("append").parquet(silver_path)

    before = _mtimes(gold_path)
    untouched_before = {
        f: t for f, t in before.items() if "year=2023/month=7" not in f
    }
    touched = pipe.refresh_gold_sales_summary_incremental(extra)
    assert touched == [{"year": 2023, "month": 7}]

    _assert_tables_equal(_gold_rows(pipe), _full_rows(pipe))
    after = _mtimes(gold_path)
    # untouched partitions: same files, same mtimes — never rewritten
    assert {
        f: t for f, t in after.items() if "year=2023/month=7" not in f
    } == untouched_before
    # the touched partition WAS rewritten: no July data file survives
    # with its old mtime
    july_before = {f: t for f, t in before.items() if "year=2023/month=7" in f}
    july_after = {f: t for f, t in after.items() if "year=2023/month=7" in f}
    assert july_after  # partition still exists
    assert all(july_after.get(f) != t for f, t in july_before.items())


def test_refresh_prunes_emptied_partition(spark, pipe):
    gold_path = pipe.path("gold", "sales_summary")
    silver_path = pipe.path("silver", "sales")
    assert os.path.isdir(f"{gold_path}/year=2023/month=3")
    # all March rows deleted from silver
    remaining = (
        pipe.table("silver", "sales")
        .filter(~((F.year("sale_date") == 2023) & (F.month("sale_date") == 3)))
        .localCheckpoint()  # materialize before overwriting the source
    )
    remaining.write.mode("overwrite").parquet(silver_path)
    changed = spark.createDataFrame([("2023-03-15",)], "sale_date string").select(
        F.col("sale_date").cast("date").alias("sale_date")
    )
    pipe.refresh_gold_sales_summary_incremental(changed)
    assert not os.path.exists(f"{gold_path}/year=2023/month=3")
    _assert_tables_equal(_gold_rows(pipe), _full_rows(pipe))


def test_refresh_bootstraps_missing_gold(spark, pipe):
    import shutil

    gold_path = pipe.path("gold", "sales_summary")
    shutil.rmtree(gold_path)
    changed = pipe.table("silver", "sales").limit(5)
    pipe.refresh_gold_sales_summary_incremental(changed)
    _assert_tables_equal(_gold_rows(pipe), _full_rows(pipe))


def test_refresh_empty_batch_is_noop(spark, pipe):
    gold_path = pipe.path("gold", "sales_summary")
    before = _mtimes(gold_path)
    empty = pipe.table("silver", "sales").filter(F.lit(False))
    assert pipe.refresh_gold_sales_summary_incremental(empty) == []
    assert _mtimes(gold_path) == before


def test_refresh_partitions_rejects_stray_slice(spark, pipe):
    gold_path = pipe.path("gold", "sales_summary")
    slice_df = pipe._gold_sales_summary(
        pipe.table("silver", "sales").filter(
            (F.year("sale_date") == 2023)
            & F.month("sale_date").isin(5, 6)
        )
    )
    with pytest.raises(ValueError, match="not in the touched set"):
        refresh_partitions(
            spark, gold_path, slice_df, ["year", "month"],
            [{"year": 2023, "month": 5}],  # slice also carries month 6
        )
