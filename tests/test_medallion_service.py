"""The medallion service path: concurrent statements within a layer,
the one-job audit, and table reads through the shared table memo.

The parity of each table's contents with the reference is pinned in
tests/test_medallion.py; these tests pin what the service path adds on
top: a failing statement leaves its siblings written and reported, the
audit counts equal per-table ``count()`` (missing tables and execution
errors reported against their own table), and a re-run is seen through
the memo.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_project_gcp_spark import datagen
from etl_project_gcp_spark.plans import verify as V
from etl_project_gcp_spark.plans.medallion import MedallionPipeline

SIZES = {"n_employees": 60, "n_products": 12, "n_sales": 120}


@pytest.fixture(scope="module")
def small_pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion_service")
    sources = datagen.write_fixture_csvs(spark, str(root / "landing"), **SIZES)
    pipe = MedallionPipeline(spark, str(root / "warehouse"))
    result = pipe.run_etl(sources)
    assert result["success"], result
    return pipe, sources


def test_failed_statement_leaves_siblings_written_and_halts(
    spark, small_pipeline, tmp_path
):
    _, sources = small_pipeline
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    result = pipe.run_etl({**sources, "products": str(tmp_path / "missing")})
    assert not result["success"]
    assert result["layers"] == {
        "bronze": {"employees": True, "products": False, "sales": True},
    }
    assert pipe.table("bronze", "employees").count() == SIZES["n_employees"]
    assert pipe.table("bronze", "sales").count() == SIZES["n_sales"]
    assert not os.path.exists(pipe.path("silver", "employees"))


def test_one_job_audit_equals_per_table_count(spark, small_pipeline, tmp_path):
    pipe, _ = small_pipeline
    want = {
        layer: {t: spark.read.parquet(pipe.path(layer, t)).count() for t in tables}
        for layer, tables in V.EXPECTED_TABLES.items()
    }
    sc = spark.sparkContext
    sc.setJobGroup("audit-test", "one-job audit")
    try:
        audit = V.verify_results(pipe)
        jobs = sc.statusTracker().getJobIdsForGroup("audit-test")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert audit == {**want, "success": True}
    assert len(jobs) < sum(map(len, V.EXPECTED_TABLES.values())), jobs

    # a deleted table reports its own error; the other eight still count
    wh = tmp_path / "wh"
    shutil.copytree(pipe.warehouse, wh)
    broken = MedallionPipeline(spark, str(wh))
    shutil.rmtree(broken.path("gold", "product_metrics"))
    detailed = V.verify_results_detailed(broken)
    assert "PATH_NOT_FOUND" in detailed["gold"]["product_metrics"]["error"]
    for layer, tables in want.items():
        for t, n in tables.items():
            if (layer, t) != ("gold", "product_metrics"):
                assert detailed[layer][t]["row_count"] == n, (layer, t)
    plain = V.verify_results(broken)
    assert plain["gold"]["product_metrics"] is None and not plain["success"]


def test_audit_counts_empty_frames_and_attributes_execution_errors(spark):
    counts = V._count_all({"empty": spark.range(0), "three": spark.range(3)})
    assert counts == {"empty": 0, "three": 3}
    bad = spark.range(3).filter(F.raise_error(F.lit("boom")).isNull())
    counts = V._count_all({"three": spark.range(3), "bad": bad})
    assert counts["three"] == 3
    assert isinstance(counts["bad"], Exception) and "boom" in str(counts["bad"])


def test_table_memo_rekeys_on_rerun(spark, tmp_path):
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    sizes = dict(SIZES)
    for n_sales in (80, 140):
        sizes["n_sales"] = n_sales
        sources = datagen.write_fixture_csvs(spark, str(tmp_path / "landing"), **sizes)
        assert pipe.run_etl(sources)["success"]
        first = pipe.table("bronze", "sales")
        assert pipe.table("bronze", "sales") is first, "memo miss on an unchanged table"
        assert first.count() == n_sales
        total = pipe.table("gold", "sales_summary").agg(F.sum("total_transactions"))
        assert total.first()[0] == pipe.table("silver", "sales").count()
