"""Sample analytics reports (etl_medallion.py:346-396 parity).

Three gold-layer report queries: top products by revenue (O3), channel
rollup with the reference's literal avg-of-avgs (A3), department summary
(A4). Each returns a small DataFrame; ``sample_reports`` collects the
first rows like the reference's print loop (:387-391).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_project_gcp_spark.plans.medallion import MedallionPipeline
from etl_project_gcp_spark.session import map_concurrent


def top_products(pipe: MedallionPipeline, k: int = 5) -> DataFrame:
    """Top-k products by revenue (etl_medallion.py:349-355)."""
    pm = pipe.table("gold", "product_metrics")
    return pm.select(
        "product_name", "category", "total_revenue", "total_sales"
    ).orderBy(F.desc("total_revenue"), F.asc("product_name")).limit(k)


def sales_by_channel(pipe: MedallionPipeline) -> DataFrame:
    """Channel rollup over sales_summary (etl_medallion.py:358-365) —
    avg-of-avgs preserved literally (SURVEY §2.4)."""
    ss = pipe.table("gold", "sales_summary")
    return ss.groupBy("channel").agg(
        F.sum("total_revenue").alias("total_revenue"),
        F.sum("total_transactions").alias("total_transactions"),
        F.round(F.avg("avg_transaction_value"), 2).alias("avg_transaction_value"),
    ).orderBy(F.desc("total_revenue"))


def top_departments(pipe: MedallionPipeline, k: int = 5) -> DataFrame:
    """Department summary over sales_analytics (etl_medallion.py:368-376):
    NULL departments (unmatched reps) excluded, as in the reference."""
    sa = pipe.table("gold", "sales_analytics")
    return (
        sa.filter(F.col("department").isNotNull())
        .groupBy("department")
        .agg(
            F.count(F.lit(1)).alias("total_sales"),
            F.round(F.sum("total_amount"), 2).alias("total_revenue"),
        )
        .orderBy(F.desc("total_revenue"))
        .limit(k)
    )


def sample_reports(pipe: MedallionPipeline, n: int = 3) -> dict:
    """First-n rows of each report (etl_medallion.py:387-391 shape).
    The three reports are independent, so they are collected
    concurrently."""
    reports = {
        "top_products": top_products,
        "sales_by_channel": sales_by_channel,
        "top_departments": top_departments,
    }

    def first_rows(report) -> list[dict]:
        return [r.asDict() for r in report(pipe).limit(n).collect()]

    return dict(zip(reports, map_concurrent(first_rows, reports.values())))
