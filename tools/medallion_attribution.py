"""Rung-attribute the medallion write family (r12 verdict ask #1) —
the last multi-second entries carrying only prose explanations:
``medallion_gold_sales_summary`` (~2.5 s idle warm) and the bench's
``medallion_pipeline`` (~2.6 s). Both are the reference's own flagship
shape (etl_medallion.py:73-218): sequential layers of
materialize-to-parquet statements, so an executor-side rung method
applies directly — cumulative partial chains for the corpus gate,
per-statement walls for the fixture pipeline.

Rung design:

medallion_gold_sales_summary — sequential composition, cumulative
  rungs replicating plans/medallion.py::run_corpus_gold_sales_summary
  stage by stage, each rung a fresh temp warehouse per rep:
    scan            orders parquet noop (the _t memo steady state)
    land_csv        + orders re-landed as header CSV
    bronze          + FAILFAST inferSchema CSV read -> parquet
    silver          + typed cleanse (date/decimal casts + filter) -> parquet
    gold            + calendar rollup agg -> (year,month)-partitioned write
    full_entry      the registry entry itself (adds read-back +
                    localCheckpoint + warehouse reclaim)
  Adjacent-rung deltas attribute each layer. Expected shape: land_csv
  and bronze dominate — the CSV round trip is 2 full data passes
  (write, then inferSchema's scan) plus the strict FAILFAST parse,
  which is the reference's own ingest contract, not an engine choice.

medallion_pipeline — the bench's 9-statement fixture pipeline
  (2 500 employees / 150 products / 5 000 sales). Each statement timed
  ALONE (the layers it depends on pre-materialized once, every
  statement is an idempotent overwrite), plus the full run_etl wall;
  sum-of-statements vs full separates statement cost from
  orchestration overhead. At this fixture scale the expectation is
  fixed per-statement job/commit latency, not data — the probe in
  tools/medallion_scale_probe.py is where the data term is measured.

Usage: python tools/medallion_attribution.py [--sf-dir ...]
       [--entries gate pipeline]
Prints one JSON line; paste the tables into NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("ETL_GCP_SPARK_DISABLE_PINS", "1")

REPS = int(os.environ.get("REPORT_ATTR_REPS", "3"))

from bench import materialize as _noop  # noqa: E402


def _timed_fn(fn, *, reps: int = REPS, warmup: bool = True) -> list[float]:
    """1 untimed warm pass + `reps` timed runs of fn() (fn does its own
    materialization — these rungs WRITE, so the sink is the action)."""
    if warmup:
        fn()
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def _attr_gate(spark, sf_dir: str) -> dict:
    """Cumulative rungs over run_corpus_gold_sales_summary's stages."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark import exact as X
    from etl_project_gcp_spark import queries as Q
    from etl_project_gcp_spark.sources.readers import read_csv_bronze

    def _stage_chain(upto: str):
        """Run the chain through `upto`, in a fresh temp warehouse."""
        root = tempfile.mkdtemp(prefix="medallion_attr_")
        w = root.rstrip("/")
        try:
            orders = Q._t(spark, sf_dir, "orders")
            if upto == "scan":
                _noop(orders)
                return
            orders.write.mode("overwrite").options(header=True).csv(
                f"{w}/landing/orders"
            )
            if upto == "land_csv":
                return
            bronze = read_csv_bronze(spark, f"{w}/landing/orders")
            bronze.write.mode("overwrite").parquet(f"{w}/bronze/orders")
            if upto == "bronze":
                return
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
            if upto == "silver":
                return
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
        finally:
            shutil.rmtree(root, ignore_errors=True)

    entry = Q.queries()["medallion_gold_sales_summary"]
    order = ["scan", "land_csv", "bronze", "silver", "gold"]
    res = {
        rung: _timed_fn(lambda rung=rung: _stage_chain(rung))
        for rung in order
    }
    res["full_entry"] = _timed_fn(lambda: _noop(entry(spark, sf_dir)))
    med = {k: statistics.median(v) for k, v in res.items()}
    deltas = {"scan_sec": med["scan"]}
    for prev, cur in zip(order, order[1:]):
        deltas[f"{cur}_delta_sec"] = round(med[cur] - med[prev], 3)
    deltas["readback_entry_delta_sec"] = round(
        med["full_entry"] - med["gold"], 3
    )
    return {"runs": res, "median": med, "attribution": deltas}


def _attr_pipeline(spark) -> dict:
    """Per-statement walls for the bench's 9-statement fixture
    pipeline, layers pre-materialized so each statement times alone."""
    from etl_project_gcp_spark import datagen
    from etl_project_gcp_spark.plans.medallion import MedallionPipeline
    from etl_project_gcp_spark.sources.readers import read_csv_bronze

    root = tempfile.mkdtemp(prefix="medallion_attr_pipe_")
    try:
        sources = datagen.write_fixture_csvs(
            spark, f"{root}/landing",
            n_employees=2500, n_products=150, n_sales=5000,
        )
        pipe = MedallionPipeline(spark, f"{root}/warehouse")
        # pre-materialize every layer once so the per-statement rungs
        # have their inputs on disk (statements are overwrite-idempotent)
        result = pipe.run_etl(sources)
        assert result["success"], result

        res = {}
        for t in ("employees", "products", "sales"):
            res[f"bronze_{t}"] = _timed_fn(
                lambda t=t: pipe._write(
                    read_csv_bronze(spark, sources[t]), "bronze", t
                )
            )
        silver_fns = {
            "employees": pipe._silver_employees,
            "products": pipe._silver_products,
            "sales": pipe._silver_sales,
        }
        for t, fn in silver_fns.items():
            res[f"silver_{t}"] = _timed_fn(
                lambda t=t, fn=fn: pipe._write(fn(), "silver", t)
            )
        gold_fns = {
            "sales_analytics": (pipe._gold_sales_analytics, None),
            "product_metrics": (pipe._gold_product_metrics, None),
            "sales_summary": (pipe._gold_sales_summary, ["year", "month"]),
        }
        for t, (fn, part) in gold_fns.items():
            res[f"gold_{t}"] = _timed_fn(
                lambda t=t, fn=fn, part=part: pipe._write(
                    fn(), "gold", t, partition_by=part
                )
            )
        res["full_run_etl"] = _timed_fn(
            lambda: pipe.run_etl(sources)
        )
        med = {k: statistics.median(v) for k, v in res.items()}
        stmt_sum = round(
            sum(v for k, v in med.items() if k != "full_run_etl"), 3
        )
        return {
            "runs": res,
            "median": med,
            "attribution": {
                "statement_sum_sec": stmt_sum,
                "full_run_sec": med["full_run_etl"],
                "orchestration_overhead_sec": round(
                    med["full_run_etl"] - stmt_sum, 3
                ),
            },
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--entries", nargs="*",
        default=["gate", "pipeline"],
        choices=["gate", "pipeline"],
    )
    args = ap.parse_args()

    from etl_project_gcp_spark.session import get_spark

    spark = get_spark(app_name="medallion-attribution")
    spark.sparkContext.setLogLevel("ERROR")

    out = {
        "sf_dir": args.sf_dir,
        "reps": REPS,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }
    if "gate" in args.entries:
        out["gate"] = _attr_gate(spark, args.sf_dir)
    if "pipeline" in args.entries:
        out["pipeline"] = _attr_pipeline(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
