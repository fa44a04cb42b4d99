"""End-to-end medallion parity test (SURVEY §5.2 item 2).

Generates reference-shaped dirty CSVs, runs bronze→silver→gold, and
replays the reference's BigQuery SQL (etl_medallion.py:105-218) in
DuckDB over the SAME CSVs as the oracle. Also checks the §2.4 semantic
edges: NULL-propagating concat, COUNT=0 + NULL sums for zero-sale
products, and that the silver filters actually drop the dirty rows.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from etl_project_gcp_spark import datagen
from etl_project_gcp_spark.plans import reports as RP
from etl_project_gcp_spark.plans import verify as V
from etl_project_gcp_spark.plans.medallion import MedallionPipeline
from etl_project_gcp_spark.service import (
    health,
    sample_data,
    status,
    trigger_etl,
)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion")
    sources = datagen.write_fixture_csvs(spark, str(root / "landing"))
    pipe = MedallionPipeline(spark, str(root / "warehouse"))
    result = pipe.run_etl(sources)
    assert result["success"], result
    return pipe, sources, result


def _duck(sources):
    con = duckdb.connect()
    for t, path in sources.items():
        con.execute(
            f"CREATE VIEW bronze_{t} AS SELECT * FROM read_csv_auto('{path}/*.csv', header=true)"
        )
    # reference silver layer (etl_medallion.py:105-149)
    con.execute("""
        CREATE VIEW silver_employees AS
        SELECT employee_id, trim(first_name) AS first_name,
               trim(last_name) AS last_name,
               lower(trim(email)) AS email, department, salary, hire_date
        FROM bronze_employees WHERE email IS NOT NULL AND salary > 0
    """)
    con.execute("""
        CREATE VIEW silver_products AS
        SELECT * FROM bronze_products WHERE price > 0 AND is_active = true
    """)
    con.execute("""
        CREATE VIEW silver_sales AS
        SELECT * FROM bronze_sales WHERE quantity > 0 AND total_amount > 0
    """)
    return con


def _rows(df, cols):
    out = []
    for r in df.select(*cols).collect():
        row = []
        for v in r:
            if isinstance(v, float):
                row.append(round(v, 4))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(v)
        out.append(tuple(row))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _duck_rows(con, sql):
    out = []
    for r in con.execute(sql).fetchall():
        row = []
        for v in r:
            if isinstance(v, float):
                row.append(round(v, 4))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(v)
        out.append(tuple(row))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _assert_rows_equal(spark_rows, duck_rows):
    assert len(spark_rows) == len(duck_rows)
    for a, b in zip(spark_rows, duck_rows):
        assert len(a) == len(b)
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6), (a, b)
            else:
                assert x == y, (a, b)


def test_silver_employees_parity(spark, pipeline):
    pipe, sources, _ = pipeline
    con = _duck(sources)
    got = _rows(pipe.table("silver", "employees"),
                ["employee_id", "first_name", "email", "salary"])
    want = _duck_rows(con, "SELECT employee_id, first_name, email, salary FROM silver_employees")
    _assert_rows_equal(got, want)


def test_silver_filters_dropped_dirty_rows(spark, pipeline):
    pipe, sources, _ = pipeline
    for t in ("employees", "products", "sales"):
        assert pipe.table("silver", t).count() < pipe.table("bronze", t).count()


def test_gold_product_metrics_parity(spark, pipeline):
    pipe, sources, _ = pipeline
    con = _duck(sources)
    got = _rows(
        pipe.table("gold", "product_metrics"),
        ["product_id", "total_sales", "total_quantity_sold", "total_revenue", "avg_sale_amount"],
    )
    want = _duck_rows(con, """
        SELECT p.product_id, count(s.transaction_id) AS total_sales,
               CAST(sum(s.quantity) AS BIGINT) AS total_quantity_sold,
               sum(s.total_amount) AS total_revenue,
               round(avg(s.total_amount), 2) AS avg_sale_amount
        FROM silver_products p LEFT JOIN silver_sales s ON p.product_id = s.product_id
        GROUP BY p.product_id
    """)
    _assert_rows_equal(got, want)


def test_gold_zero_sale_products_semantics(spark, pipeline):
    """COUNT=0 with NULL (not 0) sums for zero-sale products (§2.4)."""
    pipe, _, _ = pipeline
    pm = pipe.table("gold", "product_metrics")
    zero = pm.filter("total_sales = 0").collect()
    if zero:  # fixture plants inactive/dirty products; usually present
        assert all(r.total_revenue is None and r.total_quantity_sold is None for r in zero)


def test_gold_sales_analytics_null_propagating_rep(spark, pipeline):
    """Unmatched sales_rep_id → sales_rep IS NULL, never ' ' (F3)."""
    pipe, _, _ = pipeline
    sa = pipe.table("gold", "sales_analytics")
    no_rep = sa.filter("sales_rep IS NULL").count()
    assert no_rep > 0  # fixture has NULL rep ids
    assert sa.filter("sales_rep = ' '").count() == 0


def test_gold_column_lists_match_reference(spark, pipeline):
    """Exact column names AND order of every gold table, pinned to the
    reference's SELECT lists (etl_medallion.py:163-175 sales_analytics,
    :184-190 product_metrics, :199-206 sales_summary). Guards against
    substituting/dropping reference columns (e.g. customer_segment)."""
    pipe, _, _ = pipeline
    assert pipe.table("gold", "sales_analytics").columns == [
        "transaction_id", "sale_date", "quantity", "total_amount",
        "product_name", "category", "unit_price", "sales_rep",
        "department", "customer_segment", "channel", "region",
    ]
    assert pipe.table("gold", "product_metrics").columns == [
        "product_id", "product_name", "category", "total_sales",
        "total_quantity_sold", "total_revenue", "avg_sale_amount",
    ]
    # sales_summary is partitioned by year → partition column reads last;
    # compare as sets plus the projected order of the data columns.
    ss = pipe.table("gold", "sales_summary")
    assert sorted(ss.columns) == sorted([
        "year", "month", "channel", "region",
        "total_transactions", "total_revenue", "avg_transaction_value",
    ])


def test_gold_sales_summary_partition_layout_and_pruning(spark, pipeline):
    """100 TB disposition (SURVEY §4.1): sales_summary lands partitioned
    by (year, month) — nested hive-style directories — and a
    year/month-filtered read prunes at the partition level (the filter
    appears as a PartitionFilter on the scan, never a data filter over
    all files)."""
    import glob

    pipe, _, _ = pipeline
    root = pipe.path("gold", "sales_summary")
    year_dirs = glob.glob(f"{root}/year=*")
    month_dirs = glob.glob(f"{root}/year=*/month=*")
    assert year_dirs, "expected hive-style year=* partition directories"
    assert month_dirs, "expected nested month=* partition directories"

    ss = pipe.table("gold", "sales_summary")
    y, m = ss.select("year", "month").first()
    plan = (
        ss.filter(f"year = {y} AND month = {m}")
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, f"no PartitionFilters in scan:\n{plan}"
    assert "year" in pf.group(1) and "month" in pf.group(1), pf.group(1)
    # the pruned filter must NOT fall through to a row-level PushedFilters
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert not pushed or "year" not in (pushed.group(1) or ""), plan


def test_gold_sales_summary_parity(spark, pipeline):
    pipe, sources, _ = pipeline
    con = _duck(sources)
    got = _rows(
        pipe.table("gold", "sales_summary"),
        ["year", "month", "channel", "region", "total_transactions", "total_revenue"],
    )
    want = _duck_rows(con, """
        SELECT CAST(year(sale_date) AS INTEGER) AS year,
               CAST(month(sale_date) AS INTEGER) AS month,
               channel, region, count(*) AS total_transactions,
               sum(total_amount) AS total_revenue
        FROM silver_sales GROUP BY 1, 2, 3, 4
    """)
    _assert_rows_equal(got, want)


def test_verify_and_reports_and_service(spark, pipeline):
    pipe, sources, run_result = pipeline
    audit = V.verify_results(pipe)
    assert audit["success"]
    assert audit["bronze"]["employees"] > 0
    detailed = V.verify_results_detailed(pipe)
    assert detailed["gold"]["product_metrics"]["row_count"] > 0
    assert len(detailed["silver"]["employees"]["first_columns"]) == 5

    reps = RP.sample_reports(pipe)
    assert set(reps) == {"top_products", "sales_by_channel", "top_departments"}
    assert len(reps["top_products"]) > 0

    assert health()["status"] == "healthy"
    assert "/trigger-etl" in status()["endpoints"]
    rerun = trigger_etl(pipe, sources)  # idempotent overwrite re-run
    assert rerun["success"] and rerun["duration_sec"] >= 0
    assert len(sample_data(pipe)["top_products"]) > 0


def test_pipeline_halts_on_failed_layer(spark, tmp_path):
    pipe = MedallionPipeline(spark, str(tmp_path / "wh"))
    result = pipe.run_etl({"employees": "/nonexistent/x", "products": "/nonexistent/y",
                           "sales": "/nonexistent/z"})
    assert not result["success"]
    assert set(result["layers"]) == {"bronze"}  # halted before silver/gold
    assert result["layers"]["bronze"] == {
        "employees": False, "products": False, "sales": False,
    }


def test_sql_twin_matches_dataframe_pipeline(spark, pipeline):
    """The SQL-first pipeline (the reference's literal interface) must
    produce the same silver/gold contents as the DataFrame pipeline."""
    pipe, sources, _ = pipeline
    from etl_project_gcp_spark.plans.medallion_sql import MedallionSQL

    sql_pipe = MedallionSQL(spark)
    try:
        result = sql_pipe.run_etl(sources)
        assert result["success"], result
        for layer, df_layer, tables in (
            ("silver_sql", "silver", ("employees", "products", "sales")),
            ("gold_sql", "gold", ("sales_analytics", "product_metrics", "sales_summary")),
        ):
            for t in tables:
                got = spark.table(f"{layer}.{t}")
                want = pipe.table(df_layer, t)
                assert sorted(got.columns) == sorted(want.columns), (t, got.columns, want.columns)
                g = sorted(map(str, got.select(*sorted(got.columns)).collect()))
                w = sorted(map(str, want.select(*sorted(want.columns)).collect()))
                assert g == w, f"{layer}.{t} differs from DataFrame pipeline"
    finally:
        sql_pipe.drop_all()


def test_http_service_endpoints(pipeline):
    """Full HTTP round-trip over the Flask wrapper (main.py:25-177
    parity): every endpoint returns 200 JSON with the reference's
    response shape."""
    flask = pytest.importorskip("flask")  # noqa: F841
    from etl_project_gcp_spark.service import create_app

    pipe, sources, _ = pipeline
    client = create_app(pipe, sources).test_client()

    r = client.get("/")
    assert r.status_code == 200 and r.get_json()["status"] == "healthy"

    r = client.get("/status")
    body = r.get_json()
    assert r.status_code == 200 and "/trigger-etl" in body["endpoints"]

    r = client.post("/trigger-etl")
    body = r.get_json()
    assert r.status_code == 200 and body["success"] and body["duration_sec"] >= 0

    r = client.get("/verify-results")
    body = r.get_json()
    assert r.status_code == 200
    assert all(layer in body for layer in ("bronze", "silver", "gold"))

    r = client.get("/sample-data")
    assert r.status_code == 200 and len(r.get_json()) >= 3


def test_corpus_gold_sales_summary_layers_and_partitioned_layout(
    spark, tmp_path
):
    """The driver-gate lineage (run_corpus_gold_sales_summary): every
    layer materializes under the warehouse root, gold lands partitioned
    by (year, month), and the read-back values equal the same rollup
    computed directly over the source parquet (the CSV landing/bronze
    roundtrip must be value-lossless after the silver typed cleanse)."""
    import os

    from pyspark.sql import functions as F

    from etl_project_gcp_spark import exact as X
    from etl_project_gcp_spark.plans.medallion import (
        run_corpus_gold_sales_summary,
    )

    sf_dir = "/root/testdata/sf0.001"
    root = str(tmp_path / "wh")
    out = run_corpus_gold_sales_summary(spark, sf_dir, root)

    for layer in ("landing/orders", "bronze/orders", "silver/orders",
                  "gold/sales_summary"):
        assert os.path.isdir(f"{root}/{layer}"), layer
    # partitioned layout: year=*/month=* directories
    years = [d for d in os.listdir(f"{root}/gold/sales_summary")
             if d.startswith("year=")]
    assert years
    assert any(d.startswith("month=")
               for d in os.listdir(f"{root}/gold/sales_summary/{years[0]}"))

    direct = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 0)
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
    cols = sorted(out.columns)
    assert cols == sorted(direct.columns)
    a = sorted(map(tuple, out.select(*cols).collect()))
    b = sorted(map(tuple, direct.select(*cols).collect()))
    assert a == b
