"""Runtime verification audits (etl_medallion.py:220-296 parity).

The reference has no test suite; it verifies at runtime: table
existence + row counts per layer, expected-table checklists, and a
first-5-columns sample. Same surface here, against the Parquet
lakehouse + Spark catalog.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_project_gcp_spark.plans.medallion import (
    BRONZE_TABLES,
    GOLD_TABLES,
    SILVER_TABLES,
    MedallionPipeline,
)

EXPECTED_TABLES = {
    "bronze": list(BRONZE_TABLES),
    "silver": list(SILVER_TABLES),
    "gold": list(GOLD_TABLES),
}


def _count_all(frames: dict) -> dict:
    """Row count of every frame, or the exception counting it raised.

    All frames are counted in one job — the union of one literal tag
    column per frame, grouped by tag — instead of one ``count()`` job
    per table; a frame with no rows has no group and counts 0. If that
    job fails, each frame is counted on its own, so an execution error
    is reported against its own table."""
    keys = list(frames)
    if not keys:
        return {}
    tagged = reduce(
        DataFrame.union,
        [frames[k].select(F.lit(i).alias("i")) for i, k in enumerate(keys)],
    )
    try:
        got = dict(tagged.groupBy("i").count().collect())
    except Exception:
        return {k: _count_one(frames[k]) for k in keys}
    return {k: got.get(i, 0) for i, k in enumerate(keys)}


def _count_one(df: DataFrame):
    try:
        return df.count()
    except Exception as e:
        return e


def _audit(pipe: MedallionPipeline) -> dict[tuple[str, str], tuple]:
    """Every expected (layer, table), in ``EXPECTED_TABLES`` order ->
    (its DataFrame or None, its row count or the exception resolving or
    counting it raised). All tables are resolved before any is counted,
    so the counts can run as one job."""
    resolved: dict[tuple[str, str], object] = {}
    for layer, tables in EXPECTED_TABLES.items():
        for t in tables:
            try:
                resolved[layer, t] = pipe.table(layer, t)
            except Exception as e:  # a missing table reports its error
                resolved[layer, t] = e
    frames = {k: v for k, v in resolved.items() if isinstance(v, DataFrame)}
    counts = _count_all(frames)
    return {k: (frames.get(k), counts.get(k, v)) for k, v in resolved.items()}


def verify_results(pipe: MedallionPipeline) -> dict:
    """Row-count audit per layer (etl_medallion.py:220-255): every
    expected table must exist and report its COUNT(*)."""
    out: dict[str, dict] = {layer: {} for layer in EXPECTED_TABLES}
    for (layer, t), (_, n) in _audit(pipe).items():
        out[layer][t] = None if isinstance(n, Exception) else n
    out["success"] = all(
        n is not None for layer in EXPECTED_TABLES for n in out[layer].values()
    )
    return out


def verify_results_detailed(pipe: MedallionPipeline) -> dict:
    """Checklist audit (etl_medallion.py:257-296): per expected table,
    row count + first 5 columns in ordinal position."""
    out: dict[str, dict] = {layer: {} for layer in EXPECTED_TABLES}
    for (layer, t), (df, n) in _audit(pipe).items():
        if isinstance(n, Exception):
            out[layer][t] = {"error": f"{n}"[:100]}
        else:
            out[layer][t] = {"row_count": n, "first_columns": df.columns[:5]}
    return out
