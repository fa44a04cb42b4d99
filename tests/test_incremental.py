"""Incremental maintenance: MERGE upsert (SCD1), partition-pruned
storage merge, and SCD2 history (plans/incremental.py).

The storage test is the 100 TB claim: merging a batch that touches one
partition must leave every other partition's files byte-identical on
disk (no read, no rewrite), while the merged table equals the naive
full-table merge.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_project_gcp_spark.plans import incremental as INC
from etl_project_gcp_spark import queries as Q
from tests.oracle import compare


def _toy_target(spark):
    return spark.createDataFrame(
        [
            Row(id=1, year=2023, val="a"),
            Row(id=2, year=2023, val="b"),
            Row(id=3, year=2024, val="c"),
            Row(id=4, year=2024, val="d"),
        ]
    )


def test_merge_upsert_semantics(spark):
    target = _toy_target(spark)
    updates = spark.createDataFrame(
        [Row(id=3, year=2024, val="C2"), Row(id=9, year=2024, val="new")]
    )
    got = {
        (r.id, r.year, r.val)
        for r in INC.merge_upsert(target, updates, ["id"]).collect()
    }
    assert got == {
        (1, 2023, "a"),
        (2, 2023, "b"),
        (3, 2024, "C2"),
        (4, 2024, "d"),
        (9, 2024, "new"),
    }


def test_merge_into_partitioned_prunes_and_preserves(spark, tmp_path):
    path = str(tmp_path / "target")
    _toy_target(spark).write.partitionBy("year").parquet(path)
    untouched_before = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/year=2023/*.parquet")
    }
    assert untouched_before

    updates = spark.createDataFrame(
        [Row(id=3, year=2024, val="C2"), Row(id=9, year=2024, val="new")]
    )
    parts = INC.merge_into_partitioned(
        spark, path, updates, ["id"], ["year"]
    )
    assert parts == [{"year": 2024}]

    # Untouched partition: same files, same mtimes — never rewritten.
    untouched_after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/year=2023/*.parquet")
    }
    assert untouched_after == untouched_before

    # Merged table equals the naive full merge.
    got = {
        (r.id, r.year, r.val) for r in spark.read.parquet(path).collect()
    }
    want = {
        (r.id, r.year, r.val)
        for r in INC.merge_upsert(
            _toy_target(spark), updates, ["id"]
        ).collect()
    }
    assert got == want

    # The target-side scan is partition-pruned: the literal predicate
    # lands in PartitionFilters, not a post-scan Filter.
    pred = INC._partition_predicate([{"year": 2024}], ["year"])
    sliced = spark.read.parquet(path).filter(pred)
    plan = sliced._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [" in plan
    assert "(year" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_merge_into_partitioned_empty_batch_is_noop(spark, tmp_path):
    path = str(tmp_path / "target")
    _toy_target(spark).write.partitionBy("year").parquet(path)
    before = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{path}/**/*.parquet")
    }
    empty = _toy_target(spark).filter(F.lit(False))
    assert INC.merge_into_partitioned(spark, path, empty, ["id"], ["year"]) == []
    after = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{path}/**/*.parquet")
    }
    assert after == before


def test_partitioned_writes_never_set_session_overwrite_mode(
    spark, tmp_path, monkeypatch
):
    """Dynamic overwrite is a per-write option: merge_into_partitioned
    and refresh_partitions replace only the written partition and never
    set the session's partitionOverwriteMode, which a concurrent query
    on the same session would otherwise observe."""
    from etl_project_gcp_spark.plans.medallion import refresh_partitions

    key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(key)
    set_keys = []
    real_set = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set", lambda k, v: (set_keys.append(k), real_set(k, v))
    )
    path = str(tmp_path / "target")
    _toy_target(spark).write.partitionBy("year").parquet(path)
    updates = spark.createDataFrame([Row(id=3, year=2024, val="C2")])
    INC.merge_into_partitioned(spark, path, updates, ["id"], ["year"])
    refresh_partitions(
        spark, path, spark.createDataFrame([Row(id=5, val="e", year=2023)]),
        ["year"], [{"year": 2023}],
    )
    assert key not in set_keys
    assert spark.conf.get(key) == mode_before
    got = {(r.id, r.year, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {(5, 2023, "e"), (3, 2024, "C2"), (4, 2024, "d")}


def _toy_history(spark):
    dim = spark.createDataFrame(
        [Row(id=1, seg="A"), Row(id=2, seg="B"), Row(id=3, seg="C")]
    )
    return INC.scd2_init(dim, "id")


def test_scd2_apply_closes_versions_and_inserts(spark):
    hist = _toy_history(spark)
    batch1 = spark.createDataFrame(
        [Row(id=1, seg="A2"), Row(id=2, seg="B"), Row(id=4, seg="D")]
    )
    h1 = INC.scd2_apply(hist, batch1, "id", ["seg"])
    got = {(r.id, r.seg, r.version, r.is_current) for r in h1.collect()}
    assert got == {
        (1, "A", 1, False),   # changed: closed
        (1, "A2", 2, True),   # changed: new current version
        (2, "B", 1, True),    # unchanged update: no-op
        (3, "C", 1, True),    # absent from batch: untouched
        (4, "D", 1, True),    # brand-new key
    }

    # Second batch: change id=1 again (version 3), id=4 unchanged.
    batch2 = spark.createDataFrame([Row(id=1, seg="A3"), Row(id=4, seg="D")])
    h2 = INC.scd2_apply(h1, batch2, "id", ["seg"])
    got2 = {(r.id, r.seg, r.version, r.is_current) for r in h2.collect()}
    assert got2 == {
        (1, "A", 1, False),
        (1, "A2", 2, False),
        (1, "A3", 3, True),
        (2, "B", 1, True),
        (3, "C", 1, True),
        (4, "D", 1, True),
    }


def test_scd2_apply_is_idempotent(spark):
    hist = _toy_history(spark)
    batch = spark.createDataFrame([Row(id=1, seg="A2"), Row(id=5, seg="E")])
    once = INC.scd2_apply(hist, batch, "id", ["seg"])
    twice = INC.scd2_apply(once, batch, "id", ["seg"])
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_scd2_null_tracked_values(spark):
    """eqNullSafe semantics: NULL→value and value→NULL are changes;
    NULL→NULL is not."""
    dim = spark.createDataFrame(
        [Row(id=1, seg=None), Row(id=2, seg="B"), Row(id=3, seg=None)],
        "id int, seg string",
    )
    hist = INC.scd2_init(dim, "id")
    batch = spark.createDataFrame(
        [Row(id=1, seg="A"), Row(id=2, seg=None), Row(id=3, seg=None)],
        "id int, seg string",
    )
    got = {
        (r.id, r.seg, r.version, r.is_current)
        for r in INC.scd2_apply(hist, batch, "id", ["seg"]).collect()
    }
    assert got == {
        (1, None, 1, False),
        (1, "A", 2, True),
        (2, "B", 1, False),
        (2, None, 2, True),
        (3, None, 1, True),
    }


@pytest.mark.parametrize("name", ["customer_upsert", "customer_scd2"])
def test_registry_entries_match_oracle(spark, sf_dir, name):
    fn = Q.queries()[name]
    compare(fn(spark, sf_dir), Q.oracle_sql()[name], sf_dir)


def test_merge_upsert_rejects_duplicate_source_keys(spark):
    target = _toy_target(spark)
    dup_updates = spark.createDataFrame(
        [Row(id=3, year=2024, val="x"), Row(id=3, year=2024, val="y")]
    )
    with pytest.raises(ValueError, match="multiple rows for merge key"):
        INC.merge_upsert(target, dup_updates, ["id"])
    # Opt-out keeps the raw union semantics for callers who pre-collapse.
    assert INC.merge_upsert(
        target, dup_updates, ["id"], validate_unique=False
    ).count() == 5


def test_scd2_rejects_duplicate_batch_keys(spark):
    hist = _toy_history(spark)
    dup = spark.createDataFrame([Row(id=1, seg="X"), Row(id=1, seg="Y")])
    with pytest.raises(ValueError, match="one batch = one version"):
        INC.scd2_apply(hist, dup, "id", ["seg"])


def test_merge_into_partitioned_null_partition_value(spark, tmp_path):
    """A batch row in the NULL partition must still merge (null-safe
    partition predicate), not silently duplicate its key."""
    path = str(tmp_path / "target")
    spark.createDataFrame(
        [Row(id=1, year=None, val="a"), Row(id=2, year=2024, val="b")],
        "id int, year int, val string",
    ).write.partitionBy("year").parquet(path)
    updates = spark.createDataFrame(
        [Row(id=1, year=None, val="A2")], "id int, year int, val string"
    )
    INC.merge_into_partitioned(spark, path, updates, ["id"], ["year"])
    got = {(r.id, r.year, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {(1, None, "A2"), (2, 2024, "b")}


def test_merge_upsert_schema_evolution(spark):
    """A new column arriving with the batch: historical rows read NULL
    for it (autoMerge semantics); without the flag the drift fails."""
    target = _toy_target(spark)
    evolved = spark.createDataFrame(
        [Row(id=3, year=2024, val="C2", src="cdc")],
        "id bigint, year bigint, val string, src string",
    )
    with pytest.raises(Exception):
        INC.merge_upsert(target, evolved, ["id"]).collect()
    got = {
        (r.id, r.val, r.src)
        for r in INC.merge_upsert(
            target, evolved, ["id"], allow_schema_evolution=True
        ).collect()
    }
    assert got == {
        (1, "a", None), (2, "b", None), (3, "C2", "cdc"), (4, "d", None)
    }


def test_merge_into_partitioned_bootstraps_missing_target(spark, tmp_path):
    """ADVICE r5: the first batch into a not-yet-existing target must
    CREATE the table (the streaming_merge_upsert opening micro-batch),
    not throw PATH_NOT_FOUND."""
    from pyspark.sql import Row

    from etl_project_gcp_spark.plans.incremental import (
        merge_into_partitioned,
    )

    target = str(tmp_path / "fresh")
    batch = spark.createDataFrame(
        [Row(k=1, v="a", day="d1"), Row(k=2, v="b", day="d2")]
    )
    touched = merge_into_partitioned(spark, target, batch, ["k"], ["day"])
    assert {t["day"] for t in touched} == {"d1", "d2"}
    got = {(r.k, r.v, r.day)
           for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a", "d1"), (2, "b", "d2")}

    # second batch merges normally into the bootstrapped table
    batch2 = spark.createDataFrame([Row(k=1, v="a2", day="d1")])
    merge_into_partitioned(spark, target, batch2, ["k"], ["day"])
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a2"), (2, "b")}


def test_merge_into_partitioned_schema_evolution(spark, tmp_path):
    """allow_schema_evolution plumbs through the storage MERGE: a new
    column arriving with the batch lands as NULLs on historical rows of
    the touched partition."""
    from pyspark.sql import Row

    from etl_project_gcp_spark.plans.incremental import (
        merge_into_partitioned,
    )

    target = str(tmp_path / "evolve")
    spark.createDataFrame(
        [Row(k=1, v="a", day="d1"), Row(k=2, v="b", day="d1")]
    ).write.partitionBy("day").parquet(target)

    batch = spark.createDataFrame([Row(k=1, v="a2", extra=7, day="d1")])
    try:
        merge_into_partitioned(spark, target, batch, ["k"], ["day"])
    except Exception:
        pass  # drift without the flag fails loudly (union mismatch)
    else:
        raise AssertionError("schema drift without the flag must fail")

    merge_into_partitioned(
        spark, target, batch, ["k"], ["day"], allow_schema_evolution=True
    )
    got = {(r.k, r.v, r.extra)
           for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a2", 7), (2, "b", None)}


def test_merge_into_partitioned_preserves_evolved_column_across_batches(
    spark, tmp_path
):
    """Code-review r6: after one batch evolves a partition's schema, a
    LATER batch carrying the old schema must not silently null the
    evolved column out of the partitions it rewrites — strict mode
    fails loudly, evolution mode preserves the evolved values on
    untouched rows (mergeSchema read + drift check)."""
    from pyspark.sql import Row

    from etl_project_gcp_spark.plans.incremental import (
        merge_into_partitioned,
    )

    target = str(tmp_path / "evolve2")
    spark.createDataFrame(
        [Row(k=1, v="a", day="d1"), Row(k=2, v="b", day="d1"),
         Row(k=3, v="c", day="d2")]
    ).write.partitionBy("day").parquet(target)

    # batch 1 evolves d1 with a new column
    b1 = spark.createDataFrame([Row(k=1, v="a1", extra=7, day="d1")])
    merge_into_partitioned(
        spark, target, b1, ["k"], ["day"], allow_schema_evolution=True
    )

    # batch 2: OLD schema, touches d1 — strict mode must refuse
    b2 = spark.createDataFrame([Row(k=2, v="b2", day="d1")])
    try:
        merge_into_partitioned(spark, target, b2, ["k"], ["day"])
    except ValueError as e:
        assert "extra" in str(e)
    else:
        raise AssertionError("old-schema batch must fail strict merge")

    # with the flag, k=1's evolved value survives d1's rewrite
    merge_into_partitioned(
        spark, target, b2, ["k"], ["day"], allow_schema_evolution=True
    )
    got = {(r.k, r.v, r.extra)
           for r in spark.read.option("mergeSchema", "true")
                         .parquet(target).collect()}
    assert got == {(1, "a1", 7), (2, "b2", None), (3, "c", None)}


def test_merge_into_partitioned_rebootstraps_over_marker_only_residue(
    spark, tmp_path
):
    """Code-review r6: a crashed first write can leave _SUCCESS (or
    _temporary) with no data; the next batch must re-run the bootstrap
    create instead of wedging on UNABLE_TO_INFER_SCHEMA forever."""
    import os

    from pyspark.sql import Row

    from etl_project_gcp_spark.plans.incremental import (
        merge_into_partitioned,
    )

    target = str(tmp_path / "wedged")
    os.makedirs(target)
    open(f"{target}/_SUCCESS", "w").close()

    batch = spark.createDataFrame([Row(k=1, v="a", day="d1")])
    merge_into_partitioned(spark, target, batch, ["k"], ["day"])
    got = {(r.k, r.v, r.day) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a", "d1")}
