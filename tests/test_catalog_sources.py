"""Catalog/metadata ops (M1-M4) and source readers/writers (S2-S4)."""

from __future__ import annotations

from etl_project_gcp_spark import catalog as C
from etl_project_gcp_spark.sources import (
    read_csv_bronze,
    read_csv_delimited,
    write_csv,
    write_parquet_overwrite,
)


def test_catalog_views_and_columns(spark, sf_dir):
    C.register_corpus_views(spark, sf_dir, ("nation", "region"))
    assert {"nation", "region"} <= set(C.list_views(spark))
    cols = C.list_columns(spark, "nation")
    assert [c["column_name"] for c in cols] == ["n_nationkey", "n_name", "n_regionkey"]
    assert cols[0]["ordinal_position"] == 1
    first2 = C.list_columns(spark, "nation", limit=2)
    assert len(first2) == 2


def test_create_namespace_idempotent(spark):
    C.create_namespace(spark, "bronze_test_ns")
    C.create_namespace(spark, "bronze_test_ns")  # IF NOT EXISTS
    assert "bronze_test_ns" in [d.name for d in spark.catalog.listDatabases()]
    spark.sql("DROP DATABASE bronze_test_ns")


def test_table_schema(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    assert C.table_schema(df) == [("r_regionkey", "int"), ("r_name", "string")]


def test_csv_bronze_sampled_inference_matches_full(spark, sf01_dir, tmp_path):
    """The ingest-layer scale knob (r13): sampled schema inference must
    land the same schema AND values as the full-scan default on the
    driver corpus (at 100x the sampled pass measured 1.12 -> 0.25 s;
    here we pin equivalence, not speed)."""
    from etl_project_gcp_spark.queries import _t

    orders = _t(spark, sf01_dir, "orders")
    orders.write.mode("overwrite").options(header=True).csv(
        str(tmp_path / "landing")
    )
    full = read_csv_bronze(spark, str(tmp_path / "landing"))
    sampled = read_csv_bronze(
        spark, str(tmp_path / "landing"), sampling_ratio=0.01
    )
    assert sampled.schema == full.schema
    assert sampled.count() == full.count() == orders.count()
    # same schema + same source ⇒ same parse; spot-check values too
    assert sampled.orderBy("o_orderkey").limit(5).collect() == \
        full.orderBy("o_orderkey").limit(5).collect()


def test_csv_roundtrip_with_custom_delimiter(spark, tmp_path):
    df = spark.createDataFrame([(1, "a;x"), (2, "b")], ["id", "val"])
    # default-delimiter sink then re-read (S3)
    write_csv(df, str(tmp_path / "plain"))
    back = read_csv_bronze(spark, str(tmp_path / "plain"))
    assert sorted((r.id, r.val) for r in back.collect()) == [(1, "a;x"), (2, "b")]
    # semicolon-delimited read (S2 — notebook cars.csv path)
    (tmp_path / "semi").mkdir()
    (tmp_path / "semi" / "cars.csv").write_text("Car;MPG;Cylinders\nFord;18.0;6\nFiat;29.0;4\n")
    cars = read_csv_delimited(spark, str(tmp_path / "semi" / "cars.csv"), sep=";")
    assert cars.columns == ["Car", "MPG", "Cylinders"]
    assert cars.count() == 2
    assert dict((r.Car, r.Cylinders) for r in cars.collect()) == {"Ford": 6, "Fiat": 4}


def test_parquet_sink_overwrite_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 2023), (2, "b", 2024)], ["id", "v", "year"])
    write_parquet_overwrite(df, str(tmp_path / "pq"), partition_by=["year"])
    write_parquet_overwrite(df, str(tmp_path / "pq"), partition_by=["year"])  # idempotent
    back = spark.read.parquet(str(tmp_path / "pq"))
    assert back.count() == 2
    assert set(back.columns) == {"id", "v", "year"}


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    """Two tables bucketed identically on the join key must join with no
    Exchange in the physical plan — the write-time shuffle is amortized
    over every later join on that key."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.sources import write_bucketed_table

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # and it actually computes the right thing
            n = joined.count()
            expected = li.join(
                orders, li.l_orderkey == orders.o_orderkey
            ).count()
            assert n == expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bronze_csv_failfast_on_jagged_rows(spark, tmp_path):
    """The reference loads with allow_jagged_rows=false (etl_medallion.py
    :95-97): a row with extra fields must raise, not silently truncate."""
    import pytest
    from pyspark.sql import types as T

    p = tmp_path / "bad.csv"
    p.write_text("id,val\n1,a\n2,b,EXTRA\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    with pytest.raises(Exception, match="Malformed|FAILFAST|MALFORMED"):
        read_csv_bronze(spark, str(p), schema=schema).collect()


def test_jsonl_roundtrip_and_corrupt_line_capture(spark, tmp_path):
    """JSONL sink→source roundtrip with a pinned schema, plus the
    PERMISSIVE contract: a malformed line becomes a _corrupt_record row
    for downstream filtering, never an ingest failure."""
    from pyspark.sql import types as T

    from etl_project_gcp_spark.sources import read_jsonl, write_jsonl

    docs = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "hola mundo", "es")],
        ["doc_id", "text", "lang"],
    )
    write_jsonl(docs, str(tmp_path / "out"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    back = read_jsonl(spark, str(tmp_path / "out"), schema=schema)
    assert sorted((r.doc_id, r.text, r.lang) for r in back.collect()) == [
        (1, "hello world", "en"),
        (2, "hola mundo", "es"),
    ]

    bad = tmp_path / "dirty.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\nNOT JSON AT ALL\n')
    dirty_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    rows = read_jsonl(spark, str(bad), schema=dirty_schema).collect()
    good = [r for r in rows if r._corrupt_record is None]
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 1 and good[0].doc_id == 1
    assert len(corrupt) == 1 and "NOT JSON" in corrupt[0]._corrupt_record


def test_compact_parquet_hits_target_file_count(spark, tmp_path):
    """64 tiny files compact into the byte-computed target count; data
    survives the rewrite intact."""
    from etl_project_gcp_spark.sources.layout import compact_parquet

    df = spark.range(100_000).selectExpr("id", "id * 2 AS v")
    src = str(tmp_path / "small_files")
    df.repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*")) == 64
    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dst, target_mb=1)
    files = glob.glob(f"{dst}/part-*")
    assert len(files) == n < 64
    back = spark.read.parquet(dst)
    assert back.count() == 100_000
    assert back.agg({"v": "sum"}).collect()[0][0] == df.agg({"v": "sum"}).collect()[0][0]


def test_sorted_parquet_layout_prunes_on_sort_key(spark, tmp_path):
    """Range-partitioned sorted layout: files carry non-overlapping key
    ranges (checked via per-file min/max) and a selective key filter
    reads fewer rows than the full scan (row-group pruning visible in
    the scan metrics would need a cluster; here we assert layout)."""
    from etl_project_gcp_spark.sources.layout import write_sorted_parquet

    df = spark.range(50_000).selectExpr(
        "cast(id * 7919 % 50000 AS long) AS k", "id AS payload"
    )
    path = str(tmp_path / "sorted")
    write_sorted_parquet(df, path, ["k"], n_files=8)

    import glob

    from pyspark.sql import functions as F

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1,hi1)} vs {(lo2,hi2)}"
    # correctness through the rewrite
    assert spark.read.parquet(path).count() == 50_000


def test_information_schema_dataframes_compose(spark, sf_dir):
    """M1/M2 as DataFrames: metadata rows filter/sort with the same
    relational operators as any table (etl_medallion.py:228-233,:280-286)."""
    from pyspark.sql import functions as F

    C.register_corpus_views(spark, sf_dir, ("nation", "region", "orders"))
    cols = C.information_schema_columns(spark, ["nation", "region", "orders"])
    # ordinal contract: first column of each table has position 1
    firsts = cols.filter(F.col("ordinal_position") == 1).orderBy("table_name")
    assert [r.column_name for r in firsts.collect()] == [
        "n_nationkey", "o_orderkey", "r_regionkey"
    ]
    # LIMIT-5-by-ordinal shape from the reference's column sample
    top = (cols.filter(F.col("table_name") == "orders")
               .orderBy("ordinal_position").limit(5))
    assert [r.column_name for r in top.collect()] == [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    ]
    tbls = C.information_schema_tables(spark, ["nation", "region", "orders"])
    assert {(r.table_name, r.column_count) for r in tbls.collect()} == {
        ("nation", 3), ("region", 2), ("orders", 6)
    }


def test_orc_roundtrip_partitioned_with_pruning(spark, tmp_path):
    """ORC sink→source roundtrip; a partitioned write must produce
    lang=<v> directories and a filtered re-read must prune to the one
    partition (PartitionFilters in the scan plan)."""
    from etl_project_gcp_spark.sources import read_orc, write_orc

    docs = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "hola mundo", "es"), (3, "salut", "fr")],
        ["doc_id", "text", "lang"],
    )
    out = str(tmp_path / "orc")
    write_orc(docs, out, partition_by=["lang"])
    dirs = sorted(
        p.name for p in (tmp_path / "orc").iterdir() if p.name.startswith("lang=")
    )
    assert dirs == ["lang=en", "lang=es", "lang=fr"]

    back = read_orc(spark, out)
    assert sorted((r.doc_id, r.text, r.lang) for r in back.collect()) == [
        (1, "hello world", "en"),
        (2, "hola mundo", "es"),
        (3, "salut", "fr"),
    ]

    filtered = back.filter(back.lang == "es")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "lang=es" in plan or "PartitionFilters: [isnotnull(lang" in plan
    assert [r.doc_id for r in filtered.collect()] == [2]


def test_compact_parquet_partitioned_compacts_per_directory(spark, tmp_path):
    """Partitioned compaction keeps the hive layout and lands ~target
    file counts PER partition directory (a keys-only shuffle would give
    exactly one file per dir; a keyless one a sliver per task per dir)."""
    import glob

    from pyspark.sql import functions as F

    from etl_project_gcp_spark.sources.layout import compact_parquet

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(40_000).select(
        F.col("id"),
        (F.col("id") % 4).alias("part"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    # many small files per partition dir: the fragmentation compaction fixes
    df.repartition(32).write.partitionBy("part").parquet(src)
    assert len(glob.glob(f"{src}/part=0/*.parquet")) >= 16

    compact_parquet(spark, src, dst, target_mb=1, partition_by=["part"])
    for p in range(4):
        files = glob.glob(f"{dst}/part={p}/*.parquet")
        # sized from on-disk bytes: a handful per dir, far below the
        # 32-sliver input and never one-file-per-dir-only degenerate
        assert 1 <= len(files) <= 8, (p, len(files))
    got = spark.read.parquet(dst)
    assert got.count() == 40_000
    assert set(got.columns) == {"id", "part", "payload"}


def test_jsonl_compressed_roundtrip(spark, tmp_path):
    """Compressed JSONL export (the 100 TB default): gzip and lz4
    outputs re-read to the identical row set, the files carry the
    codec suffix (no silent plain-text fallback), and the reader
    needs no special flags (Spark infers the codec per file)."""
    import glob as g

    from etl_project_gcp_spark.sources.readers import read_jsonl
    from etl_project_gcp_spark.sources.writers import write_jsonl

    df = spark.range(200).selectExpr(
        "id AS doc_id", "concat('text-', id) AS text"
    )
    want = sorted(map(tuple, df.collect()))
    for codec, suffix in (("gzip", ".gz"), ("lz4", ".lz4")):
        out = str(tmp_path / codec)
        write_jsonl(df, out, compression=codec)
        parts = g.glob(f"{out}/part-*")
        assert parts and all(p.endswith(suffix) for p in parts), parts
        back = read_jsonl(spark, out, schema="doc_id bigint, text string")
        assert sorted(map(tuple, back.collect())) == want


def test_case_insensitive_column_resolution_parity(spark, tmp_path):
    """SURVEY §1.4 / r10 verdict ask #5: the reference's notebook
    groupBy('origin')s a column the CSV header declares as `Origin`
    (etl_spark.ipynb cell-7 reads with ';' delimiter, cell-20 groups
    lower-case) — legal only because spark.sql.caseSensitive defaults
    to false. Pin that the engine's readers + ops resolve mixed-case
    references the same way, end to end including a parquet round-trip
    (resolution is analyzer-level, so it must survive re-reads)."""
    import pyspark.sql.functions as F

    assert spark.conf.get("spark.sql.caseSensitive") == "false"

    src = tmp_path / "flights.csv"
    src.write_text(
        "Origin;Dest;DepDelay\n"
        "SEA;SFO;5\n"
        "SEA;LAX;15\n"
        "PDX;SFO;0\n"
    )
    df = read_csv_delimited(spark, str(src), sep=";")
    assert df.columns == ["Origin", "Dest", "DepDelay"]  # case preserved

    # the notebook's exact shape: lower-case groupBy over an upper-case
    # declaration, mixed-case agg/filter/select references
    # (the groupBy output column carries the case AS REFERENCED —
    # "origin" — while resolving against the declared "Origin";
    # Row access is Python-side and stays case-sensitive)
    got = {
        r["origin"]: r.total
        for r in df.groupBy("origin")
        .agg(F.sum("depdelay").alias("total"))
        .collect()
    }
    assert got == {"SEA": 20, "PDX": 0}
    assert df.filter(F.col("ORIGIN") == "SEA").count() == 2
    assert df.select("dest").distinct().count() == 2

    # parquet round-trip: the stored schema keeps `Origin`, and a
    # lower-case reference still resolves after re-read
    out = str(tmp_path / "flights_parquet")
    write_parquet_overwrite(df, out)
    back = spark.read.parquet(out)
    assert back.schema["Origin"].name == "Origin"
    assert (
        back.groupBy("origin").count().where(F.col("origin") == "SEA")
        .first()["count"] == 2
    )
    # and a DUPLICATE-under-case-folding reference fails loudly, not
    # silently picks one (the analyzer's ambiguity contract)
    import pytest
    from pyspark.errors import AnalysisException

    dup = df.withColumn("ORIGIN2", F.lit("x")).withColumnRenamed(
        "Dest", "origin2"
    )
    with pytest.raises(AnalysisException):
        dup.select("origin2").collect()


def test_table_read_memo_contract(spark, sf01_dir, tmp_path):
    """_t memoizes per (app, path, size, mtime_ns) — the r12 fix for
    ~100 ms/table/call of parquet footer re-resolution. The contract
    has three edges worth pinning: (1) repeat reads of an unchanged
    path return the SAME DataFrame instance (the memo actually hits);
    (2) a path rewritten in place is re-read, never served stale (the
    mtime key); (3) a missing path still raises AnalysisException via
    the fresh-read fallback, not KeyError/None (the verify skill's
    bad-sf_dir probe)."""
    import time as _time

    import pytest
    from pyspark.errors import AnalysisException

    from etl_project_gcp_spark import queries as Q

    a = Q._t(spark, sf01_dir, "nation")
    b = Q._t(spark, sf01_dir, "nation")
    assert a is b, "memo miss on unchanged path"

    src = str(tmp_path)
    a.limit(3).write.parquet(f"{src}/t.parquet")
    first = Q._t(spark, src, "t")
    assert first.count() == 3
    # Spark's overwrite deletes and recreates the directory, so the
    # key's st_ino changes regardless of the filesystem's mtime
    # granularity — the sleep is NOT what the invalidation rests on
    # (an in-place same-inode edit within one mtime tick is the one
    # documented stale window; directory rewrites are not that case).
    _time.sleep(0.02)
    a.limit(5).write.mode("overwrite").parquet(f"{src}/t.parquet")
    second = Q._t(spark, src, "t")
    assert second is not first, "stale plan served after rewrite"
    assert second.count() == 5

    with pytest.raises(AnalysisException):
        Q._t(spark, src, "missing").count()

    # URI-scheme paths bypass the memo untouched (abspath would mangle
    # the scheme; a local stat can't key remote state) and still read
    u1 = Q._t(spark, f"file:{src}", "t")
    u2 = Q._t(spark, f"file:{src}", "t")
    assert u1.count() == 5
    assert u2 is not u1, "URI path must not be memoized"


def test_table_read_memo_inplace_child_edit(spark, tmp_path):
    """ADVICE r13 (medium): an in-place content edit of a PART FILE
    inside a parquet directory updates the file's mtime but not the
    directory's inode/size/mtime — the old directory-only stat key
    served the stale cached plan. _dir_stat_key now folds every
    child's (name, size, mtime_ns) into the key via os.scandir, so a
    same-directory-inode child rewrite invalidates."""
    import glob
    import os
    import shutil
    import time as _time

    from etl_project_gcp_spark import queries as Q

    def _overwrite_bytes(dst, srcf):
        with open(srcf, "rb") as f_in, open(dst, "wb") as f_out:
            shutil.copyfileobj(f_in, f_out)

    src = str(tmp_path)
    spark.range(3).coalesce(1).write.parquet(f"{src}/t.parquet")
    first = Q._t(spark, src, "t")
    assert first.count() == 3

    # Build a 5-row replacement elsewhere, then copy its part file's
    # BYTES over the existing part file — same directory inode, same
    # child name, new content: exactly the case a directory-only stat
    # cannot see. The Hadoop local FS keeps a .crc sidecar per part, so
    # its bytes are overwritten too (otherwise the checksummed read of
    # the new bytes fails — which proves in passing that the bytes
    # really did change in place).
    spark.range(5).coalesce(1).write.parquet(f"{src}/t2.parquet")
    old_part = glob.glob(f"{src}/t.parquet/part-*.parquet")[0]
    new_part = glob.glob(f"{src}/t2.parquet/part-*.parquet")[0]
    _time.sleep(0.02)
    _overwrite_bytes(old_part, new_part)
    old_crc = f"{os.path.dirname(old_part)}/.{os.path.basename(old_part)}.crc"
    new_crc = f"{os.path.dirname(new_part)}/.{os.path.basename(new_part)}.crc"
    if os.path.exists(old_crc) and os.path.exists(new_crc):
        _overwrite_bytes(old_crc, new_crc)
    # Directory mtime may be unchanged (no entry added/removed); the
    # child's size/mtime_ns is what must carry the invalidation.
    second = Q._t(spark, src, "t")
    assert second is not first, "stale plan served after in-place child edit"
    assert second.count() == 5
    # touch-only (mtime bump, same bytes) also invalidates — the key is
    # conservative, never stale
    os.utime(old_part)
    third = Q._t(spark, src, "t")
    assert third is not second


def test_table_read_memo_nested_partition_child_edit(spark, tmp_path):
    """ADVICE r14 (low): an in-place content edit of a part file inside
    a NESTED partition subdirectory (year=.../part-0.parquet) changes
    neither the dataset directory's stat nor the partition
    subdirectory's stat — the r13 single-level scandir key stayed
    unchanged and served the stale plan. _dir_stat_key now walks
    descendants recursively, so the nested file's (relpath, size,
    mtime_ns) carries the invalidation."""
    import glob
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from etl_project_gcp_spark import queries as Q

    def _overwrite_bytes(dst, srcf):
        with open(srcf, "rb") as f_in, open(dst, "wb") as f_out:
            shutil.copyfileobj(f_in, f_out)

    src = str(tmp_path)
    (
        spark.range(4)
        .withColumn("year", F.lit(2024))
        .coalesce(1)
        .write.partitionBy("year")
        .parquet(f"{src}/t.parquet")
    )
    first = Q._t(spark, src, "t")
    assert first.count() == 4

    # Replacement bytes with the SAME partition layout, copied over the
    # nested part file in place: dataset dir and year=2024 subdir keep
    # their inode/size/mtime (no entry added/removed at either level).
    (
        spark.range(7)
        .withColumn("year", F.lit(2024))
        .coalesce(1)
        .write.partitionBy("year")
        .parquet(f"{src}/t2.parquet")
    )
    old_part = glob.glob(f"{src}/t.parquet/year=2024/part-*.parquet")[0]
    new_part = glob.glob(f"{src}/t2.parquet/year=2024/part-*.parquet")[0]
    _time.sleep(0.02)
    _overwrite_bytes(old_part, new_part)
    old_crc = f"{os.path.dirname(old_part)}/.{os.path.basename(old_part)}.crc"
    new_crc = f"{os.path.dirname(new_part)}/.{os.path.basename(new_part)}.crc"
    if os.path.exists(old_crc) and os.path.exists(new_crc):
        _overwrite_bytes(old_crc, new_crc)
    second = Q._t(spark, src, "t")
    assert second is not first, (
        "stale plan served after in-place nested partition child edit"
    )
    assert second.count() == 7


def test_dir_stat_key_survives_pathologically_deep_tree(tmp_path):
    """r14 self-review: the descendant walk is an explicit worklist,
    not recursion — a tree deeper than the Python recursion limit must
    yield a key, not raise RecursionError (which is not the OSError
    the _t fallback contract catches)."""
    import inspect
    import os
    import sys

    from etl_project_gcp_spark.artifacts import _dir_stat_key

    # A tree deeper than the recursion limit cannot be BUILT on Linux
    # (PATH_MAX caps ~2000 levels, below pytest's raised limit), so
    # instead lower the limit to just above the test's own stack depth:
    # a recursive walk of the 300-level tree would need ~300 more
    # frames and blow it; the worklist walk uses constant stack.
    depth = 300
    d = str(tmp_path / "deep.parquet")
    os.makedirs(d)
    cur = d
    for i in range(depth):
        cur = os.path.join(cur, "x")
        os.mkdir(cur)
    here = len(inspect.stack())
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(here + depth // 3)
    try:
        key = _dir_stat_key(d, os.stat(d))
    finally:
        sys.setrecursionlimit(old)
    assert isinstance(key, tuple) and len(key) == 4


def test_dir_stat_key_vanished_dir_returns_none(tmp_path):
    """r13 self-review: a dataset directory deleted between os.stat
    and os.scandir must yield None (the _t fresh-read fallback), not
    raise FileNotFoundError out of the key function."""
    import os
    import shutil

    from etl_project_gcp_spark.artifacts import _dir_stat_key

    d = tmp_path / "gone.parquet"
    d.mkdir()
    st = os.stat(d)
    shutil.rmtree(d)
    assert _dir_stat_key(str(d), st) is None


def test_table_read_memo_dies_with_session(spark, sf01_dir):
    """ADVICE r13 (low): the per-session plan dict lives ON the session
    object (no module-level strong map), so a dropped newSession()
    handle releases its cached plans with it. (A WeakKeyDictionary
    cannot express this: cached DataFrames reference their session, and
    WKD values that reach their key pin the entry — weakref docs.)"""
    import gc
    import weakref

    from etl_project_gcp_spark import queries as Q

    sibling = spark.newSession()
    df = Q._t(sibling, sf01_dir, "nation")
    cache = getattr(sibling, Q._TABLE_MEMO_ATTR)
    assert any(v is df for v in cache.values())
    # PySpark itself pins the LATEST-constructed session: the classic
    # SparkSession __init__ monkey-patches RDD.toDF with a closure over
    # the session (pyspark.sql.classic.session._monkey_patch_RDD), a
    # class-level strong ref only displaced by constructing another
    # session. Make a displacing sibling so what we measure is OUR
    # memo's pinning, not PySpark's.
    displacer = spark.newSession()
    # session → memo dict → DataFrame → session is a pure cycle with no
    # external strong ref once the locals go; gc must reclaim it all
    probe = weakref.ref(sibling)
    del sibling, df, cache
    gc.collect()
    assert probe() is None, "dropped session still pinned by its table memo"
    del displacer


def test_table_read_memo_concurrent_first_reads_all_kept(spark, sf01_dir):
    """More threads than cores make a fresh session's first memo reads
    at once, one table each, with a short switch interval: every table
    must end up in the session's one memo dict (a thread that installed
    its own dict would drop the others' entries)."""
    import sys
    import threading

    from etl_project_gcp_spark.sources.readers import (
        _TABLE_MEMO_ATTR,
        CORPUS_TABLES,
        read_parquet_memo,
    )

    sibling = spark.newSession()
    paths = [f"{sf01_dir}/{t}.parquet" for t in CORPUS_TABLES]
    start = threading.Barrier(len(paths))
    got = {}

    def read(path):
        start.wait(timeout=60)
        got[path] = read_parquet_memo(sibling, path)

    threads = [threading.Thread(target=read, args=(p,)) for p in paths]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    cache = getattr(sibling, _TABLE_MEMO_ATTR)
    assert len(got) == len(paths)
    for df in got.values():
        assert any(v is df for v in cache.values())


def _simple_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple")
    )


def test_t_wide_rebalances_coarse_layout_only(spark, sf01_dir, tmp_path):
    """r15 optimization: the coarse-scan rebalance must fire ONLY when
    the parquet layout cannot feed the session's cores (row groups <
    parallelism/2 — the driver corpus ships ONE row group per table,
    which serializes every scan-stage expression), and must leave any
    fine-grained layout's plan untouched (no Exchange — the 100 TB
    shape). Discriminating both ways: a blanket repartition fails the
    fine-grained half; dropping the rebalance fails the coarse half."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_project_gcp_spark import queries as Q

    width = spark.sparkContext.defaultParallelism
    assert width >= 4, "fixture session must have cores to spread"

    # coarse: the driver corpus (1 row group/table) → rebalance fires
    wide = Q._t_wide(spark, sf01_dir, "documents")
    assert "Exchange" in _simple_plan(wide)
    assert wide.rdd.getNumPartitions() == width
    # and the rebalance is row-preserving
    assert wide.count() == Q._t(spark, sf01_dir, "documents").count()

    # fine-grained: >= width/2 row groups → NO exchange enters the plan
    fine = tmp_path / "fine.parquet"
    pq.write_table(
        pa.table({"doc_id": list(range(1000))}),
        str(fine),
        row_group_size=max(1, 1000 // width),  # >= width row groups
    )
    assert Q._parquet_row_groups(str(fine)) >= max(2, width // 2)
    fine_df = Q._t_wide(spark, str(tmp_path), "fine")
    assert "Exchange" not in _simple_plan(fine_df)

    # URI-scheme paths bypass the stat/footers entirely (same contract
    # as the _t memo): plan untouched
    uri_df = Q._t_wide(spark, f"file://{tmp_path}", "fine")
    assert "Exchange" not in _simple_plan(uri_df)


def test_register_corpus_views_honors_reader(spark, sf_dir):
    """The r15 memoized-read hook: a caller-supplied reader callable
    must supply the view frames (the engine passes queries._t so the
    catalog entries stop paying per-run footer re-resolution), and the
    default path must still read plain parquet."""
    calls = []

    def reader(s, d, n):
        calls.append(n)
        return s.read.parquet(f"{d}/{n}.parquet").withColumn(
            "via_reader", __import__("pyspark.sql.functions",
                                     fromlist=["lit"]).lit(True)
        )

    C.register_corpus_views(spark, sf_dir, ("nation",), reader=reader)
    assert calls == ["nation"]
    assert "via_reader" in spark.table("nation").columns
    # default path: plain read, no marker column
    C.register_corpus_views(spark, sf_dir, ("nation",))
    assert "via_reader" not in spark.table("nation").columns


def test_t_wide_rows_per_task_caps_python_boundary_width(
    spark, tmp_path
):
    """r16 (r15 verdict ask #1): when a Python-boundary consumer passes
    ``rows_per_task``, the coarse rebalance width follows the DATA
    (ceil(rows / rows_per_task)), not the core count — each extra
    partition of a mapInPandas stage forks a Python worker, and the
    driver measured 32-worker fan-out over ~5k rows at 16.3 s vs 1.2 s
    on 8 cores. Pure-JVM callers (no rows_per_task) keep full width."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_project_gcp_spark import queries as Q

    width = spark.sparkContext.defaultParallelism
    assert width >= 4

    coarse = tmp_path / "coarse.parquet"
    pq.write_table(
        pa.table({"doc_id": list(range(5000))}), str(coarse),
        row_group_size=5000,  # ONE row group: the rebalance fires
    )

    # capped: 5000 rows / 2500 per task = 2 partitions, not `width`
    capped = Q._t_wide(spark, str(tmp_path), "coarse", rows_per_task=2500)
    assert capped.rdd.getNumPartitions() == 2
    # uncapped default: full session width (the r15 contract)
    full = Q._t_wide(spark, str(tmp_path), "coarse")
    assert full.rdd.getNumPartitions() == width
    # a cap that computes to < 2 partitions skips the exchange entirely
    skip = Q._t_wide(spark, str(tmp_path), "coarse", rows_per_task=10_000)
    assert "Exchange" not in _simple_plan(skip)
    # row-preserving either way
    assert capped.count() == 5000


def test_parquet_layout_census_early_exits_at_threshold(tmp_path):
    """r16 (r15 verdict ask #4): the footer census stops as soon as the
    running row-group total reaches ``rg_stop`` — a many-file
    production layout must not pay an O(n_files) metadata walk when its
    first few footers already clear the rebalance threshold. Proven by
    counting actual footer opens via a ParquetFile seam."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_project_gcp_spark import queries as Q

    d = tmp_path / "many.parquet"
    d.mkdir()
    for i in range(40):
        pq.write_table(
            pa.table({"x": list(range(10))}),
            str(d / f"part-{i:03d}.parquet"),
            row_group_size=10,
        )

    opened = []
    real = pq.ParquetFile

    class CountingPF(real):
        def __init__(self, f, *a, **kw):
            opened.append(f)
            super().__init__(f, *a, **kw)

    pq_mod = __import__("pyarrow.parquet", fromlist=["ParquetFile"])
    pq_mod.ParquetFile = CountingPF
    try:
        rgs, rows = Q._parquet_layout(str(d), rg_stop=4)
    finally:
        pq_mod.ParquetFile = real
    assert rgs == 4 and rows is None  # stopped at the threshold
    assert len(opened) == 4, "census must stop at rg_stop footers"

    # and the unbounded census still returns exact totals
    rgs_full, rows_full = Q._parquet_layout(str(d))
    assert rgs_full == 40 and rows_full == 400
