"""Source readers (SURVEY §2.1, S1/S2/S6).

The bronze CSV ingest mirrors the strictness flags of the reference's
``LOAD DATA OVERWRITE … FROM FILES`` (etl_medallion.py:90-99):
header skipped, jagged rows rejected, no quoted newlines, schema
autodetected. Parquet is the canonical lakehouse format for every layer
after bronze (the reference notebook also lands on Parquet,
etl_spark.ipynb cell-23).

Scale notes: readers are plain ``DataFrameReader`` plans, so Catalyst
pushes filters/column pruning down to the scan; for Parquet this means
row-group skipping and per-column IO — at 100 TB the scan reads only the
projected columns of the row-groups that can match.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_project_gcp_spark.artifacts import _dir_stat_key

# Driver-corpus tables (TESTDATA.md): name -> parquet file stem.
CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_bronze(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sampling_ratio: float | None = None,
) -> DataFrame:
    """Bronze CSV load with the reference's strictness semantics.

    Parity with etl_medallion.py:90-99: ``skip_leading_rows=1`` → header,
    ``allow_jagged_rows=false`` → FAILFAST, ``allow_quoted_newlines=false``
    → multiLine=False, autodetect → inferSchema (unless an explicit schema
    is pinned, which silver-layer casts make equivalent — SURVEY §4.3.1).

    ``sampling_ratio`` is the ingest-layer scale knob: Spark's default
    inference PARSES every row a full extra time before the real read,
    and the r13 medallion scale probe measured that pass at 1.12 s on a
    15M-row corpus vs 0.25 s at ratio 0.001 (~31% off the whole bronze
    layer, schema-identical on uniform data). BigQuery's own autodetect
    — the semantics this loader mirrors — samples up to 500 rows, so a
    sampled inference is arguably MORE parity-faithful; the default
    stays full-scan because a sampled schema on adversarial data (a
    column whose late rows widen the type) turns into a FAILFAST parse
    error at read time, and the safe default belongs on the gate.
    Callers at scale pass a ratio (or better, a pinned ``schema`` —
    silver casts make it equivalent and it skips the pass entirely:
    the r14 probe (NOTES.md round 14) on the same 15M-row
    corpus, measured the pinned-schema bronze at ~2.5 s vs 2.9-3.3 s
    sampled vs 3.7-4.6 s full-inference, i.e. ~32-44% off the layer
    and the only mode whose wall was stable across both probe
    sittings — the inference pass is the layer's CPU-sensitive term)."""
    reader = spark.read.options(header=True, mode="FAILFAST", multiLine=False)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
        if sampling_ratio is not None:
            reader = reader.option("samplingRatio", sampling_ratio)
    return reader.csv(path)


def read_csv_delimited(
    spark: SparkSession, path: str, sep: str = ";", header: bool = True
) -> DataFrame:
    """Custom-delimiter CSV read (S2 — etl_spark.ipynb cell-7)."""
    return spark.read.csv(path, header=header, sep=sep, inferSchema=True)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet table scan (S6)."""
    return spark.read.parquet(path)


# Attribute under which each session carries its own path-keyed plan
# dict. Stored ON the SparkSession instance, not in a module-level map
# (ADVICE r12: a flat dict held strong session refs until the >256
# wholesale clear — and a WeakKeyDictionary cannot fix that here,
# because the cached DataFrames reference their session, and WKD
# values that reach their key keep the entry alive per the weakref
# docs). Instance storage makes the cache's lifetime exactly the
# session's: drop/stop the session, its plans go with it.
_TABLE_MEMO_ATTR = "_spark_graft_table_memo"


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, memoized per (session, path,
    stat-key).

    ``spark.read.parquet`` resolves the footer schema eagerly, in a
    Spark job — measured ~100 ms per table per call — so every plan
    rebuilt over an unchanged table would pay that again (r12
    construction sweep: plain 3-join TPC-H entries paid 0.3-0.6 s per
    build before any execution; NOTES.md "Medallion service path"
    counted 21 such jobs in one medallion service call).

    Contract edges (each pinned by tests/test_catalog_sources.py and
    tests/test_medallion_service.py):
    - URI-scheme paths (gs://, s3a://, hdfs://, file:) BYPASS the memo
      untouched — os.path.abspath would mangle the scheme, and a local
      stat cannot key remote state anyway; Spark handles them as
      before.
    - The key carries inode+size+mtime_ns of the dataset path AND, for
      directory datasets, every descendant's (relpath, size, mtime_ns)
      via a recursive scandir walk (_dir_stat_key; ADVICE r12/r13 — a
      part-file content edit, also inside a nested partition
      directory, changes no directory's mtime). An overwrite re-keys:
      it writes part files under new names, and recreates the
      directory (new inode) even on a filesystem whose mtime
      granularity is coarser than the rewrite gap; the one remaining
      undetectable window is an in-place same-inode edit inside a
      single filesystem mtime tick (nanosecond resolution here).
    - A missing path falls through to a fresh read of ``path`` exactly
      as given, so Spark raises its normal PATH_NOT_FOUND with the
      same text as an un-memoized read.
    - The cache dict lives ON the session OBJECT (not in a module map,
      and not keyed by applicationId): sibling spark.newSession()
      handles share an application but not conf state, a cached plan
      executes under the session that read it, and a dropped/stopped
      session releases all its cached plans with itself.
    DataFrames are immutable logical plans, so sharing one instance
    across callers/threads is safe; the race of two threads reading
    one uncached table is benign (last writer wins, both values
    equivalent)."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path):
        return spark.read.parquet(path)
    abspath = os.path.abspath(path)
    try:
        st = os.stat(abspath)
    except OSError:
        return spark.read.parquet(path)
    stat_key = _dir_stat_key(abspath, st)
    if stat_key is None:  # vanished mid-scan: let Spark raise normally
        return spark.read.parquet(path)
    key = (abspath, stat_key)
    # one atomic setdefault: concurrent first reads on a session (a
    # layer's writer threads) cannot each install a dict and so drop
    # each other's entries
    cache = vars(spark).setdefault(_TABLE_MEMO_ATTR, {})
    df = cache.get(key)
    if df is None:
        if len(cache) > 256:  # rewritten-table keys accrue
            cache.clear()
        df = spark.read.parquet(abspath)
        cache[key] = df
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC table scan — the other columnar lakehouse format Spark ships
    a native vectorized reader for. Same pushdown story as Parquet:
    column pruning, predicate pushdown to stripe/row-group indexes, and
    splittable stripes; interchange with Hive-era warehouses that
    standardized on ORC."""
    return spark.read.orc(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSON-Lines reader — the interchange format LLM text corpora ship
    in (one document object per line; e.g. Dolma/C4-style dumps).

    Pin ``schema`` in production: schema inference costs a full extra
    pass over 100 TB and silently widens types on dirty lines. Without a
    pinned schema the reader infers (the bronze-parity behavior);
    malformed lines land in ``_corrupt_record`` (PERMISSIVE) instead of
    failing the whole ingest — curation pipelines filter them, they
    don't abort on them. ``multiLine`` stays False: one line = one row
    is what makes JSONL splittable — a 100 TB dump splits at line
    boundaries into parallel tasks with no coordination.
    """
    reader = spark.read.option("multiLine", False)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = CORPUS_TABLES
) -> dict[str, DataFrame]:
    """Load the driver corpus tables from ``sf_dir`` as DataFrames."""
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Ingest a directory of REAL media/blob files via Spark's
    ``binaryFile`` source → (path, modificationTime, length, content).
    This is the scale-native way to land existing image/audio/document
    files into the multimodal pipeline (synthesize_media covers
    fixtures; this covers a bucket of actual .png/.wav/.pdf objects).

    Scale shape: one row per FILE, read in parallel across executors —
    no driver-side listing loop; works against any supported scheme
    (``gs://`` etc.). ``glob`` maps to ``pathGlobFilter`` (server-side
    name filtering — non-matching files are never opened), and filters
    on ``length`` push down to the source (skip oversized blobs
    without reading a byte; plan-tested). Directory layout is the
    partition strategy: shard files into subdirs and pass
    ``recursive=True``; a path-prefix filter then prunes directories.

    Caveat: each file's content becomes ONE row in executor memory —
    cap blob size upstream (the pushed ``length`` filter is the guard)
    and keep multi-GB objects on a streaming byte-range path instead.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
