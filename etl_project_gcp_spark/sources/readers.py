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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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
