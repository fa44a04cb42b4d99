"""Incremental table maintenance: MERGE upsert (SCD1) and SCD2 history.

The reference refreshes every table with full overwrites (CREATE OR
REPLACE TABLE / LOAD DATA OVERWRITE — etl_medallion.py:73-218). That is
fine at its data scale; at 100 TB a daily 0.1% update batch must NOT
rewrite the world. This module adds the incremental counterpart an ETL
engine needs:

- ``merge_upsert``          — MERGE semantics as a pure DataFrame
  transform (updates win on key collision, new keys insert, untouched
  rows pass through). One anti-join shuffle; no window functions.
- ``merge_into_partitioned`` — the storage-level MERGE: only partitions
  that contain updated keys are read (partition-pruned scan) and
  rewritten (dynamic partition overwrite). Cost is proportional to the
  touched-partition volume, not the table — the 100 TB disposition.
- ``scd2_apply``            — slowly-changing-dimension type 2: rows
  whose tracked attributes changed are version-closed and a new current
  version appended; new keys start at version 1. Pure DataFrame
  transform over (history, updates) so it is oracle-checkable.

Scale notes: ``merge_upsert`` is a single shuffled LEFT ANTI join on
the merge key plus a union — both sides stream; nothing is collected.
``merge_into_partitioned`` collects only the DISTINCT partition tuples
of the updates batch (bounded by partition count, never row count) to
build the pruning predicate, and writes under
``partitionOverwriteMode=dynamic`` so Spark replaces exactly the
partitions present in the merged output. ``scd2_apply`` is one shuffled
equi-join (history×updates on the key) plus unions; version numbers
come from the existing history, not a global window.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, updates: DataFrame, key_cols: list[str],
    validate_unique: bool = True,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """MERGE (SCD1) semantics: WHEN MATCHED THEN UPDATE (the whole row —
    updates carry full rows, not deltas), WHEN NOT MATCHED THEN INSERT.

    Equivalent SQL::

        SELECT * FROM target
        WHERE (keys) NOT IN (SELECT keys FROM updates)
        UNION ALL SELECT * FROM updates

    One anti-join shuffle on the key; updates must share the target's
    schema (unionByName enforces it). Like SQL MERGE, the source must
    be unique per key — duplicates would both survive into the target
    silently, so ``validate_unique`` (default on) raises instead; the
    check is one aggregation over the BATCH, negligible next to the
    merge. Callers with CDC streams carrying multiple versions per key
    must collapse to the latest version first (a per-key max over the
    ordering column), then merge. NULL merge keys never match an
    anti-join probe, so a null-keyed update always appends — keep keys
    non-null (the SQL MERGE contract).

    ``allow_schema_evolution``: with it, a column present on only one
    side is added to the other as NULLs (Delta's autoMerge semantics —
    new attributes arrive with the batch, historical rows read NULL);
    without it (default) a schema drift fails the union loudly.
    """
    if validate_unique:
        dup = (updates.groupBy(*key_cols).count()
                      .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"updates batch has multiple rows for merge key "
                f"{ {c: dup[0][c] for c in key_cols} }; collapse to one "
                f"row per key before merge_upsert (SQL MERGE contract)"
            )
    kept = target.join(updates.select(*key_cols), on=key_cols, how="left_anti")
    return kept.unionByName(
        updates, allowMissingColumns=allow_schema_evolution
    )


def _partition_predicate(parts: list[dict], partition_cols: list[str]):
    """OR-of-conjunctions partition predicate from collected distinct
    partition tuples — literal comparisons on partition columns, so the
    scan prunes directories instead of reading them. Null-safe (``<=>``)
    so a batch carrying a NULL partition value still selects the
    target's default-partition rows instead of silently matching
    nothing (and thereby duplicating keys on write)."""
    clauses = [
        reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_cols],
        )
        for row in parts
    ]
    return reduce(lambda a, b: a | b, clauses)


def _target_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists AND holds actual table data (any
    scheme the Hadoop FS supports — not just local files). Marker-only
    residue from a crashed first write (``_SUCCESS`` / ``_temporary``
    with no data files or partition dirs) counts as NOT existing, so a
    failed bootstrap retries the create instead of wedging every
    subsequent batch on UNABLE_TO_INFER_SCHEMA."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return False
    return any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(p)
    )


def merge_into_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    allow_schema_evolution: bool = False,
) -> list[dict]:
    """Partition-pruned MERGE into a partitioned Parquet table.

    1. Distinct partition tuples of the updates batch (collect bounded
       by the number of TOUCHED partitions — at 100 TB a daily batch
       touches days, not history).
    2. Read ONLY those partitions from the target (literal partition
       predicate → directory pruning, no data read elsewhere).
    3. ``merge_upsert`` the slice with the updates
       (``allow_schema_evolution`` plumbed through — a new column in
       the batch lands as NULLs on historical rows).
    4. Write back with the writer option
       ``partitionOverwriteMode=dynamic`` (this write only; the session
       conf is never touched): Spark replaces exactly the partitions
       present in the merged slice; every other partition's files are
       untouched on disk (asserted byte-for-byte in
       tests/test_incremental.py).

    Bootstrap: a missing/empty ``target_path`` (first batch — e.g. the
    opening micro-batch of ``streaming_merge_upsert``) CREATES the
    table from the updates batch instead of throwing PATH_NOT_FOUND;
    the batch is still uniqueness-validated first.

    Updates must not move a row across partitions (the old partition
    would keep the stale copy); callers changing partition keys must
    include the source partition in the batch as a delete+insert.
    Returns the touched partition tuples for logging/audit.
    """
    parts = [r.asDict() for r in
             updates.select(*partition_cols).distinct().collect()]
    if not parts:
        return []
    pred = _partition_predicate(parts, partition_cols)
    if _target_exists(spark, target_path):
        # mergeSchema ALWAYS: once any batch evolved the table, its
        # files disagree on schema and a plain read resolves from ONE
        # arbitrary footer — a later merge could then silently drop the
        # evolved column from every partition it rewrites, regardless
        # of what flag the later CALLER passes (evolution is a table
        # property, not a batch property). The price is a parallel
        # footer-listing pass; a production deployment graduates to a
        # table format (Delta/Iceberg) that tracks one schema instead.
        target_slice = (
            spark.read.option("mergeSchema", "true")
            .parquet(target_path).filter(pred)
        )
        missing_in_updates = [
            c for c in target_slice.columns if c not in updates.columns
        ]
        if missing_in_updates and not allow_schema_evolution:
            raise ValueError(
                f"updates batch lacks target columns "
                f"{missing_in_updates}; rewriting touched partitions "
                f"would null them out — pass allow_schema_evolution="
                f"True to accept that, or align the batch schema"
            )
    else:
        # Bootstrap: first batch creates the table. An empty, correctly
        # typed slice keeps the merge path identical (the anti-join
        # keeps nothing; the union emits the batch).
        target_slice = spark.createDataFrame([], updates.schema)
    merged = merge_upsert(
        target_slice, updates, key_cols,
        allow_schema_evolution=allow_schema_evolution,
    )
    (merged.write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(*partition_cols).parquet(target_path))
    return parts


def scd2_init(dim: DataFrame, key_col: str) -> DataFrame:
    """Seed an SCD2 history from a snapshot: every row version 1,
    current."""
    return dim.withColumn("version", F.lit(1).cast("int")).withColumn(
        "is_current", F.lit(True)
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key_col: str,
    tracked_cols: list[str],
    validate_unique: bool = True,
) -> DataFrame:
    """Apply an update batch to an SCD2 history.

    History schema = dim columns + (version int, is_current boolean).
    Updates carry the dim columns only (full rows). Semantics:

    - tracked attributes unchanged vs the CURRENT version → no-op;
    - changed → the current version flips ``is_current=false`` and a
      new current version (version = old + 1) is appended;
    - key absent from history → inserted as version 1, current;
    - keys absent from the batch are untouched (closed history rows
      always pass through unchanged).

    Version numbers derive from the matched current row (old+1), not a
    global window — no full-history shuffle beyond the one equi-join.

    Physical shape: ONE full-outer join, evaluated ONCE. A naive
    union-of-filtered-branches formulation re-evaluates the join per
    branch (Catalyst does not share subplans across union arms — six
    joins and ~5 scans of each side in the executed plan); instead each
    joined row emits an ARRAY of output rows (2 for a changed key: the
    closed old version + the new current one; 1 otherwise) which one
    ``explode`` flattens. Plan-pinned single-join in
    tests/test_physical_plans.py. Already-closed history rows bypass
    the join entirely (they can never match a current update).
    """
    if validate_unique:
        dup = (updates.groupBy(key_col).count()
                      .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"updates batch has multiple rows for SCD2 key "
                f"{key_col}={dup[0][key_col]!r}; one batch = one version "
                f"per key — split multi-version feeds into ordered "
                f"batches or collapse to the latest"
            )
    dim_cols = [c for c in history.columns
                if c not in ("version", "is_current")]
    changed_pred = reduce(
        lambda a, b: a | b,
        [~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
         for c in tracked_cols],
    )

    closed = history.filter(~F.col("is_current"))
    current = history.filter(F.col("is_current")).alias("cur")
    upd = updates.alias("upd")

    joined = current.join(upd, on=F.col(f"cur.{key_col}") ==
                          F.col(f"upd.{key_col}"), how="full_outer")

    def _row(side: str, version, is_current):
        return F.struct(
            *[F.col(f"{side}.{c}").alias(c) for c in dim_cols],
            version.cast("int").alias("version"),
            is_current.alias("is_current"),
        )

    carry_cur = _row("cur", F.col("cur.version"), F.col("cur.is_current"))
    out_rows = (
        F.when(F.col(f"cur.{key_col}").isNull(),          # brand-new key
               F.array(_row("upd", F.lit(1), F.lit(True))))
        .when(F.col(f"upd.{key_col}").isNull(),           # untouched
              F.array(carry_cur))
        .when(changed_pred,                               # close + append
              F.array(
                  _row("cur", F.col("cur.version"), F.lit(False)),
                  _row("upd", F.col("cur.version") + F.lit(1), F.lit(True)),
              ))
        .otherwise(F.array(carry_cur))                    # unchanged update
    )
    flattened = joined.select(F.explode(out_rows).alias("r")).select("r.*")
    return closed.unionByName(flattened)
