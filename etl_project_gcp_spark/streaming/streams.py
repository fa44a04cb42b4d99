"""Structured Streaming variants of the event operators (ST3 [EXT]).

The reference is batch-only (SURVEY §2.10); these wrappers re-express
the batch event vocabulary (operators/events.py) as streaming plans:
same column expressions, plus watermarks for bounded state and late-data
handling. ``trigger(availableNow=True)`` turns any of them into an
incremental batch job — the 100 TB-native way to run the pipeline
continuously without reprocessing.

State-size notes: watermark delay bounds the window state; session
windows use Spark's native session_window state store (merging windows
per key); all aggregations remain partial-agg'd before the stateful
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

_STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def apply_state_store_conf(spark: SparkSession) -> None:
    """Select the state store provider from ``$SPARK_GRAFT_STATE_STORE``
    (``rocksdb`` | ``hdfs`` | a fully-qualified provider class) before a
    stateful stream starts — the conf binds into the query's checkpoint
    at start, so it must be on the session first.

    The cluster answer for state-per-key operators whose state outgrows
    the executor heap (the 100x ladder put the two state-per-key drains
    at 23-29x of sf0.1): RocksDB spills state to local disk with an
    in-heap cache, trading per-batch latency for unbounded key
    cardinality. Default (unset) keeps Spark's HDFS-backed in-memory
    provider — right for the driver-gate scale. Probe numbers
    (default vs RocksDB at 10x) live in NOTES.md."""
    import os

    sel = os.environ.get("SPARK_GRAFT_STATE_STORE")
    if not sel:
        return
    cls = _STATE_STORE_PROVIDERS.get(sel.lower(), sel)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)


def _ts_to_us(series):
    """Timestamp Series → numpy int64 microseconds, serializer-agnostic.

    The vectorized fast path (r11's de-boxing fix) assumes the
    ``applyInPandasWithState`` Arrow serializer hands a tz-naive
    ``datetime64`` column — true under the current serializer, but a
    tz-aware or object-dtype column would make the ``datetime64[us]``
    cast raise mid-stream (ADVICE r11). Guard on the dtype and fall
    back to the per-row ``.value`` path (handles pd.Timestamp objects
    and tz-aware dtypes, ns → us), so a future serializer change
    degrades to the slow path instead of failing inside a micro-batch.
    """
    import numpy as np

    arr = series.to_numpy()
    if arr.dtype.kind == "M":  # tz-naive datetime64: vectorized
        return arr.astype("datetime64[us]").astype("int64")
    # object / tz-aware extension dtype: .value is ns since epoch (UTC)
    return np.fromiter(
        (t.value // 1000 for t in series), dtype="int64", count=len(series)
    )


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: str = EVENT_SCHEMA,
    fmt: str = "parquet",
) -> DataFrame:
    """File-based event stream (new files under ``path`` become
    micro-batches). Schema must be pinned for streaming sources."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def streaming_tumbling_agg(
    stream: DataFrame,
    width: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window count/sum — the streaming twin of
    events.tumbling_window_agg (same semantics once windows close).
    Pass ``slide`` for overlapping sliding windows (each event lands in
    width/slide windows; state grows by the same ratio, still bounded by
    the watermark)."""
    win = F.window(ts_col, width, slide) if slide else F.window(ts_col, width)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def streaming_session_agg(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Native session windows (F.session_window) — the streaming twin of
    events.session_summary's lag+cumsum batch formulation."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_sessionize(
    stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    The operator the native ``session_window`` can't express: a per-user
    session tracker with arbitrary Python close-out logic (here: emit
    start/end/count/value-total per session; an open session survives in
    the state store across micro-batches and closes either when a later
    event exceeds the gap or when the event-time watermark passes its
    timeout).

    Scale notes: state is one fixed-width tuple per live user (bounded
    by the watermark, not by history); data reaches Python in Arrow
    batches grouped by user; the shuffle is the same single exchange a
    groupBy would do. This is the template for any custom stateful
    operator the engine needs beyond Spark's built-ins.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    # applyInPandasWithState hands the Python fn EVERY input column by
    # contract, so Catalyst cannot prune below it — project to the
    # three columns the fold reads before the stateful exchange, or
    # dead columns (`props`, ...) ride the shuffle AND the Arrow
    # round trip in proportion to their width. Marginal at sf0.1
    # (~4%, tools probe r12 — testdata props are tiny) but structural
    # at 100 TB, where a JSON props column is KB-scale per row.
    stream = stream.select(user_col, ts_col, "value")

    out_schema = (
        f"{user_col} bigint, session_start timestamp, session_end timestamp, "
        "n_events int, total_value double"
    )
    state_schema = "start long, last long, n int, total double"

    def close_out(uid: int, sessions):
        # ONE frame for ALL of a group's closed sessions: building a
        # 1-row DataFrame per session and pd.concat-ing them cost ~2.1 s
        # of the 5.4 s sf0.1 drain (NOTES.md round 11) —
        # frame construction is pandas' per-call overhead, not data.
        import pandas as pd

        return pd.DataFrame(
            {
                user_col: [uid] * len(sessions),
                "session_start": pd.to_datetime(
                    [int(c[0]) for c in sessions], unit="us"
                ),
                "session_end": pd.to_datetime(
                    [int(c[1]) for c in sessions], unit="us"
                ),
                "n_events": pd.array(
                    [int(c[2]) for c in sessions], dtype="int32"
                ),
                "total_value": [float(c[3]) for c in sessions],
            }
        )

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (uid,) = key
        if state.hasTimedOut:
            s, last, n, total = state.get
            state.remove()
            yield close_out(uid, [(s, last, n, total)])
            return

        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            s, last, n, total = state.get
        else:
            s = last = None
            n, total = 0, 0.0

        closed = []
        # Running late-session accumulator: admitted late events (older
        # than the open session by more than the gap) can never merge
        # with the open session, but consecutive late events within gap
        # of EACH OTHER must still merge — emitting each as its own
        # singleton would turn one late session into N (ADVICE r6).
        # Rows are sorted, so the late events form a prefix and one
        # running (start, last, n, total) group suffices; late events in
        # DIFFERENT micro-batches still close separately (their session
        # may already be emitted — unrecoverable under append mode).
        late = None

        def fold_late_if_bridged(s, n, total):
            # A non-late event may have backward-extended the session
            # (s = min(s, t)) to within gap of the pending late group —
            # batch semantics (the lag+cumsum oracle) then make them ONE
            # session (ADVICE r7). This fold must run BOTH at end of
            # batch AND whenever the open session closes mid-batch: a
            # much later event in the same batch closes the bridged
            # session before the end-of-loop check, and testing the late
            # group against the NEW session would emit a spurious
            # singleton. The late prefix precedes s, so on a fold it
            # becomes the session start; last is unchanged.
            nonlocal late
            if late is not None and s is not None and s - late[1] <= gap_us:
                s, n, total = late[0], n + late[2], total + late[3]
                late = None
            return s, n, total

        # numpy int64 microseconds instead of per-row pd.Timestamp
        # wrappers: Series iteration boxes every element, and .value
        # per event was a measurable share of the fold (r11 probe);
        # dtype-guarded so a tz-aware serializer falls back per-row
        # instead of raising (ADVICE r11)
        ts_us = _ts_to_us(rows[ts_col])
        for t, val in zip(ts_us, rows["value"].to_numpy()):
            if s is None:
                s = last = t
                n, total = 1, float(val)
            elif t - last > gap_us:
                s, n, total = fold_late_if_bridged(s, n, total)
                closed.append((s, last, n, total))
                s = last = t
                n, total = 1, float(val)
            elif t < s - gap_us:
                if late is None:
                    late = [t, t, 1, float(val)]
                elif t - late[1] > gap_us:
                    closed.append(tuple(late))
                    late = [t, t, 1, float(val)]
                else:
                    late[1] = t
                    late[2] += 1
                    late[3] += float(val)
            else:
                # joins the open session — possibly extending it
                # BACKWARD (a late cross-batch event must not rewind
                # session_end/timeout: take max, not assignment)
                s = min(s, t)
                last = max(last, t)
                n += 1
                total += float(val)

        s, n, total = fold_late_if_bridged(s, n, total)
        if late is not None:
            # still pending after the fold check: genuinely > gap from
            # every session it could have joined — its own session
            closed.append(tuple(late))
        # int()-coerce: s/last flow from numpy int64 now, and the state
        # serializer wants plain Python longs
        state.update((int(s), int(last), int(n), float(total)))
        state.setTimeoutTimestamp((int(last) + gap_us) // 1000)  # us → ms
        if closed:
            yield close_out(uid, closed)

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lookback_seconds: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: for each left event, right events by
    the same key within the preceding ``lookback_seconds`` (inclusive
    end, exclusive start — the semantics of operators/events.range_join,
    whose bucketed batch formulation this twins).

    Both watermarks + the time-range condition bound the join state:
    Spark retains right rows only ``lookback + watermark`` past the
    watermark front, left rows only ``watermark`` — without the range
    condition a stream-stream join would buffer forever.

    Inputs are projected to the three columns the join reads/emits
    BEFORE the watermark: Catalyst's column pruning does not fully
    reach below the streaming symmetric-hash join, so un-projected
    inputs buffer their dead columns (``value``, ``props``, ...) in
    BOTH sides' state stores — measured 2.54 -> 2.16 s (~15%) on the
    sf0.1 drain (NOTES.md round 12). The output
    contract is a fixed column set, so the projection is always safe.
    """
    cols = [key_col, ts_col, "event_id"]
    l = left_stream.select(*cols).withWatermark(ts_col, watermark).alias("l")
    r = right_stream.select(*cols).withWatermark(ts_col, watermark).alias("r")
    cond = F.expr(
        f"l.{key_col} = r.{key_col} "
        f"AND r.{ts_col} <= l.{ts_col} "
        f"AND r.{ts_col} > l.{ts_col} - interval {lookback_seconds} seconds"
    )
    return l.join(r, cond).select(
        F.col(f"l.{key_col}").alias(key_col),
        F.col("l.event_id").alias("left_id"),
        F.col(f"l.{ts_col}").alias("left_ts"),
        F.col("r.event_id").alias("right_id"),
        F.col(f"r.{ts_col}").alias("right_ts"),
    )


def incremental_rollup(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_path: str,
    width: str = "1 hour",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = ("event_type",),
) -> StreamingQuery:
    """Continuous aggregate (hypertable-rollup pattern): maintain a
    time-bucketed rollup table incrementally.

    Each invocation (trigger availableNow) processes ONLY files that
    arrived since the last run — the checkpoint tracks source progress —
    and appends ONLY newly-finalized windows (append mode + watermark:
    a window emits once its end passes the watermark, exactly once).
    Re-running never reprocesses history, which is the difference
    between this and the batch rollup at 100 TB: cost per refresh is
    proportional to new data, not table size.
    """
    stream = read_event_stream(spark, events_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            *keys,
            "n_events",
            "total_value",
        )
    )
    apply_state_store_conf(agg.sparkSession)
    return (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each seen key only until the
    watermark passes it, so state size tracks the watermark horizon ×
    arrival rate — not the full stream history (plain streaming
    ``dropDuplicates`` grows without bound; at 100 TB/day that is the
    difference between a working job and an OOM). Duplicates arriving
    within the watermark window are suppressed; a duplicate arriving
    later than the watermark delay is by contract no longer
    distinguishable — the at-most-once-per-horizon semantics every
    at-scale event pipeline settles on."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_forward_fill(
    stream: DataFrame,
    observe_type: str = "purchase",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming twin of ``operators/events.forward_fill`` (LOCF): every
    event emitted with the latest ``observe_type`` value at or before it
    for its user, carried across micro-batches in the state store.

    State is ONE fixed-width tuple per user (last observed value +
    event-time micros) — bounded by live-user cardinality, independent
    of stream length. Within a micro-batch rows are ordered by
    (event-time, event_id) before the fold, so intra-batch order is
    exact. Late-data contract (one-tuple state cannot replay history):
    a late EVENT older than the carried observation fills from the
    latest late OBSERVATION in the SAME batch at or before it (both
    are in hand — sorted rows make this a second running carry), and
    emits NULL only when no admitted observation at-or-before exists
    anywhere; it never takes a value from its future (each carry's
    observation time gates every fill). A late observation older than
    the carried one never regresses the state (newer-or-equal event
    time wins), and rows already emitted are not retracted — the same
    no-retraction contract every append-mode streaming operator
    carries (the batch formulation is the replayable truth).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # same pre-projection rationale as stateful_sessionize: the fn sees
    # every input column by contract, so prune the dead ones (props)
    # before the stateful exchange/Arrow boundary
    stream = stream.select(
        "event_id", user_col, ts_col, "event_type", "value"
    )

    out_schema = (
        f"event_id bigint, {user_col} bigint, {ts_col} timestamp, "
        "event_type string, last_obs_value double"
    )
    state_schema = "v double, t long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (uid,) = key
        if state.hasTimedOut:  # NoTimeout: never fires; keeps shape uniform
            return
        rows = pd.concat(list(pdfs)).sort_values([ts_col, "event_id"])
        v = state.get[0] if state.exists else None
        t = state.get[1] if state.exists else None
        # second carry for LATE observations (older than the state
        # carry): they must not regress the state, but a late EVENT in
        # the same sorted batch sitting between a late observation and
        # the state carry legitimately fills from it — batch semantics
        # (the last_value oracle) would, and both rows are in hand.
        # Never persisted: lt < t always, so the state tuple stays the
        # single latest observation.
        lv = lt = None
        filled = []
        # numpy int64 microseconds — same de-boxing as the sessionize
        # fold (r11), same tz-aware fallback guard (ADVICE r11)
        ts_us = _ts_to_us(rows[ts_col])
        for rt, et, val in zip(
            ts_us, rows["event_type"].to_numpy(), rows["value"].to_numpy()
        ):
            if et == observe_type:
                if t is None or rt >= t:
                    # newer-or-equal observation advances the carry; a
                    # LATE one must not regress it for subsequent rows
                    v, t = float(val), rt
                elif lt is None or rt >= lt:
                    lv, lt = float(val), rt
            # fill from the LATEST observation at or before this row —
            # the main carry when admitted (t <= rt), else the late
            # carry (lt < t always, so main wins when both qualify);
            # NULL when neither precedes the row: never a value from
            # the row's future
            if t is not None and t <= rt:
                filled.append(v)
            elif lt is not None and lt <= rt:
                filled.append(lv)
            else:
                filled.append(None)
        if v is not None:
            # int()-coerce: t flows from numpy int64 now, and the state
            # serializer wants plain Python longs
            state.update((float(v), int(t)))
        out = pd.DataFrame(
            {
                "event_id": rows["event_id"].to_numpy(),
                user_col: uid,
                ts_col: rows[ts_col].to_numpy(),
                "event_type": rows["event_type"].to_numpy(),
                "last_obs_value": pd.array(filled, dtype="Float64"),
            }
        )
        yield out

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_merge_upsert(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    key_cols: list[str],
    partition_cols: list[str],
    checkpoint_path: str,
    schema: str,
    fmt: str = "parquet",
    order_col: str | None = None,
    allow_schema_evolution: bool = False,
) -> StreamingQuery:
    """Continuous MERGE ingestion: every micro-batch of arriving files
    upserts into the partitioned target table via ``foreachBatch`` +
    ``plans.incremental.merge_into_partitioned``.

    This is the production CDC-landing pattern the batch MERGE enables:
    the checkpoint tracks which source files are processed (re-running
    never reprocesses them), and each trigger's cost is proportional to
    the batch's touched partitions — not the target table. With
    ``trigger(availableNow=True)`` it runs as an incremental batch job.

    Per-batch the merge is atomic at partition granularity (dynamic
    partition overwrite); if keys repeat across micro-batches the later
    batch wins, which is the upsert contract. WITHIN one micro-batch a
    repeated key raises (SQL MERGE contract) unless ``order_col`` names
    a version/sequence column — then the batch first collapses to the
    max-``order_col`` row per key (one window over the BATCH, not the
    target), the standard CDC compaction. Updates must not move a row
    across partitions (see merge_into_partitioned).
    """
    from pyspark.sql import Window

    from etl_project_gcp_spark.plans.incremental import (
        merge_into_partitioned,
    )

    stream = spark.readStream.format(fmt).schema(schema).load(source_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if order_col is not None:
            # All-column tiebreak keeps the winner deterministic when
            # two rows share key AND sequence value.
            rest = [c for c in batch_df.columns
                    if c not in key_cols and c != order_col]
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc(), *[F.col(c) for c in rest]
            )
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn")
            )
        merge_into_partitioned(
            batch_df.sparkSession, target_path, batch_df,
            key_cols, partition_cols,
            allow_schema_evolution=allow_schema_evolution,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory_sink(
    plan: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> StreamingQuery:
    """Drain all currently-available input into an in-memory table
    (trigger availableNow) — used by tests and smoke checks. Applies
    the env-selected state store provider (``$SPARK_GRAFT_STATE_STORE``)
    before start."""
    apply_state_store_conf(plan.sparkSession)
    return (
        plan.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
