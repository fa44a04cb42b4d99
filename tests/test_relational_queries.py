"""Oracle-checked tests for the relational query registry (SURVEY §2.2-2.8).

Each test mirrors the driver's t2 gate: Spark result vs DuckDB oracle on
sf0.01, order-insensitive, exact values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_project_gcp_spark import queries as Q
from etl_project_gcp_spark._ann_pins import PINNED
from tests.oracle import compare

ORACLE_CHECKED = sorted(Q.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, sf01_dir, name):
    fn = Q.queries()[name]
    sql = Q.oracle_sql()[name]
    compare(fn(spark, sf01_dir), sql, sf01_dir)


@pytest.mark.parametrize("name", sorted(PINNED))
def test_pinned_entry_matches_own_sf_pin(spark, sf_dir, name):
    """The pinned oracles render sf0.01 only; at the smoke SF each
    pinned entry's live rows must equal that SF's own pin."""
    rows = sorted(map(tuple, Q.queries()[name](spark, sf_dir).collect()))
    assert rows == PINNED[name]["pins"][sf_dir.rstrip("/").rsplit("/", 1)[-1]]


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "total_sales" in df.columns


def test_registry_names_consistent():
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_salted_skew_join_matches_plain_join(spark, sf01_dir):
    from etl_project_gcp_spark.operators import relational as R

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{sf01_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    ).withColumnRenamed("p_partkey", "l_partkey")
    plain = li.join(part, "l_partkey").groupBy("p_brand").count()
    salted = R.salted_skew_join(li, part, "l_partkey", salt_buckets=8).groupBy(
        "p_brand"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_grouped_agg_matches_plain(spark, sf01_dir):
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.operators import relational as R

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )
    salted = R.salted_grouped_agg(
        li,
        ["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
        ],
        final_aggs=[
            F.sum("c").alias("n"),
            F.sum("s").alias("qty"),
        ],
        salt_buckets=8,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_extra_salt_cols_spread_identical_rows_and_preserve_results(spark):
    """Fully-identical rows under one hot key hash to ONE salt bucket
    (content-derived salt); extra_salt_cols mixes a caller-supplied
    distinguishing column into the hash to restore spread — results
    must be unchanged, and the duplicated rows must occupy >1 bucket."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.operators import relational as R

    # 1000 BYTE-IDENTICAL rows under one hot key + a row uid column
    hot = spark.range(1000).select(
        F.lit(7).alias("k"), F.lit("dup").alias("payload"),
        F.col("id").alias("uid"),
    )
    dim = spark.createDataFrame([(7, "seven")], ["k", "name"])

    plain = hot.join(dim, "k").groupBy("name").count()
    spread = R.salted_skew_join(
        hot, dim, "k", salt_buckets=8, extra_salt_cols=["uid"]
    ).groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, spread.collect())
    )

    # the salt mechanics: identical (k, payload) rows → 1 bucket from
    # content alone, many buckets once the distinguishing uid is mixed in
    without = F.pmod(F.xxhash64("k", "payload"), F.lit(8))
    with_uid = F.pmod(F.xxhash64("k", "payload", "uid"), F.lit(8))
    assert hot.select(without.alias("s")).distinct().count() == 1
    assert hot.select(with_uid.alias("s")).distinct().count() > 1

    agg = R.salted_grouped_agg(
        hot,
        ["k"],
        partial_aggs=[F.count(F.lit(1)).alias("c")],
        final_aggs=[F.sum("c").alias("n")],
        salt_buckets=8,
        extra_salt_cols=["uid"],
    )
    assert [tuple(r) for r in agg.collect()] == [(7, 1000)]


def test_extra_salt_cols_metadata_row_index_on_parquet(spark, tmp_path):
    """The canonical stable extra salt for file-backed frames: the
    hidden parquet ``_metadata.row_index`` column (addresses the file,
    not the task → retry-deterministic). Byte-identical rows must
    spread across every bucket and the join result stay exact."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.operators import relational as R

    src = str(tmp_path / "hot")
    spark.range(1000).select(
        F.lit(7).alias("k"), F.lit("dup").alias("payload")
    ).write.parquet(src)
    hot = spark.read.parquet(src)
    dim = spark.createDataFrame([(7, "seven")], ["k", "name"])
    ridx = F.col("_metadata.row_index")
    out = R.salted_skew_join(
        hot, dim, "k", salt_buckets=8, extra_salt_cols=[ridx]
    )
    assert out.count() == 1000
    n_buckets = (
        hot.select(F.pmod(F.xxhash64("k", "payload", ridx), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets == 8


def test_exact_decimal_aggregation_matches_python_decimal(spark):
    """Property check for exact.py: dsum_round/davg on random 2-decimal
    money values must equal Decimal arithmetic with ROUND_HALF_UP —
    including sums landing exactly on a .005 boundary, where
    round(sum(double)) formulations go wrong."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from etl_project_gcp_spark import exact as X

    rng = random.Random(20260813)
    vals = [Decimal(rng.randrange(0, 10_000_000)) / 100 for _ in range(500)]

    df = spark.createDataFrame([(float(v),) for v in vals], "v double").coalesce(4)
    got = df.agg(
        X.dsum_round(F.col("v")).alias("s"),
        X.davg(F.col("v")).alias("a"),
    ).collect()[0]

    exp_sum = sum(vals).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    exp_avg = (sum(vals) / len(vals)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    assert Decimal(str(got.s)) == exp_sum
    assert Decimal(str(got.a)) == exp_avg

    # explicit half-up boundary: avg(0.01, 0.02) = 0.015 — must round UP
    # to 0.02 (binary-double formulations round to 0.01: 0.015 is stored
    # as 0.01499999...)
    b = spark.createDataFrame([(0.01,), (0.02,)], "v double")
    gb = b.agg(X.davg(F.col("v")).alias("a")).collect()[0]
    assert Decimal(str(gb.a)) == Decimal("0.02")


def test_davg_survives_huge_sums(spark):
    """The 100 TB bound: davg's scaled numerator 2·S·10^(scale+out)
    exceeds int64 once the raw sum passes ~4.6e14. With DECIMAL(38,0)
    carriers a 1000-row sum of 1e12-sized money values (raw sum 1e15)
    must still compute the exact half-up average, not NULL/overflow."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from etl_project_gcp_spark import exact as X

    v = Decimal("1000000000000.01")  # cents exact in double at 1e12
    df = spark.createDataFrame([(float(v),)] * 1000, "v double").coalesce(4)
    got = df.agg(X.davg(F.col("v")).alias("a")).collect()[0]
    exp = v.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    assert got.a is not None
    assert Decimal(str(got.a)) == exp


def test_approx_distinct_within_rsd_bound(spark, sf01_dir):
    """HLL++ sketch at 1% rsd must land within 5% of the exact distinct
    count for every group (5 sigma — deterministic for a fixed input).
    The tolerance check is evaluated in-query (sketch_within_5pct), and
    the emitted exact counts must agree with the exact twin query."""
    from etl_project_gcp_spark import queries as Q

    rows = Q.queries()["approx_distinct_customers"](spark, sf01_dir).collect()
    exact = {
        r.o_orderstatus: r.n_customers
        for r in Q.queries()["distinct_customer_count"](spark, sf01_dir).collect()
    }
    assert {r.o_orderstatus for r in rows} == set(exact)
    for r in rows:
        assert r.sketch_within_5pct, (r.o_orderstatus, r.exact_customers)
        assert r.exact_customers == exact[r.o_orderstatus]


def test_approx_quartiles_near_exact(spark, sf01_dir):
    """The KLL-style quantile sketch at accuracy=10000 must land within
    1% of each exact interpolated quartile (rank error 1e-4 of the
    group ⇒ value error bounded by the local density). The tolerance
    check is in-query (sketch_within_1pct); output is one scalar row
    per (status, quartile) and must agree with the exact twin."""
    from etl_project_gcp_spark import queries as Q

    rows = Q.queries()["approx_price_quartiles"](spark, sf01_dir).collect()
    exact = {
        r.o_orderstatus: {25: r.p25, 50: r.p50, 75: r.p75}
        for r in Q.queries()["price_quartiles_by_status"](spark, sf01_dir).collect()
    }
    assert {r.o_orderstatus for r in rows} == set(exact)
    assert len(rows) == 3 * len(exact)
    for r in rows:
        assert r.sketch_within_1pct, (r.o_orderstatus, r.quartile)
        assert r.exact_value == exact[r.o_orderstatus][r.quartile]


def test_asof_join_semantics(spark):
    """Inclusive ties (ts equal → match), strictly-later rights excluded,
    no match → NULL payload."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(20)), (3, 2, t(5))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 1, t(10)), (101, 1, t(15)), (102, 2, t(6))],
        "rid bigint, user_id bigint, ts timestamp",
    ).select("user_id", "ts", F.col("rid"), F.col("ts").alias("rts"))
    out = {
        r.event_id: r.rid
        for r in EV.asof_join(
            left, right, ("user_id",), "ts", ("rid", "rts")
        ).collect()
    }
    assert out == {1: 100, 2: 101, 3: None}


def test_range_join_boundaries(spark):
    """Inclusive at l.ts, exclusive at l.ts - lookback; matches crossing
    a bucket boundary must still be found (the classic bucketing bug)."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    base = dt.datetime(2024, 1, 1, 0, 0, 0)  # epoch-aligned to 300s cells
    t = lambda s: base + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, 1, t(600))], "event_id bigint, user_id bigint, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, 1, t(600)),   # == l.ts          -> match (inclusive)
            (11, 1, t(301)),   # l.ts-299, prev bucket -> match (crossing)
            (12, 1, t(300)),   # == l.ts-300      -> NO match (exclusive)
            (13, 1, t(601)),   # after l.ts       -> NO match
            (14, 2, t(600)),   # other key        -> NO match
        ],
        "rid bigint, user_id bigint, ts timestamp",
    ).select("user_id", "ts", "rid")
    got = sorted(
        r.rid
        for r in EV.range_join(
            left, right, ("user_id",), "ts", 300, ("rid",)
        ).collect()
    )
    assert got == [10, 11]


def test_salt_is_content_derived_and_deterministic(spark, sf01_dir):
    """Retry-safety contract: the salt must be a pure function of row
    content — no spark_partition_id / rand / monotonic id — so a task
    retry recomputes identical salts. Repartitioning the input (which
    permutes partition ids, the thing a fetch-failure retry does) must
    leave every row's salt unchanged, and the analyzed plans must carry
    no nondeterministic expression."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.operators import relational as R

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    salt = F.pmod(F.xxhash64(*li.columns), F.lit(16))
    a = sorted(map(tuple, li.withColumn("_salt", salt).collect()))
    b = sorted(map(tuple, li.repartition(7).withColumn("_salt", salt).collect()))
    assert a == b  # same multiset of (row content, salt) either layout

    part = (
        spark.read.parquet(f"{sf01_dir}/part.parquet")
        .select("p_partkey", "p_brand")
        .withColumnRenamed("p_partkey", "l_partkey")
    )
    for df in (
        R.salted_skew_join(li, part, "l_partkey", salt_buckets=8),
        R.salted_grouped_agg(
            li, ["l_partkey"],
            partial_aggs=[F.count(F.lit(1)).alias("c")],
            final_aggs=[F.sum("c").alias("n")],
        ),
    ):
        plan = df._jdf.queryExecution().analyzed().toString()
        for banned in ("spark_partition_id", "SPARK_PARTITION_ID",
                       "monotonically_increasing_id", "rand("):
            assert banned not in plan, f"nondeterministic salt source: {banned}"


def test_events_loader_adapts_to_both_ts_layouts(spark, tmp_path):
    """_events must normalize ts to TimestampType from EITHER physical
    layout: integral nanos (legacy TIMESTAMP(NANOS) read under
    nanosAsLong) or timestamp[us] (current corpus, read as
    timestamp_ntz) — same instants either way."""
    import datetime

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(i, base + datetime.timedelta(minutes=i), i, "view", 1.0, "{}")
            for i in range(5)]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    micros_dir = str(tmp_path / "micros")
    spark.createDataFrame(rows, cols).write.parquet(f"{micros_dir}/events.parquet")

    nanos_dir = str(tmp_path / "nanos")
    (
        spark.createDataFrame(rows, cols)
        .withColumn("ts", F.unix_micros("ts") * 1000)  # bigint nanos
        .write.parquet(f"{nanos_dir}/events.parquet")
    )

    got_micros = {r.event_id: r.ts for r in Q._events(spark, micros_dir).collect()}
    got_nanos = {r.event_id: r.ts for r in Q._events(spark, nanos_dir).collect()}
    assert got_micros == got_nanos
    assert got_micros[0] == base
    for d in (micros_dir, nanos_dir):
        assert dict(Q._events(spark, d).dtypes)["ts"] == "timestamp"


def test_forward_fill_carries_last_observation(spark):
    """NULL before the first observation, latest value at/after each
    observation, state never leaks across keys."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, 1, t(1), "view", 5.0),
            (2, 1, t(2), "purchase", 10.0),
            (3, 1, t(3), "view", 7.0),
            (4, 1, t(4), "purchase", 20.0),
            (5, 1, t(5), "click", 1.0),
            (6, 2, t(6), "view", 9.0),  # other user: no purchase yet
        ],
        "event_id bigint, user_id bigint, ts timestamp, event_type string, value double",
    )
    obs = F.when(F.col("event_type") == "purchase", F.col("value"))
    out = {
        r.event_id: r.filled
        for r in EV.forward_fill(ev, {"filled": obs}).collect()
    }
    assert out == {1: None, 2: 10.0, 3: 10.0, 4: 20.0, 5: 20.0, 6: None}


def test_cohort_retention_triangle_semantics(spark):
    """Cohort = first-event week; a user active in weeks 0 and 2 counts
    in offsets 0 and 2 only; two events in one week count once."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    d = lambda day, h=0: dt.datetime(2024, 1, day, h)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, 1, d(1)), (2, 1, d(1, 5)),  # u1 week0 twice
            (3, 1, d(15)),                   # u1 week2
            (4, 2, d(8)),                    # u2 cohort = week of Jan 8
            (5, 2, d(9)),                    # same week
        ],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    got = {
        (r.cohort_week.date().isoformat(), r.week_offset): r.n_users
        for r in EV.cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_rolling_active_users_window_semantics(spark):
    """A user active on day 1 counts on days 1-7; two activity days in
    one window still count the user once; days with no events anywhere
    emit no row."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, 1, d(1)), (2, 1, d(3)), (3, 2, d(3)), (4, 1, d(20))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    got = {
        r.report_day.day: r.n_active_users
        for r in EV.rolling_active_users(ev, window_days=7).collect()
    }
    # observed days: 1, 3, 20. Day 1: u1. Day 3: u1 (once) + u2.
    # Day 20: u1 only (day-3 activity expired).
    assert got == {1: 1, 3: 2, 20: 1}


def test_weekly_revenue_growth_lag_semantics(spark, sf01_dir):
    from etl_project_gcp_spark import queries as Q

    rows = sorted(
        Q.queries()["weekly_revenue_growth"](spark, sf01_dir).collect(),
        key=lambda r: r.week,
    )
    assert rows[0].prev_revenue is None and rows[0].wow_growth is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.prev_revenue == prev.revenue
        assert abs(cur.wow_growth - (cur.revenue / prev.revenue - 1.0)) < 1e-12


def test_cohort_retention_month_and_day_granularity(spark):
    """ADVICE r5: the offset must follow the granularity — calendar
    months are not 7 days apart. Output columns are granularity-named;
    unsupported granularities raise."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    ev = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2024, 1, 5)),    # u1 cohort Jan
            (2, 1, dt.datetime(2024, 3, 20)),   # active Mar → offset 2
            (3, 2, dt.datetime(2024, 2, 29)),   # u2 cohort Feb (leap)
            (4, 2, dt.datetime(2024, 3, 1)),    # next month → offset 1
        ],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    got = {
        (r.cohort_month.date().isoformat(), r.month_offset): r.n_users
        for r in EV.cohort_retention(ev, granularity="month").collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-02-01", 0): 1,
        ("2024-02-01", 1): 1,
    }

    day = {
        (r.cohort_day.date().isoformat(), r.day_offset): r.n_users
        for r in EV.cohort_retention(ev, granularity="day").collect()
    }
    assert day[("2024-02-29", 1)] == 1  # Feb 29 → Mar 1 is one DAY

    try:
        EV.cohort_retention(ev, granularity="hour")
    except ValueError as e:
        assert "granularity" in str(e)
    else:
        raise AssertionError("unsupported granularity must raise")


def test_asof_join_is_deterministic_on_duplicate_right_timestamps(spark):
    """Code-review r6: duplicate right rows at the same (key, ts) must
    resolve to ONE deterministic payload (max value struct) under any
    partitioning, not whichever row the shuffle happened to order last."""
    import datetime as dt

    from etl_project_gcp_spark.operators import events as EV

    t = dt.datetime(2024, 1, 1, 10, 0)
    right_rows = [(1, t, 100), (1, t, 7)]  # same user, same ts
    left = spark.createDataFrame(
        [(1, t + dt.timedelta(minutes=1))], "user_id bigint, ts timestamp"
    )
    outs = set()
    for order in (right_rows, right_rows[::-1]):
        for parts in (1, 7):
            right = spark.createDataFrame(
                order, "user_id bigint, ts timestamp, click_id bigint"
            ).repartition(parts)
            out = EV.asof_join(
                left, right, ("user_id",), "ts", ("click_id",)
            )
            outs.add(out.collect()[0].click_id)
    assert outs == {100}, outs  # max payload wins, always
