"""Time-series operator laws: bucketing, rollup cascade exactness,
gap-fill / interpolation semantics, and plan posture."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from data_pipeline_package_for_python_spark import plans
from data_pipeline_package_for_python_spark.operators.timeseries import (
    gap_fill,
    rollup_time,
    sum_units,
    time_bucket,
    width_seconds,
)


def test_width_seconds_parses_and_rejects():
    assert width_seconds("1 hour") == 3600
    assert width_seconds("6 hours") == 21600
    assert width_seconds("90 minutes") == 5400
    assert width_seconds("2 days") == 172800
    for bad in ("1 month", "hourly", "3", "-1 hour"):
        with pytest.raises(ValueError):
            width_seconds(bad)


def _series(spark, rows):
    return spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), v)
         for k, h, v in rows],
        "k STRING, ts TIMESTAMP, v DOUBLE",
    )


def test_time_bucket_floors_to_epoch_grid(spark):
    df = _series(spark, [("a", 0, 1.0)]).select(
        time_bucket(
            F.col("ts") + F.expr("INTERVAL 59 MINUTES 59 SECONDS"),
            "1 hour",
        ).alias("b")
    )
    assert df.collect()[0]["b"] == dt.datetime(2024, 1, 1, 0, 0)


def test_rollup_cascade_equals_direct(spark, tables):
    """Hourly→daily cascade over exact units == direct daily rollup.
    This is the continuous-aggregate contract: BIGINT unit sums
    re-aggregate associatively with zero drift."""
    ev = tables["events"]
    hourly = rollup_time(
        ev, "ts", "1 hour", keys=("event_type",),
        aggs={"units": sum_units("value"), "cnt": F.count("*")},
    )
    cascade = rollup_time(
        hourly, "bucket", "1 day", keys=("event_type",),
        aggs={"units": F.sum("units"), "cnt": F.sum("cnt")},
    )
    direct = rollup_time(
        ev, "ts", "1 day", keys=("event_type",),
        aggs={"units": sum_units("value"), "cnt": F.count("*")},
    )
    assert cascade.exceptAll(direct).count() == 0
    assert direct.exceptAll(cascade).count() == 0


def test_gap_fill_ffill_semantics(spark):
    # k=a observed at h0 (v=1) and h3 (v=4): gaps h1,h2 carry 1.0 forward
    obs = rollup_time(
        _series(spark, [("a", 0, 1.0), ("a", 3, 4.0)]),
        "ts", "1 hour", keys=("k",), aggs={"v": F.sum("v")},
    )
    out = gap_fill(obs, "bucket", "1 hour", ("k",), "v", how="ffill")
    got = {r["bucket"].hour: (r["v"], r["is_gap"]) for r in out.collect()}
    assert got == {0: (1.0, 0), 1: (1.0, 1), 2: (1.0, 1), 3: (4.0, 0)}


def test_gap_fill_linear_interpolates_interior(spark):
    # observed 1.0 @ h0 and 4.0 @ h3 → h1=2.0, h2=3.0
    obs = rollup_time(
        _series(spark, [("a", 0, 1.0), ("a", 3, 4.0)]),
        "ts", "1 hour", keys=("k",), aggs={"v": F.sum("v")},
    )
    out = gap_fill(obs, "bucket", "1 hour", ("k",), "v", how="linear")
    got = {r["bucket"].hour: r["v"] for r in out.collect()}
    assert got == {0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0}


def test_gap_fill_single_observation_key(spark):
    # a key with one bucket has a 1-row spine and no gaps
    obs = rollup_time(
        _series(spark, [("solo", 5, 7.0)]),
        "ts", "1 hour", keys=("k",), aggs={"v": F.sum("v")},
    )
    out = gap_fill(obs, "bucket", "1 hour", ("k",), "v", how="linear")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] == 7.0 and rows[0]["is_gap"] == 0


def test_rollup_is_single_shuffle_no_udf(spark, tables):
    r = plans.plan_report(
        rollup_time(
            tables["events"], "ts", "1 hour", keys=("event_type",),
            aggs={"cnt": F.count("*")},
        )
    )
    assert r.n_shuffles == 1
    assert "BatchEvalPython" not in r.text and "ArrowEval" not in r.text


def test_gap_fill_plan_distributed_spine(spark, tables):
    """The spine must be generated inside the plan (sequence+explode),
    not collected: no BatchEvalPython, no cartesian, and the explode
    (Generate) node present."""
    b = rollup_time(
        tables["events"], "ts", "6 hours", keys=("user_id",),
        aggs={"v": F.sum("value")},
    )
    r = plans.plan_report(
        gap_fill(b, "bucket", "6 hours", ("user_id",), "v", how="linear")
    )
    assert not r.has_cartesian
    assert "Generate" in r.text and "BatchEvalPython" not in r.text


def test_hll_distinct_rollup_accuracy_and_merge_law(spark, tables):
    """The sketch cascade must (a) merge losslessly — weekly estimate
    from daily sketches == weekly estimate computed directly — and
    (b) sit within HLL's error envelope of the exact distinct count."""
    ev = tables["events"]
    daily = rollup_time(
        ev, "ts", "1 day", keys=(),
        aggs={"sk": F.hll_sketch_agg("user_id")},
    ).withColumnRenamed("bucket", "day")
    via_daily = rollup_time(
        daily, "day", "1 week", keys=(),
        aggs={"est": F.hll_sketch_estimate(F.hll_union_agg("sk"))},
    )
    direct = rollup_time(
        ev, "ts", "1 week", keys=(),
        aggs={"est": F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))},
    )
    exact = rollup_time(
        ev, "ts", "1 week", keys=(),
        aggs={"n": F.count_distinct("user_id")},
    )
    got = {r["bucket"]: r["est"] for r in via_daily.collect()}
    want = {r["bucket"]: r["est"] for r in direct.collect()}
    truth = {r["bucket"]: r["n"] for r in exact.collect()}
    assert got == want  # register-max union is lossless vs direct build
    for wk, n in truth.items():
        assert abs(got[wk] - n) <= max(2, 0.05 * n)


def test_sessionize_gap_splits_and_numbers_sessions(spark):
    from data_pipeline_package_for_python_spark.operators.timeseries import (
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two sessions (40-minute gap between event 3 and 4)
        (1, t0, 1),
        (1, t0 + dt.timedelta(minutes=10), 2),
        (1, t0 + dt.timedelta(minutes=25), 3),
        (1, t0 + dt.timedelta(minutes=65), 4),
        (1, t0 + dt.timedelta(minutes=70), 5),
        # user 2: one session, exactly-at-gap boundary stays inside
        (2, t0, 6),
        (2, t0 + dt.timedelta(minutes=30), 7),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize(
            df, "ts", ("user_id",), gap="30 minutes", order_tie=("event_id",)
        ).collect()
    }
    assert got == {
        (1, 1): 1, (1, 2): 1, (1, 3): 1,
        (1, 4): 2, (1, 5): 2,
        (2, 6): 1, (2, 7): 1,
    }


def test_ohlc_deterministic_picks_with_ties(spark):
    from data_pipeline_package_for_python_spark.operators.timeseries import (
        ohlc,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 30, 0)
    same_ts = t0 + dt.timedelta(minutes=5)
    rows = [
        ("a", t0, 1, 10.0),
        # two rows share the close timestamp: event_id must break the tie
        ("a", same_ts, 3, 30.0),
        ("a", same_ts, 2, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, event_id long, value double"
    )
    (r,) = ohlc(
        df, "ts", "value", "1 hour", keys=("k",), tie_break=("event_id",)
    ).collect()
    assert (r.open, r.high, r.low, r.close, r.n) == (10.0, 30.0, 5.0, 30.0, 3)
    assert r.bucket == dt.datetime(2024, 1, 1, 0, 0, 0)


def test_rolling_time_agg_trailing_window_inclusive(spark):
    from data_pipeline_package_for_python_spark.operators.timeseries import (
        rolling_time_agg,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(hours=1), 2.0),          # t0 still in [-1h, 0]
        (1, t0 + dt.timedelta(hours=2, seconds=1), 4.0),  # t0+1h now out
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = rolling_time_agg(
        df, "ts", ("user_id",), "1 hour", aggs={"s": F.sum("value")}
    )
    got = sorted((r.ts, r.s) for r in out.collect())
    assert [s for _, s in got] == [1.0, 3.0, 4.0]


def test_histogram_cascade_associativity(spark, tables):
    """Weekly histogram from daily == weekly from hourly == weekly
    direct — the mergeability contract that lets quantile rollups
    cascade without re-reading facts."""
    import pyspark.sql.functions as F

    from data_pipeline_package_for_python_spark.operators.timeseries import (
        histogram_rollup,
        time_bucket,
    )

    ev = tables["events"].select("ts", "value")
    hourly = histogram_rollup(ev, "ts", "value", width="1 hour")
    weekly_from_hourly = (
        hourly.groupBy(
            time_bucket("bucket", "1 week").alias("wk"), "bin"
        )
        .agg(F.sum("n").alias("n"))
    )
    weekly_direct = histogram_rollup(
        ev, "ts", "value", width="1 week", bucket_name="wk"
    )
    a = {(r["wk"], r["bin"]): r["n"] for r in weekly_from_hourly.collect()}
    b = {(r["wk"], r["bin"]): r["n"] for r in weekly_direct.collect()}
    assert a == b


def test_histogram_quantile_bounds_true_quantile(spark, tables):
    """The histogram p50 lower bound must bracket the true median:
    p50_lo <= median(v_scaled) < p50_lo + bin_units."""
    import pyspark.sql.functions as F

    from data_pipeline_package_for_python_spark.operators.timeseries import (
        histogram_quantile_lo,
        histogram_rollup,
    )

    ev = tables["events"].select("ts", "value").withColumn(
        "g", F.lit(1)
    )
    hist = histogram_rollup(
        ev, "ts", "value", width="1 week", bucket_name="g2"
    ).withColumn("g", F.lit(1)).groupBy("g", "bin").agg(
        F.sum("n").alias("n")
    )
    q = histogram_quantile_lo(hist, ("g",), {"p50_lo": (1, 2)}).collect()[0]
    true_med = ev.agg(
        F.expr("percentile(floor(value * 100), 0.5)").alias("m")
    ).collect()[0]["m"]
    assert q["p50_lo"] <= true_med < q["p50_lo"] + 5000


def test_incremental_rollup_merge_law(spark, sf_dir):
    """Incremental view maintenance: a daily rollup maintained as
    old-partition rollup + new-partition rollup (re-aggregated on the
    shared keys) must equal the full recompute EXACTLY.  This is the
    property that lets a 100 TB continuous aggregate absorb a new
    ingest partition by touching only the delta — it holds because the
    rollup carries exact integer units (associative), never divided
    doubles."""
    import pyspark.sql.functions as F

    from data_pipeline_package_for_python_spark.queries._registry import (
        load,
    )

    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-20"

    def rollup(df):
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            ).alias("units"),
        )

    full = rollup(ev)
    old = rollup(ev.filter(F.col("ts") < cutoff))
    delta = rollup(ev.filter(F.col("ts") >= cutoff))
    merged = (
        old.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("units").alias("units"))
    )
    diff = (
        merged.withColumnRenamed("n", "mn")
        .withColumnRenamed("units", "mu")
        .join(full, ["day", "event_type"], "full")
        .filter(
            (F.coalesce(F.col("mn"), F.lit(0)) != F.coalesce(F.col("n"), F.lit(0)))
            | (F.coalesce(F.col("mu"), F.lit(0)) != F.coalesce(F.col("units"), F.lit(0)))
        )
        .count()
    )
    assert diff == 0


# --------------------------------------------------------------------- #
# series statistics: ACF / MAD outliers / Spearman (round-4 additions)  #
# --------------------------------------------------------------------- #

def _events_fixture(spark, vals, typ="click"):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), i % 3, typ, float(v), None)
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _run_query(spark, name, df, tmp_path):
    """Write a one-table fixture and run the registered query on it."""
    from data_pipeline_package_for_python_spark.queries import QUERIES
    from data_pipeline_package_for_python_spark.session import session_state

    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    scans = session_state(spark).scans
    scans.clear()
    try:
        return QUERIES[name].spark_fn(spark, sf)
    finally:
        scans.clear()


def test_spearman_monotone_series_is_one(spark, tmp_path):
    # value grows with time, one event per hour -> cnt constant, ranks
    # of cnt tie-break by bucket = ranks of v (also increasing) -> rho 1
    out = _run_query(
        spark, "ts_spearman",
        _events_fixture(spark, [float(10 * i) for i in range(12)]),
        tmp_path,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["sum_d2"] == 0 and r["rho"] == 1.0


def test_mad_flags_planted_spike_but_median_resists_it(spark, tmp_path):
    # 23 calm hours + one 100x spike: the spike is flagged, nothing else
    vals = [10.0] * 23 + [1000.0]
    rows = _run_query(
        spark, "ts_mad_outliers", _events_fixture(spark, vals), tmp_path
    ).collect()
    flagged = [r for r in rows if r["is_outlier"] == 1]
    assert len(flagged) == 1 and flagged[0]["v"] == 100000
    # med stays at the calm level (units of 1/100)
    assert rows[0]["med"] == 1000.0


def test_acf_alternating_series_lag1_negative_lag2_positive(spark, tmp_path):
    vals = [0.0, 100.0] * 12
    rows = {
        r["lag"]: r
        for r in _run_query(
            spark, "ts_acf", _events_fixture(spark, vals), tmp_path
        ).collect()
    }
    assert rows[1]["acf"] < -0.9
    assert rows[2]["acf"] > 0.9
    # exact sufficient statistics: num/den are integers cast to double
    assert rows[1]["acf_den"] > 0


# ---------------------------------------------------------------------- #
# Holt double-exponential smoothing (in-plan fold)                       #
# ---------------------------------------------------------------------- #


def test_holt_linear_matches_python_fold(spark):
    """The in-plan fold reproduces a Python replay bit-for-bit, and on
    a pure linear ramp the learned trend approaches the true slope."""
    import datetime as dt

    from data_pipeline_package_for_python_spark.operators.timeseries import (
        holt_linear,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: linear ramp y = 3t; user 2: constant; user 3: one point
    for i in range(40):
        rows.append((i, 1, t0 + dt.timedelta(hours=i), 3.0 * i))
    for i in range(10):
        rows.append((100 + i, 2, t0 + dt.timedelta(hours=i), 7.5))
    rows.append((200, 3, t0, 42.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r
        for r in holt_linear(
            df, "ts", "value", ("user_id",), scale=100,
            tie_break="event_id",
        ).collect()
    }

    def replay(vals):
        l = b = None
        for y in vals:
            v = float(__import__("math").floor(y * 100))
            if l is None:
                l, b = v, 0.0
            else:
                ln = (v + l + b) / 2
                b = (ln - l + b) / 2
                l = ln
        return l, b

    for uid, vals in {
        1: [3.0 * i for i in range(40)],
        2: [7.5] * 10,
        3: [42.0],
    }.items():
        l, b = replay(vals)
        r = got[uid]
        assert r["n_events"] == len(vals)
        assert r["level"] == l, (uid, r["level"], l)      # bit-identical
        assert r["trend"] == b, (uid, r["trend"], b)
        assert r["forecast_next"] == l + b
    # ramp: trend converges to the true slope (300 scaled units/step)
    assert abs(got[1]["trend"] - 300.0) < 1.0
    # constant series: zero trend, level at the constant
    assert got[2]["trend"] == 0.0 and got[2]["level"] == 750.0
    # single point: level = value, no trend
    assert got[3]["level"] == 4200.0 and got[3]["trend"] == 0.0


def test_max_drawdown_known_series(spark):
    """Hand-checkable series: rise to 10, fall to 4 (drawdown -6),
    recover to 12, dip to 9 (drawdown -3) — max drawdown is -600
    scaled units at the v=4 event."""
    import datetime as dt

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1)
    vals = [5.0, 10.0, 7.0, 4.0, 12.0, 9.0]
    rows = [
        (i, 1, t0 + dt.timedelta(hours=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = queries()["ts_max_drawdown"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 6
    assert r["peak"] == 1200
    assert r["max_drawdown"] == -600
    assert r["worst_event_id"] == 3


def test_clamped_balance_saturates(spark):
    """Ledger replay: deltas +700,+600 (cap at 1000? no, cap 10000)...
    build a series that hits BOTH rails and verify the fold replays a
    Python ledger exactly."""
    import datetime as dt
    import os, tempfile

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1)
    # value*100-500 = delta -> choose values for deltas:
    # +6000, +6000 (cap-hit at 10000), -9000 (ok), -8000 (floor-hit),
    # +500
    deltas = [6000, 6000, -9000, -8000, 500]
    rows = [
        (i, 1, t0 + dt.timedelta(hours=i), (d + 500) / 100.0)
        for i, d in enumerate(deltas)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = queries()["ts_clamped_balance"](spark, d).collect()[0]
    bal, floor_hits, cap_hits = 0, 0, 0
    for dd in deltas:
        raw = bal + dd
        if raw < 0:
            floor_hits += 1
        if raw > 10000:
            cap_hits += 1
        bal = min(max(raw, 0), 10000)
    assert out["final_balance"] == bal == 500
    assert out["n_floor_hits"] == floor_hits == 1
    assert out["n_cap_hits"] == cap_hits == 1
    assert out["n_events"] == 5


def test_interval_coalesce_no_double_count(spark):
    """Events at 0, 5, 30 minutes with 10-min intervals: [0,10] and
    [5,15] merge (covered 15 min), [30,40] stands alone -> 2 islands,
    25 min covered (NOT 30)."""
    import datetime as dt
    import os, tempfile

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(minutes=m), 1.0)
        for i, m in enumerate([0, 5, 30])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = queries()["ts_interval_coalesce"](spark, d).collect()[0]
    assert out["n_intervals"] == 2
    assert out["covered_us"] == 25 * 60 * 1_000_000


def test_rolling_ols_slope_linear_series(spark):
    """On y = 7t the windowed slope must be exactly 7 (num/den reduces
    to 700/100 in scaled units per second) for every full window."""
    import datetime as dt
    import os, tempfile
    from fractions import Fraction

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(seconds=10 * i), 7.0 * (10 * i))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = queries()["ts_rolling_ols_slope"](spark, d).collect()
    assert out
    for r in out:
        # slope in scaled-y units per second: 7.0*100 = 700
        assert Fraction(r["slope_num"], r["slope_den"]) == 700, dict(r)


def test_peak_concurrency_touching_sessions(spark):
    """Three users: u1 00:00-00:10, u2 00:05-00:15 (overlaps u1),
    u3 starts exactly when u1's last event lands (00:10) — the
    starts-before-ends boundary counts it, so the peak is 3."""
    import datetime as dt
    import os, tempfile

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, minutes):
        return (eid, uid, t0 + dt.timedelta(minutes=minutes), 1.0)

    rows = [
        ev(1, 1, 0), ev(2, 1, 10),
        ev(3, 2, 5), ev(4, 2, 15),
        ev(5, 3, 10), ev(6, 3, 20),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = queries()["ts_peak_concurrency"](spark, d).collect()[0]
    assert out["n_sessions"] == 3
    assert out["peak_concurrency"] == 3
    assert out["peak_at_us"] == int(
        (t0 + dt.timedelta(minutes=10)).timestamp() * 1_000_000
    )
