"""Randomized serve-equals-raw property tests for the partial-state
cagg families (round 11): small adversarial series — duplicate
timestamps broken by tiebreak, NULL values, single-sample buckets,
empty buckets, resets — served from hourly partials at day grain must
equal the raw-scan hyperfunction over each day's rows. Deterministic
seeds (no wall-clock, no hypothesis shrink loops — each case is a
full cagg lifecycle)."""

import datetime
import random
import tempfile

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession
from timescaledb_spark.sources import load_table  # noqa: F401


def _gen(seed, n=120, days=3, null_frac=0.15, dup_frac=0.2):
    rng = random.Random(seed)
    rows = []
    base = datetime.datetime(2024, 1, 1)
    last_ts = None
    for i in range(n):
        if last_ts is not None and rng.random() < dup_frac:
            ts = last_ts  # duplicate timestamp, tiebreak decides order
        else:
            ts = base + datetime.timedelta(
                seconds=rng.randrange(days * 86400)
            )
        last_ts = ts
        v = (
            None
            if rng.random() < null_frac
            else float(rng.randrange(0, 1000))
        )
        dev = rng.choice(["a", "b"])
        rows.append((ts, i, dev, v))
    return rows


def _mk(spark, rows, **families):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_pprop_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="1 day")
    ht.insert(
        spark.createDataFrame(
            rows, "ts timestamp, rid long, dev string, v double"
        )
    )
    cagg = ts.create_cagg(
        "c", ht, bucket_width="1 hour", aggs={}, group_by=["dev"],
        **families,
    )
    cagg.refresh()
    return ts, ht, cagg


@pytest.mark.parametrize("seed", [11, 42, 1337])
def test_counter_serve_equals_raw(spark, seed):
    from timescaledb_spark.functions.counters import counter_agg
    from timescaledb_spark.functions.time import time_bucket

    rows = _gen(seed)
    _, _, cagg = _mk(
        spark, rows,
        counters={"cnt": {"value": "v", "tiebreak": ["rid"]}},
    )
    got = {
        (r["bucket"], r["dev"]): (
            r["n"], r["delta"], r["num_resets"],
            r["first_val"], r["last_val"],
        )
        for r in cagg.counter_at_grain(grain="1 day").collect()
    }
    spark_df = spark.createDataFrame(
        rows, "ts timestamp, rid long, dev string, v double"
    ).filter(F.col("v").isNotNull())
    day = spark_df.withColumn("day", time_bucket("1 day", "ts"))
    raw = counter_agg(day, "ts", "v", by=["day", "dev"], tiebreak=["rid"])
    want = {
        (r["day"], r["dev"]): (
            r["n"], r["delta"], r["num_resets"], None, None,
        )
        for r in raw.collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], (seed, k)


@pytest.mark.parametrize("seed", [7, 99])
def test_timeweight_serve_equals_raw(spark, seed):
    from timescaledb_spark.functions.counters import time_weighted_avg
    from timescaledb_spark.functions.time import time_bucket

    rows = _gen(seed)
    _, _, cagg = _mk(
        spark, rows,
        time_weights={"tw": {"value": "v", "tiebreak": ["rid"]}},
    )
    got = {
        (r["bucket"], r["dev"]): r["tw_avg"]
        for r in cagg.time_weighted_at_grain(grain="1 day").collect()
    }
    spark_df = spark.createDataFrame(
        rows, "ts timestamp, rid long, dev string, v double"
    ).filter(F.col("v").isNotNull())
    day = spark_df.withColumn("day", time_bucket("1 day", "ts"))
    want = {
        (r["day"], r["dev"]): r["tw_avg"]
        for r in time_weighted_avg(
            day, "ts", "v", by=["day", "dev"], tiebreak=["rid"]
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), (seed, k)


@pytest.mark.parametrize("seed", [23])
def test_stateagg_serve_equals_raw(spark, seed):
    from timescaledb_spark.functions.state import state_durations
    from timescaledb_spark.functions.time import time_bucket

    rng = random.Random(seed)
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            base + datetime.timedelta(seconds=rng.randrange(3 * 86400)),
            i,
            "a",
            rng.choice(["up", "down", "degraded", None]),
        )
        for i in range(150)
    ]
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_pprop_sa_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="1 day")
    ht.insert(
        spark.createDataFrame(
            rows, "ts timestamp, rid long, dev string, s string"
        )
    )
    cagg = ts.create_cagg(
        "c", ht, bucket_width="1 hour", aggs={}, group_by=["dev"],
        state_aggs={"sa": {"state": "s", "tiebreak": ["rid"]}},
    )
    cagg.refresh()
    got = {
        (r["bucket"], r["dev"], r["state"]): (r["duration_us"], r["n"])
        for r in cagg.state_durations_at_grain(grain="1 day").collect()
    }
    raw_df = spark.createDataFrame(
        rows, "ts timestamp, rid long, dev string, s string"
    ).filter(F.col("s").isNotNull())
    day = raw_df.withColumn("day", time_bucket("1 day", "ts"))
    want = {
        (r["day"], r["dev"], r["state"]): (r["duration_us"], r["n"])
        for r in state_durations(
            day, "ts", "s", by=["day", "dev"], tiebreak=["rid"]
        ).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.parametrize("seed", [7, 99])
def test_maxn_by_serve_equals_raw(spark, seed):
    """Round 13: day-grain max_n_by from hourly payload partials equals
    a direct two-key rank over each day's raw rows — on the (value,
    payload) total order, NULL values excluded, duplicate timestamps
    irrelevant (the family orders by value, not time)."""
    rows = _gen(seed)
    _, _, cagg = _mk(
        spark, rows,
        maxn_aggs={"mx": {"value": "v", "by": "rid", "n": 3}},
    )
    got: dict = {}
    for r in cagg.max_n_at_grain("mx", grain="1 day").collect():
        got.setdefault((r["bucket"].day, r["dev"]), []).append(
            (r["value"], r["data"])
        )
    want: dict = {}
    for ts_, rid, dev, v in rows:
        if v is not None:
            want.setdefault((ts_.day, dev), []).append((v, rid))
    for k in want:
        want[k] = sorted(want[k], key=lambda e: (-e[0], -e[1]))[:3]
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def _raw_day(spark, rows, col="v"):
    from timescaledb_spark.functions.time import time_bucket

    df = spark.createDataFrame(
        rows, "ts timestamp, rid long, dev string, v double"
    )
    if col is not None:
        df = df.filter(F.col(col).isNotNull())
    return df.withColumn("day", time_bucket("1 day", "ts"))


def _approx_eq(got, want):
    return (got is None and want is None) or (
        got is not None
        and want is not None
        and got == pytest.approx(want, rel=1e-9, abs=1e-9)
    )


@pytest.fixture(scope="module", params=[5, 77])
def fieldwise(spark, request):
    """One hourly cagg per seed carrying the gauge, 1-D stats, 2-D
    stats, candlestick and heartbeat partials of the same rows."""
    rows = _gen(request.param, n=200)
    tb = {"tiebreak": ["rid"]}
    _, _, cagg = _mk(
        spark, rows,
        gauges={"g": {"value": "v", **tb}},
        stats_aggs={
            "st": {"value": "v"},
            "s2": {"value": "v", "y": "CAST(rid % 13 AS DOUBLE)"},
        },
        candlesticks={"ohlc": {"price": "v", **tb}},
        heartbeat_aggs={"hb": {"liveness": "20 minutes", **tb}},
    )
    return request.param, rows, cagg


def test_gauge_serve_equals_raw(spark, fieldwise):
    from timescaledb_spark.functions.counters import gauge_agg

    seed, rows, cagg = fieldwise
    fields = ["n", "delta", "idelta", "num_changes", "first_us", "last_us"]
    got = {
        (r["bucket"], r["dev"]): tuple(r[f] for f in fields)
        + (r["rate"], r["irate"])
        for r in cagg.gauge_at_grain("g", grain="1 day").collect()
    }
    raw = gauge_agg(
        _raw_day(spark, rows), "ts", "v", by=["day", "dev"],
        tiebreak=["rid"],
    )
    want = {
        (r["day"], r["dev"]): tuple(r[f] for f in fields)
        + (r["rate"], r["irate"])
        for r in raw.collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        assert got[k][:6] == want[k][:6], (seed, k)
        assert _approx_eq(got[k][6], want[k][6]), (seed, k)
        assert _approx_eq(got[k][7], want[k][7]), (seed, k)


def test_stats_serve_equals_raw(spark, fieldwise):
    from timescaledb_spark.functions.stats import stats_agg_1d

    seed, rows, cagg = fieldwise
    got = {
        (r["bucket"], r["dev"]): (
            r["n"], r["sum"], r["avg"], r["stddev"], r["variance"],
            r["min"], r["max"],
        )
        for r in cagg.stats_at_grain("st", grain="1 day").collect()
    }
    raw = _raw_day(spark, rows).groupBy("day", "dev").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    mm = {(r["day"], r["dev"]): (r["mn"], r["mx"]) for r in raw.collect()}
    want = {
        (r["day"], r["dev"]): (
            r["num_vals"], r["sum_v"], r["average"], r["stddev"],
            r["variance"], *mm[(r["day"], r["dev"])],
        )
        for r in stats_agg_1d(
            _raw_day(spark, rows), "v", by=["day", "dev"]
        ).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        assert got[k][0] == want[k][0], (seed, k)
        for g_v, w_v in zip(got[k][1:], want[k][1:]):
            assert _approx_eq(g_v, w_v), (seed, k, got[k], want[k])


def test_stats2d_serve_equals_raw(spark, fieldwise):
    from timescaledb_spark.functions.stats import stats_agg_2d

    seed, rows, cagg = fieldwise
    fields = ["slope", "intercept", "covariance"]
    got = {
        (r["bucket"], r["dev"]): (r["n"], *[r[f] for f in fields])
        for r in cagg.stats2d_at_grain("s2", grain="1 day").collect()
    }
    day = _raw_day(spark, rows).withColumn(
        "y", (F.col("rid") % 13).cast("double")
    )
    want = {
        (r["day"], r["dev"]): (r["n"], *[r[f] for f in fields])
        for r in stats_agg_2d(day, "v", "y", by=["day", "dev"]).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        assert got[k][0] == want[k][0], (seed, k)
        for g_v, w_v in zip(got[k][1:], want[k][1:]):
            assert _approx_eq(g_v, w_v), (seed, k, got[k], want[k])


def test_candlestick_serve_equals_raw(spark, fieldwise):
    from timescaledb_spark.functions.stats import candlestick_agg

    seed, rows, cagg = fieldwise
    fields = ["open", "high", "low", "close", "volume", "vwap", "n"]
    got = {
        (r["bucket"], r["dev"]): tuple(r[f] for f in fields)
        for r in cagg.candlestick_at_grain("ohlc", grain="1 day").collect()
    }
    raw = candlestick_agg(
        _raw_day(spark, rows), "ts", "v", bucket_width="1 day",
        by=["dev"], tiebreak=["rid"],
    )
    want = {
        (r["bucket"], r["dev"]): tuple(r[f] for f in fields)
        for r in raw.collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        for g_v, w_v in zip(got[k], want[k]):
            assert _approx_eq(g_v, w_v), (seed, k, got[k], want[k])


def test_heartbeat_serve_equals_raw(spark, fieldwise):
    from timescaledb_spark.functions.state import heartbeat_agg

    seed, rows, cagg = fieldwise
    fields = ["n", "live_us", "num_live_ranges", "first_us", "last_us"]
    got = {
        (r["bucket"], r["dev"]): tuple(r[f] for f in fields)
        + (r["dead_us"],)
        for r in cagg.heartbeat_at_grain("hb", grain="1 day").collect()
    }
    raw = heartbeat_agg(
        _raw_day(spark, rows, col=None), "ts", by=["day", "dev"],
        liveness="20 minutes", tiebreak=["rid"],
    )
    want = {
        (r["day"], r["dev"]): tuple(r[f] for f in fields)
        + (r["last_us"] + 20 * 60_000_000 - r["first_us"] - r["live_us"],)
        for r in raw.collect()
    }
    assert got == want and len(want) > 0, seed
