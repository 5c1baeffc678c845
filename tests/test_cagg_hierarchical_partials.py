"""Hierarchical caggs over EVERY partial family (round 11;
cagg-on-cagg × the toolkit rollup idiom, ``tsl/test/sql/
cagg_on_cagg.sql``): a daily child cagg's states are merges of the
hourly parent's stored states — ordered merges with one boundary
step/segment per adjacent pair for counters/gauges/time-weights,
commutative fieldwise merges for stats/candlesticks. The invariant
under test: serving from the CHILD at its own grain equals serving
from the PARENT at the child's grain (which rounds 10-11 already
proved equals the raw-scan aggregate of that grain)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession
from timescaledb_spark.sources import load_table


@pytest.fixture(scope="module")
def env(spark, sf_dir):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_hier_"))
    ht = ts.create_hypertable("events", "ts", chunk_interval="7 days")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "qv", F.floor(F.col("value")).cast("double")
    )
    ht.insert(ev)
    hourly = ts.create_cagg(
        "hp", ht, bucket_width="1 hour", aggs={},
        group_by=["event_type"],
        counters={"cnt": {"value": "qv", "tiebreak": ["event_id"]}},
        gauges={"g": {"value": "qv", "tiebreak": ["event_id"]}},
        stats_aggs={
            "st": {"value": "qv"},
            "st2": {"value": "qv", "y": "CAST(event_id % 17 AS DOUBLE)"},
        },
        time_weights={"tw": {"value": "qv", "tiebreak": ["event_id"]}},
        candlesticks={
            "ohlc": {"price": "qv", "tiebreak": ["event_id"]}
        },
        heartbeat_aggs={
            "hb": {"liveness": "10 minutes", "tiebreak": ["event_id"]}
        },
    )
    hourly.refresh()
    daily = ts.create_cagg(
        "dp", "_mat_hp", bucket_width="1 day", aggs={},
        group_by=["event_type"],
        counters={"cnt_d": {"rollup_of": "cnt"}},
        gauges={"g_d": {"rollup_of": "g"}},
        stats_aggs={
            "st_d": {"rollup_of": "st"},
            "st2_d": {"rollup_of": "st2"},
        },
        time_weights={"tw_d": {"rollup_of": "tw"}},
        candlesticks={"ohlc_d": {"rollup_of": "ohlc"}},
        heartbeat_aggs={"hb_d": {"rollup_of": "hb"}},
    )
    daily.refresh()
    return ts, hourly, daily


def _by_key(df, vals):
    return {
        (r["bucket"], r["event_type"]): tuple(r[v] for v in vals)
        for r in df.collect()
    }


class TestHierarchicalPartialFamilies:
    def test_counter_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        want = _by_key(
            hourly.counter_at_grain("cnt", grain="1 day", realtime=False),
            ["n", "delta", "num_resets"],
        )
        got = _by_key(
            daily.counter_at_grain("cnt_d", realtime=False),
            ["n", "delta", "num_resets"],
        )
        assert got == want and len(got) > 0

    def test_gauge_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        want = _by_key(
            hourly.gauge_at_grain("g", grain="1 day", realtime=False),
            ["n", "delta", "idelta"],
        )
        got = _by_key(
            daily.gauge_at_grain("g_d", realtime=False),
            ["n", "delta", "idelta"],
        )
        assert got == want and len(got) > 0

    def test_stats_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        want = _by_key(
            hourly.stats_at_grain("st", grain="1 day", realtime=False),
            ["n", "sum", "avg", "stddev"],
        )
        got = _by_key(
            daily.stats_at_grain("st_d", realtime=False),
            ["n", "sum", "avg", "stddev"],
        )
        assert got == want and len(got) > 0

    def test_timeweight_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        want = _by_key(
            hourly.time_weighted_at_grain(
                "tw", grain="1 day", realtime=False
            ),
            ["n", "tw_avg"],
        )
        got = _by_key(
            daily.time_weighted_at_grain("tw_d", realtime=False),
            ["n", "tw_avg"],
        )
        assert set(got) == set(want)
        for k, (n_w, avg_w) in want.items():
            n_g, avg_g = got[k]
            assert n_g == n_w
            assert avg_g == pytest.approx(avg_w, rel=1e-12), k

    def test_candle_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        want = _by_key(
            hourly.candlestick_at_grain(
                "ohlc", grain="1 day", realtime=False
            ),
            ["n", "open", "high", "low", "close", "volume", "vwap"],
        )
        got = _by_key(
            daily.candlestick_at_grain("ohlc_d", realtime=False),
            ["n", "open", "high", "low", "close", "volume", "vwap"],
        )
        assert set(got) == set(want)
        for k in want:
            for g_v, w_v in zip(got[k], want[k]):
                assert g_v == pytest.approx(w_v, rel=1e-12), k

    def test_stats2d_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        cols = ["n", "sum_x", "sum_y", "slope", "intercept", "covariance"]
        want = _by_key(
            hourly.stats2d_at_grain("st2", grain="1 day", realtime=False),
            cols,
        )
        got = _by_key(daily.stats2d_at_grain("st2_d", realtime=False), cols)
        assert set(got) == set(want) and len(got) > 0
        for k in want:
            for g_v, w_v in zip(got[k], want[k]):
                assert (g_v is None and w_v is None) or g_v == pytest.approx(
                    w_v, rel=1e-12
                ), k

    def test_heartbeat_child_equals_parent_at_day(self, env):
        _, hourly, daily = env
        cols = ["n", "live_us", "dead_us", "num_live_ranges", "first_us",
                "last_us"]
        want = _by_key(
            hourly.heartbeat_at_grain("hb", grain="1 day", realtime=False),
            cols,
        )
        got = _by_key(daily.heartbeat_at_grain("hb_d", realtime=False), cols)
        assert got == want and len(got) > 0

    def test_child_serves_coarser_grain(self, env):
        # week grain from the DAILY child == week grain from the parent
        _, hourly, daily = env
        want = _by_key(
            hourly.counter_at_grain(
                "cnt", grain="7 days", realtime=False
            ),
            ["n", "delta", "num_resets"],
        )
        got = _by_key(
            daily.counter_at_grain(
                "cnt_d", grain="7 days", realtime=False
            ),
            ["n", "delta", "num_resets"],
        )
        assert got == want

    @pytest.mark.parametrize(
        "family",
        [
            "sketches", "counters", "gauges", "stats_aggs", "time_weights",
            "candlesticks", "state_aggs", "freq_aggs", "maxn_aggs",
            "heartbeat_aggs", "tdigest_aggs",
        ],
    )
    def test_rollup_of_unknown_column_rejected(self, env, family):
        """rollup_of must name a column of that family in the parent
        cagg — checked at create, for a cagg parent and a plain
        hypertable source alike, never left to fail at refresh."""
        ts, _, _ = env
        for source in ("_mat_hp", "events"):
            with pytest.raises(ValueError, match="rollup_of"):
                ts.create_cagg(
                    "bad_h", source, bucket_width="1 day", aggs={},
                    group_by=["event_type"],
                    **{family: {"x": {"rollup_of": "nope"}}},
                )
        assert ts.catalog.continuous_agg.find_one(name="bad_h") is None

    def test_sql_rollup_routes_to_family(self, env):
        """CMV with rollup(cnt) over a counter-partial parent lands in
        counters (not the sketch fallback)."""
        ts, _, _ = env
        ts.sql(
            "CREATE MATERIALIZED VIEW dp_sql WITH "
            "(timescaledb.continuous) AS SELECT "
            "time_bucket('1 day', bucket) AS bucket, event_type, "
            "rollup(cnt) AS cnt_d, rollup(st) AS st_d "
            "FROM hp GROUP BY 1, 2"
        )
        child = ts.get_cagg("dp_sql")
        assert "cnt_d" in (child.row.get("counters") or {})
        assert "st_d" in (child.row.get("stats_aggs") or {})
        assert child.counter_at_grain("cnt_d").count() > 0
