"""Toolkit max_n/min_n/max_n_by family (functions/stats.py)."""

import pandas as pd

from timescaledb_spark.functions.stats import max_n, max_n_by, min_n, min_n_by


def _df(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 5 + ["b"] * 5,
            "v": [3.0, 1.0, 5.0, 2.0, 4.0, 10.0, 30.0, 20.0, 50.0, 40.0],
            "tag": list("vwxyz") + list("VWXYZ"),
        }
    )
    return spark.createDataFrame(pdf)


def test_max_n_grouped(spark):
    out = max_n(_df(spark), "v", n=2, by=["g"]).toPandas()
    got = {g: sorted(grp.v) for g, grp in out.groupby("g")}
    assert got == {"a": [4.0, 5.0], "b": [40.0, 50.0]}


def test_min_n_global_is_take_ordered(spark):
    df = min_n(_df(spark), "v", n=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert sorted(r["v"] for r in df.collect()) == [1.0, 2.0, 3.0]


def test_max_n_by_payload(spark):
    out = max_n_by(
        _df(spark), "v", ["tag"], n=1, by=["g"], tiebreak=["tag"]
    ).toPandas()
    assert set(zip(out.g, out.tag)) == {("a", "x"), ("b", "Y")}


def test_min_n_by(spark):
    out = min_n_by(_df(spark), "v", ["tag"], n=1, by=["g"]).toPandas()
    assert set(zip(out.g, out.v)) == {("a", 1.0), ("b", 10.0)}


def test_max_n_by_tiebreak_outside_payload(spark):
    # tiebreak column not in payload must still order (and ride along)
    out = max_n_by(_df(spark), "v", [], n=1, by=["g"], tiebreak=["tag"])
    pdf = out.toPandas()
    assert "tag" in pdf.columns
    assert set(zip(pdf.g, pdf.v)) == {("a", 5.0), ("b", 50.0)}


def test_max_n_by_payload_overlapping_by(spark):
    # a payload column duplicating a `by` column must not duplicate output cols
    out = max_n_by(_df(spark), "v", ["g", "tag"], n=1, by=["g"]).toPandas()
    assert list(out.columns).count("g") == 1
    assert set(zip(out.g, out.tag)) == {("a", "x"), ("b", "Y")}


# ---- round-13: max_n_by PARTIALS in caggs (payload-carrying states) ----

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from timescaledb_spark.session import TSSession


def _ts(d, h=0):
    return datetime.datetime(2024, 1, d, h)


@pytest.fixture(scope="module")
def mxby_env(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_mxbyt_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    rows = [
        (_ts(1 + d, h), "g", float(v), f"dev{d}_{h}_{v}")
        for d in range(2)
        for h in range(4)
        for v in range(3)
    ]
    rows.append((_ts(1, 5), "g", None, "devnull"))  # NULL value skipped
    ht.insert(
        spark.createDataFrame(
            rows, "ts timestamp, grp string, v double, dev string"
        )
    )
    cagg = ts.create_cagg(
        "mxby", ht, bucket_width="1 hour", aggs={}, group_by=["grp"],
        maxn_aggs={"mx": {"value": "v", "by": "dev", "n": 2}},
    )
    cagg.refresh()
    return ts, ht, cagg


def test_maxn_by_state_shape_and_ties(spark, mxby_env):
    _, _, cagg = mxby_env
    st = (
        cagg.read(realtime=False)
        .orderBy("bucket")
        .collect()[0]["mx"]
    )
    # hour 0 of day 1: values 0,1,2 -> top-2 (2.0, 1.0) with payloads
    assert st["vals"] == [2.0, 1.0]
    assert st["data"] == ["dev0_0_2", "dev0_0_1"]
    assert st["n"] == 3


def test_maxn_by_serve_matches_raw_rank(spark, mxby_env):
    _, _, cagg = mxby_env
    got = [
        (r["bucket"].day, r["value"], r["data"])
        for r in cagg.max_n_at_grain("mx", grain="1 day")
        .orderBy("bucket", F.col("value").desc(), F.col("data").desc())
        .collect()
    ]
    # per day: 4 hours x values {0,1,2}; top-2 on (v desc, dev desc)
    assert [
        (d, v) for d, v, _ in got
    ] == [(1, 2.0), (1, 2.0), (2, 2.0), (2, 2.0)]
    # ties broken by payload DESC: hours 3 then 2
    assert [x for _, _, x in got] == [
        "dev0_3_2", "dev0_2_2", "dev1_3_2", "dev1_2_2"
    ]


def test_maxn_by_null_value_excluded(spark, mxby_env):
    _, _, cagg = mxby_env
    out = cagg.max_n_at_grain("mx", grain="all").collect()
    assert all(r["value"] is not None for r in out)
    assert all(r["data"] != "devnull" for r in out)


def test_min_n_by_direction(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_mnby_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    ht.insert(spark.createDataFrame(
        [(_ts(1, h), float(h), f"d{h}") for h in range(5)],
        "ts timestamp, v double, dev string",
    ))
    ts.sql(
        "CREATE MATERIALIZED VIEW mn WITH (timescaledb.continuous) AS "
        "SELECT time_bucket('1 hour', ts) AS bucket, "
        "min_n_by(v, dev, 2) AS mn FROM m GROUP BY 1"
    )
    cagg = ts.get_cagg("mn")
    assert cagg.row["maxn_aggs"]["mn"]["desc"] is False
    cagg.refresh()
    got = [
        (r["value"], r["data"])
        for r in cagg.max_n_at_grain("mn", grain="all").collect()
    ]
    assert got == [(0.0, "d0"), (1.0, "d1")]


def test_maxn_by_hierarchical_child_inherits_payload(spark, mxby_env):
    ts, _, cagg = mxby_env
    child = ts.create_cagg(
        "mxby_d", "_mat_mxby", bucket_width="1 day", aggs={},
        group_by=["grp"], maxn_aggs={"mxd": {"rollup_of": "mx"}},
    )
    assert child.row["maxn_aggs"]["mxd"].get("by") is not None
    child.refresh()
    want = {
        (r["bucket"], r["value"], r["data"])
        for r in cagg.max_n_at_grain(
            "mx", grain="1 day", realtime=False
        ).collect()
    }
    got = {
        (r["bucket"], r["value"], r["data"])
        for r in child.max_n_at_grain("mxd", realtime=False).collect()
    }
    assert got == want


def test_max_n_by_sql_validation(spark):
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_mxbv_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    ht.insert(spark.createDataFrame(
        [(_ts(1), 1.0, "d")], "ts timestamp, v double, dev string"
    ))
    with pytest.raises(ValueError, match="max_n_by"):
        ts.sql(
            "CREATE MATERIALIZED VIEW b1 WITH (timescaledb.continuous) "
            "AS SELECT time_bucket('1 hour', ts) AS bucket, "
            "max_n_by(v, dev) AS mx FROM m GROUP BY 1"
        )
    with pytest.raises(ValueError, match="integer literal"):
        ts.sql(
            "CREATE MATERIALIZED VIEW b2 WITH (timescaledb.continuous) "
            "AS SELECT time_bucket('1 hour', ts) AS bucket, "
            "max_n_by(v, dev, v) AS mx FROM m GROUP BY 1"
        )


def test_max_n_by_sql_payload_qualifier_stripped(spark):
    """A table-qualified payload (``x.dev`` over ``FROM m x``) resolves
    on the unqualified frame the cagg builds its states on, like the
    value argument."""
    ts = TSSession(spark, tempfile.mkdtemp(prefix="ts_mxbq_"))
    ht = ts.create_hypertable("m", "ts", chunk_interval="7 days")
    ht.insert(spark.createDataFrame(
        [(_ts(1, h), float(h), f"d{h}") for h in range(4)],
        "ts timestamp, v double, dev string",
    ))
    ts.sql(
        "CREATE MATERIALIZED VIEW mq WITH (timescaledb.continuous) AS "
        "SELECT time_bucket('1 hour', x.ts) AS bucket, "
        "max_n_by(x.v, x.dev, 2) AS mx FROM m x GROUP BY 1"
    )
    spec = ts.get_cagg("mq").row["maxn_aggs"]["mx"]
    assert (spec["value"], spec["by"]) == ("v", "dev")
    got = [
        (r["value"], r["data"])
        for r in ts.get_cagg("mq").max_n_at_grain("mx", grain="all").collect()
    ]
    assert got == [(3.0, "d3"), (2.0, "d2")]
