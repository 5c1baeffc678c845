"""The three benchmark workloads: ``ingest``, ``dashboard`` and ``mixed``.

A workload is a preload (timed as set-up) plus an endless sequence of
rounds of op kinds. The seed draws every op's parameters (and the order
of a ``dashboard`` round), so two runs with one seed execute the same
ops. ``MIX`` gives each kind's share of the workload, which the
ops-per-second figure weights by, so it does not depend on where in a
round a run stops.

Each :class:`Op` carries a callable that performs it through the public
engine API, the DML it applied (for the DuckDB replay) and, for reads,
the DuckDB query that must return the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable, Optional

import numpy as np

from gen import DAY_US, HOUR_US, T0_US, US, InputStore, metrics_rows, revalue
from timescaledb_spark import compression
from timescaledb_spark.streaming import StreamIngest

HT = "metrics"
CAGG = "metrics_hourly"
CAGG_AGGS = {
    "n": "count(*)",
    "sum_v1": "sum(v1)",
    "avg_v1": "avg(v1)",
    "max_v1": "max(v1)",
}
KEYS = ["time", "device_id"]

# sizes per workload; "tiny" is the determinism self-test's scale
SIZES = {
    "default": {
        "ingest": dict(devices=10, cadence_s=10, preload_days=3),
        "dashboard": dict(devices=20, cadence_s=30, days=7),
        "mixed": dict(devices=10, cadence_s=10, hours=24, compressed_hours=6),
    },
    "tiny": {
        "ingest": dict(devices=3, cadence_s=60, preload_days=3),
        "dashboard": dict(devices=3, cadence_s=300, days=7),
        "mixed": dict(devices=3, cadence_s=60, hours=12, compressed_hours=4),
    },
}


def ts_lit(us: int) -> str:
    """SQL timestamp literal (UTC) for an epoch-microsecond value."""
    return datetime.fromtimestamp(us / US, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


@dataclass
class Op:
    kind: str
    cls: str  # "read" | "write" | "maint" | "replay"
    run: Callable[[], "OpResult"]
    # DML for the DuckDB replay: ("insert", path) | ("upsert", path) |
    # ("delete", device, lo_us, hi_us)
    dml: Optional[tuple] = None
    duck_sql: Optional[str] = None  # reads: the oracle query
    desc: str = ""  # seeded parameters, for the op-sequence record


@dataclass
class OpResult:
    rows_written: int = 0
    cols: Optional[list] = None  # reads: result columns
    rows: Optional[list] = None  # reads: collected rows
    jobs_ran: int = 0  # maintenance ticks: jobs executed


class Engine:
    """The session the workloads drive and how they collect a result."""

    def __init__(self, spark, ts, collect):
        self.spark = spark
        self.ts = ts
        # collect(df) -> (cols, rows); the traced run passes one that
        # times planning apart from execution
        self.collect = collect

    def frame(self, path: str):
        return self.spark.read.parquet(path)


def _read(eng: Engine, make_df) -> OpResult:
    cols, rows = eng.collect(make_df())
    return OpResult(cols=cols, rows=rows)


# ---------------------------------------------------------------- queries
# Each returns (engine-side DataFrame factory, DuckDB SQL, parameters).

def q_bucket(eng, lo, hi):
    sql = (
        "SELECT time_bucket('1 hour', time) AS bucket, device_id, "
        "avg(v1) AS a1, max(v2) AS m2 FROM metrics "
        f"WHERE time >= '{ts_lit(lo)}' AND time < '{ts_lit(hi)}' "
        "GROUP BY bucket, device_id"
    )
    duck = (
        "SELECT date_trunc('hour', time)::TIMESTAMP AS bucket, device_id, "
        "avg(v1) AS a1, max(v2) AS m2 FROM metrics "
        f"WHERE time >= '{ts_lit(lo)}' AND time < '{ts_lit(hi)}' "
        "GROUP BY 1, 2"
    )
    return lambda: eng.ts.sql(sql), duck, f"[{ts_lit(lo)},{ts_lit(hi)})"


def q_point(eng, device, lo, hi):
    where = (
        f"device_id = {device} AND time >= '{ts_lit(lo)}' "
        f"AND time < '{ts_lit(hi)}'"
    )
    sql = f"SELECT time, device_id, v1, v2 FROM metrics WHERE {where}"
    return lambda: eng.ts.sql(sql), sql, f"d{device} [{ts_lit(lo)},{ts_lit(hi)})"


def q_firstlast(eng, lo, hi):
    where = f"time >= '{ts_lit(lo)}' AND time < '{ts_lit(hi)}'"
    sql = (
        "SELECT device_id, first(v1, time) AS f, last(v1, time) AS l "
        f"FROM metrics WHERE {where} GROUP BY device_id"
    )
    duck = (
        "SELECT device_id, arg_min(v1, time) AS f, arg_max(v1, time) AS l "
        f"FROM metrics WHERE {where} GROUP BY device_id"
    )
    return lambda: eng.ts.sql(sql), duck, f"[{ts_lit(lo)},{ts_lit(hi)})"


def q_gapfill(eng, devices, lo, hi):
    devs = ", ".join(str(d) for d in devices)
    where = (
        f"device_id IN ({devs}) AND time >= '{ts_lit(lo)}' "
        f"AND time < '{ts_lit(hi)}'"
    )
    sql = (
        "SELECT time_bucket_gapfill('10 minutes', time) AS bucket, device_id, "
        f"locf(avg(v1)) AS a1 FROM metrics WHERE {where} "
        "GROUP BY bucket, device_id"
    )
    duck = f"""
        WITH spine AS (
          SELECT unnest(generate_series(TIMESTAMP '{ts_lit(lo)}',
                 TIMESTAMP '{ts_lit(hi - 1)}', INTERVAL 10 MINUTE)) AS bucket
        ), devs AS (SELECT DISTINCT device_id FROM metrics WHERE {where}),
        agg AS (
          SELECT time_bucket(INTERVAL 10 MINUTE, time) AS bucket, device_id,
                 avg(v1) AS a1
          FROM metrics WHERE {where} GROUP BY 1, 2
        )
        SELECT s.bucket AS bucket, d.device_id AS device_id,
               coalesce(a.a1, last_value(a.a1 IGNORE NULLS) OVER (
                 PARTITION BY d.device_id ORDER BY s.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS a1
        FROM spine s CROSS JOIN devs d
        LEFT JOIN agg a ON a.bucket = s.bucket AND a.device_id = d.device_id
    """
    return lambda: eng.ts.sql(sql), duck, f"{devs} [{ts_lit(lo)},{ts_lit(hi)})"


def q_cagg(eng, lo, hi):
    from pyspark.sql import functions as F

    def make():
        df = eng.ts.get_cagg(CAGG).read()
        return (
            df.filter((F.col("bucket") >= F.lit(ts_lit(lo)).cast("timestamp"))
                      & (F.col("bucket") < F.lit(ts_lit(hi)).cast("timestamp")))
            .groupBy(F.date_trunc("day", "bucket").alias("day"), "device_id")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_v1").alias("s1"),
                F.max("max_v1").alias("m1"),
            )
        )

    duck = (
        "SELECT date_trunc('day', time)::TIMESTAMP AS day, device_id, count(*) AS n, "
        "sum(v1) AS s1, max(v1) AS m1 FROM metrics "
        f"WHERE time >= '{ts_lit(lo)}' AND time < '{ts_lit(hi)}' GROUP BY 1, 2"
    )
    return make, duck, f"[{ts_lit(lo)},{ts_lit(hi)})"


def q_lastpoint(eng, devices):
    devs = [int(d) for d in devices]
    duck = (
        "SELECT time, device_id, v1, v2 FROM (SELECT *, row_number() OVER "
        "(PARTITION BY device_id ORDER BY time DESC) AS rn FROM metrics "
        f"WHERE device_id IN ({', '.join(map(str, devs))})) WHERE rn = 1"
    )
    return (
        lambda: eng.ts.get_hypertable(HT).last_point("device_id", keys=devs),
        duck,
        f"{len(devs)} devices",
    )


def q_wide(eng):
    sql = (
        "SELECT time_bucket('1 day', time) AS day, count(*) AS n, "
        "sum(v1) AS s1, max(v2) AS m2 FROM metrics GROUP BY day"
    )
    duck = (
        "SELECT date_trunc('day', time)::TIMESTAMP AS day, count(*) AS n, "
        "sum(v1) AS s1, max(v2) AS m2 FROM metrics GROUP BY 1"
    )
    return lambda: eng.ts.sql(sql), duck, "all chunks"


def read_op(eng, kind, built) -> Op:
    make, duck, desc = built
    return Op(kind, "read", lambda: _read(eng, make), duck_sql=duck, desc=desc)


# ---------------------------------------------------------------- workloads

class Workload:
    """Base: subclasses define the preload, the kinds of a round and how
    to make one op of a kind. Ops are made one at a time, just before they
    run, so each sees the state the ops before it left."""

    name = ""
    # op kind -> its weight in the workload's mix (ops per mix period)
    MIX: dict = {}

    def __init__(self, size: str):
        self.p = SIZES[size][self.name]

    def devices(self):
        return list(range(1, self.p["devices"] + 1))

    def make_inputs(self, rng: np.random.Generator, store: InputStore) -> dict:
        """Generate the preload inputs (harness work, not set-up)."""
        raise NotImplementedError

    def preload(self, eng: Engine, inputs: dict) -> dict:
        """Build the starting state through the public API; returns the
        mutable per-state context the ops advance."""
        raise NotImplementedError

    def kinds(self, r: int, rng: np.random.Generator) -> list[str]:
        """The op kinds of round ``r``, in order."""
        raise NotImplementedError

    def make_op(self, eng, st, kind, rng, store) -> Op:
        raise NotImplementedError

    def _create(self, eng: Engine, chunk_interval: str):
        ht = eng.ts.create_hypertable(HT, "time", chunk_interval=chunk_interval)
        compression.enable_columnstore(ht, segmentby="device_id")
        return ht

    def _create_cagg(self, eng: Engine):
        return eng.ts.create_cagg(
            CAGG, HT, bucket_width="1 hour", aggs=CAGG_AGGS,
            group_by=["device_id"],
        )


class Ingest(Workload):
    """Stream of one-simulated-hour micro-batches through
    ``StreamIngest.process_batch``; policies run through
    ``jobs.run_pending(now=<simulated clock>)`` after every batch."""

    name = "ingest"
    BATCHES_PER_ROUND = 4
    LATE_EVERY_ROUNDS = 5  # one late batch per 20 on-time batches
    MIX = {"batch": 20, "tick": 19, "late_batch": 1, "late_tick": 1, "replay": 5}

    def make_inputs(self, rng, store):
        end = T0_US + self.p["preload_days"] * DAY_US
        t = metrics_rows(rng, T0_US, end, self.devices(), self.p["cadence_s"])
        return {"preload": store.put(t, "preload"), "end": end}

    def preload(self, eng, inputs):
        ht = self._create(eng, "1 day")
        ht.insert(eng.frame(inputs["preload"]))
        end = inputs["end"]
        compression.compress_chunks(ht, older_than=end - DAY_US)
        cagg = self._create_cagg(eng)
        cagg.refresh()
        jobs = eng.ts.jobs
        jobs.add_continuous_aggregate_policy(
            CAGG, start_offset="4 days", end_offset="1 hour",
            schedule_interval="1 hour",
        )
        jobs.add_compression_policy(HT, compress_after="1 day",
                                    schedule_interval="1 hour")
        # anchor both schedules on the simulated clock (policies start on
        # the wall clock): each is due at every tick, one per simulated hour
        for job in jobs.list():
            jobs.alter_job(job["id"], initial_start=end / US, next_start=end / US)
        sink = StreamIngest(ht, checkpoint_dir="bench-ingest",
                            stream_id="bench_ingest")
        return {"ht": ht, "sink": sink, "clock": end, "batch_id": 0,
                "dml": [("insert", inputs["preload"])]}

    def kinds(self, r, rng):
        # the late batch lands between two on-time batches; the tick after
        # the next batch recompresses the chunk it reopened (late_tick)
        late = r % self.LATE_EVERY_ROUNDS == 1  # round 1: the first timed
        out = []
        for i in range(self.BATCHES_PER_ROUND):
            out += ["batch", "late_tick" if late and i == 2 else "tick"]
            if late and i == 1:
                out.append("late_batch")
        return out + ["replay"]

    def make_op(self, eng, st, kind, rng, store):
        p = self.p
        if kind == "batch":
            lo = st["clock"]
            st["clock"] = lo + HOUR_US
            path = store.put(
                metrics_rows(rng, lo, st["clock"], self.devices(), p["cadence_s"]),
                "batch",
            )
            return self._batch_op(eng, st, kind, path, f"[{ts_lit(lo)},+1h)")
        if kind == "late_batch":
            # late rows 1-3 days back, into already-compressed chunks
            back = int(rng.integers(24, 72)) * HOUR_US
            lo = max(T0_US, st["clock"] - back)
            lo = min(lo, T0_US + DAY_US * (p["preload_days"] - 2))
            path = store.put(
                metrics_rows(rng, lo, lo + HOUR_US, self.devices(),
                             p["cadence_s"], offset_s=p["cadence_s"] // 2),
                "late",
            )
            return self._batch_op(eng, st, kind, path, f"[{ts_lit(lo)},+1h) late")
        if kind in ("tick", "late_tick"):
            return self._tick_op(eng, kind, st["clock"])
        if kind == "replay":
            # foreachBatch replay of an already-committed batch: must be skipped
            bid = int(rng.integers(1, st["batch_id"] + 1))
            return Op(kind, "replay", lambda: self._replay(st, bid),
                      desc=f"batch {bid}")
        raise ValueError(kind)

    @staticmethod
    def _batch_op(eng, st, kind, path, desc):
        st["batch_id"] += 1
        bid = st["batch_id"]

        def run():
            stats = st["sink"].process_batch(eng.frame(path), bid)
            return OpResult(rows_written=int(stats["rows"]))

        return Op(kind, "write", run, dml=("insert", path), desc=f"#{bid} {desc}")

    @staticmethod
    def _replay(st, bid):
        stats = st["sink"].process_batch(None, bid)
        if not stats.get("replayed"):
            raise AssertionError(f"batch {bid} was not recognised as a replay")
        return OpResult()

    @staticmethod
    def _tick_op(eng, kind, clock_us):
        def run():
            out = eng.ts.jobs.run_pending(now=clock_us / US)
            failed = [o for o in out if not o["success"]]
            if failed:
                raise RuntimeError(f"job failed: {failed[0]['error']}")
            return OpResult(jobs_ran=len(out))

        return Op(kind, "maint", run, desc=f"now={ts_lit(clock_us)}")


class Dashboard(Workload):
    """Read-only query mix over a week of data in 1-day chunks."""

    name = "dashboard"
    COMPRESSED_DAYS = 5
    KINDS = ["q_bucket", "q_point", "q_firstlast", "q_gapfill", "q_cagg",
             "q_lastpoint", "q_wide"]
    MIX = {k: 1 for k in KINDS}

    def make_inputs(self, rng, store):
        end = T0_US + self.p["days"] * DAY_US
        t = metrics_rows(rng, T0_US, end, self.devices(), self.p["cadence_s"])
        return {"preload": store.put(t, "preload"), "end": end}

    def preload(self, eng, inputs):
        ht = self._create(eng, "1 day")
        ht.insert(eng.frame(inputs["preload"]))
        compression.compress_chunks(
            ht, older_than=T0_US + self.COMPRESSED_DAYS * DAY_US
        )
        self._create_cagg(eng).refresh()
        return {"end": inputs["end"], "dml": [("insert", inputs["preload"])]}

    def kinds(self, r, rng):
        return [self.KINDS[i] for i in rng.permutation(len(self.KINDS))]

    def make_op(self, eng, st, kind, rng, store):
        days = self.p["days"]
        devs = self.devices()
        if kind == "q_bucket":
            lo = T0_US + int(rng.integers(0, days)) * DAY_US
            return read_op(eng, kind, q_bucket(eng, lo, lo + DAY_US))
        if kind == "q_point":
            # inside the compressed chunks: row-group skipping
            lo = T0_US + int(rng.integers(0, self.COMPRESSED_DAYS * 144)) * 600 * US
            return read_op(eng, kind, q_point(eng, int(rng.choice(devs)),
                                              lo, lo + 600 * US))
        if kind == "q_firstlast":
            lo = T0_US + int(rng.integers(0, days - 2)) * DAY_US
            return read_op(eng, kind, q_firstlast(eng, lo, lo + 3 * DAY_US))
        if kind == "q_gapfill":
            lo = T0_US + int(rng.integers(0, days * 24 - 6)) * HOUR_US
            pick = sorted(rng.choice(devs, size=min(5, len(devs)), replace=False))
            return read_op(eng, kind, q_gapfill(eng, pick, lo, lo + 6 * HOUR_US))
        if kind == "q_cagg":
            return read_op(eng, kind, q_cagg(eng, T0_US, st["end"]))
        if kind == "q_lastpoint":
            return read_op(eng, kind, q_lastpoint(eng, devs))
        if kind == "q_wide":
            return read_op(eng, kind, q_wide(eng))
        raise ValueError(kind)


class Mixed(Workload):
    """Many small 1-hour chunks; reads with 2 h windows beside appends,
    upserts (recent and into compressed chunks) and deletes, with an
    explicit cagg refresh and a recompression closing every round.

    The order of a round and the region each op touches are fixed; the
    seed picks the hours, devices and rows inside those regions. So every
    round leaves the same shape of work for its refresh (the appended and
    recently upserted hours, one compressed hour, one middle hour)."""

    name = "mixed"
    # every kind once per round, reads interleaved with writes; the cagg
    # refresh and the recompression close the round (every 13th op
    # is a refresh). q_cagg runs right after the append: its window is
    # then one materialized hour plus the raw tail, and nothing below the
    # watermark is stale. An upsert leaves its compressed chunk in the
    # rowstore; recompressing it, as a compression policy would, makes
    # every round start from the same layout, so upsert_compressed and
    # q_point always meet compressed chunks however many rounds a run has
    KINDS = ["q_bucket", "append", "q_cagg", "q_point", "q_firstlast",
             "upsert_recent", "q_gapfill", "upsert_compressed", "q_lastpoint",
             "delete_device", "q_wide", "refresh", "recompress"]
    MIX = {k: 1 for k in KINDS}
    UPSERT_ROWS = 500
    WINDOW_H = 2

    def make_inputs(self, rng, store):
        end = T0_US + self.p["hours"] * HOUR_US
        t = metrics_rows(rng, T0_US, end, self.devices(), self.p["cadence_s"])
        return {"preload": store.put(t, "preload"), "end": end}

    def preload(self, eng, inputs):
        ht = self._create(eng, "1 hour")
        ht.insert(eng.frame(inputs["preload"]))
        compression.compress_chunks(
            ht, older_than=T0_US + self.p["compressed_hours"] * HOUR_US
        )
        self._create_cagg(eng).refresh()
        return {"ht": ht, "end": inputs["end"], "deleted": set(),
                "dml": [("insert", inputs["preload"])]}

    def kinds(self, r, rng):
        return list(self.KINDS)

    def _hour(self, rng, first: int, last: int) -> int:
        """Start of a seeded hour in [first, last) hours from the start."""
        return T0_US + int(rng.integers(first, last)) * HOUR_US

    def make_op(self, eng, st, kind, rng, store) -> Op:
        devs = self.devices()
        p = self.p
        ht = st["ht"]
        hours = (st["end"] - T0_US) // HOUR_US
        ch = p["compressed_hours"]
        w = self.WINDOW_H * HOUR_US
        if kind == "q_bucket":  # rowstore hours
            lo = self._hour(rng, ch, hours - self.WINDOW_H + 1)
            return read_op(eng, kind, q_bucket(eng, lo, lo + w))
        if kind == "q_point":  # a compressed chunk: row-group skipping
            lo = self._hour(rng, 0, ch) + int(rng.integers(0, 6)) * 600 * US
            return read_op(eng, kind, q_point(eng, int(rng.choice(devs)),
                                              lo, lo + 600 * US))
        if kind == "q_firstlast":  # across the compressed/rowstore boundary
            lo = self._hour(rng, ch - self.WINDOW_H + 1, ch)
            return read_op(eng, kind, q_firstlast(eng, lo, lo + w))
        if kind == "q_gapfill":  # rowstore hours, gaps from deletes
            lo = self._hour(rng, ch, hours - self.WINDOW_H + 1)
            pick = sorted(rng.choice(devs, size=min(5, len(devs)), replace=False))
            return read_op(eng, kind, q_gapfill(eng, pick, lo, lo + w))
        if kind == "q_cagg":  # the newest hours: materialized + raw tail
            return read_op(eng, kind, q_cagg(eng, st["end"] - w, st["end"]))
        if kind == "q_lastpoint":
            return read_op(eng, kind, q_lastpoint(eng, devs))
        if kind == "q_wide":
            return read_op(eng, kind, q_wide(eng))
        if kind == "refresh":
            def run():
                eng.ts.get_cagg(CAGG).refresh()
                return OpResult(jobs_ran=1)

            return Op(kind, "maint", run)
        if kind == "recompress":
            def run():
                done = compression.compress_chunks(ht, older_than=T0_US + ch * HOUR_US)
                return OpResult(jobs_ran=len(done))

            return Op(kind, "maint", run)
        if kind == "append":
            lo = st["end"]
            st["end"] = lo + HOUR_US
            path = store.put(
                metrics_rows(rng, lo, st["end"], devs, p["cadence_s"]), "append"
            )

            def run():
                stats = ht.insert(eng.frame(path))
                return OpResult(rows_written=int(stats["rows"]))

            return Op(kind, "write", run, dml=("insert", path),
                      desc=f"[{ts_lit(lo)},+1h)")
        if kind in ("upsert_recent", "upsert_compressed"):
            if kind == "upsert_recent":  # the hour before the newest
                hour = st["end"] - 2 * HOUR_US
            else:
                hour = self._hour(rng, 0, ch)
            rows = metrics_rows(rng, hour, hour + HOUR_US, devs, p["cadence_s"])
            take = np.sort(rng.choice(rows.num_rows,
                                      size=min(self.UPSERT_ROWS, rows.num_rows),
                                      replace=False))
            path = store.put(revalue(rng, rows.take(take)), "upsert")

            def run():
                stats = ht.upsert(eng.frame(path), keys=KEYS)
                return OpResult(rows_written=int(stats.get("rows", 0)))

            return Op(kind, "write", run, dml=("upsert", path),
                      desc=f"chunk {ts_lit(hour)}")
        if kind == "delete_device":  # a middle hour, apart from the others
            # not the hour next to the compressed ones, whose invalidation
            # would merge with upsert_compressed's, and no device-hour
            # deleted before, which would delete nothing and invalidate
            # nothing: every delete removes rows and every round leaves
            # the refresh the same three ranges
            while True:
                lo = self._hour(rng, ch + 1, hours - 4)
                dev = int(rng.choice(devs))
                if (dev, lo) not in st["deleted"]:
                    break
            st["deleted"].add((dev, lo))

            def run():
                n = ht.delete_where(f"device_id = {dev}", start=lo,
                                    end=lo + HOUR_US)
                return OpResult(rows_written=int(n))

            return Op(kind, "write", run, dml=("delete", dev, lo, lo + HOUR_US),
                      desc=f"d{dev} chunk {ts_lit(lo)}")
        raise ValueError(kind)


WORKLOADS = {w.name: w for w in (Ingest, Dashboard, Mixed)}
