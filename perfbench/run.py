#!/usr/bin/env python3
"""Seeded engine benchmark: ``ingest``, ``dashboard`` and ``mixed``.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets the engine up three times (reporting the median set-up time),
runs the workload's closed loop with one client for at least ``--seconds``
of op time after an untimed warm-up round, checks every result against a
DuckDB replay, and prints one JSON object as its last line. ``--trace 1`` runs the same
loop with per-layer spans and reports the per-layer metrics instead.
Exit status is non-zero when an op fails or an oracle check mismatches.
See ``perfbench/README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {  # name -> unit; the metrics BENCHMARK.json gates
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "storage_bytes_per_row": "B/row",
}
# printed by every run and reported by the traced run, but not gated: a
# gated metric needs a steady value on every workload, and these either
# exist only where the workload has the op class or spread too far over
# seeds at a run's few samples (latency percentiles, peak RSS)
REPORTED = {
    "rows_per_s": "rows/s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "write_p50_s": "s",
    "write_p90_s": "s",
    "maint_p50_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "fraction",
}
OP_KINDS = ["batch", "late_batch", "tick", "late_tick", "replay", "q_bucket", "q_point",
            "q_firstlast", "q_gapfill", "q_cagg", "q_lastpoint", "q_wide",
            "append", "upsert_recent", "upsert_compressed", "delete_device",
            "refresh", "recompress"]


def per_layer_units() -> dict:
    """Every per-layer metric of the traced run, with its unit."""
    from tracing import LAYERS

    u = {
        "session.build_spark_s": "s",
        "session.tssession_s": "s",
        "streaming.process_batch_s": "s",
        "hypertable.insert_s": "s",
        "hypertable.upsert_s": "s",
        "hypertable.delete_where_s": "s",
        "hypertable.read_s": "s",
        "hypertable.last_point_s": "s",
        "catalog.calls_per_op": "count",
        "catalog.s_per_op": "s",
        "sqlapi.sql_s": "s",
        "caggs.refresh_s": "s",
        "caggs.read_s": "s",
        "compression.compress_chunks_s": "s",
        "compression.chunks_per_tick": "count",
        "compression.ratio": "x",
        "jobs.run_pending_s": "s",
        "jobs.runs": "count",
        "spark.plan_s": "s",
        "spark.exec_collect_s": "s",
        "spark.jobs_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.shuffle_bytes_per_op": "B",
        "spark.spill_bytes": "B",
        "spark.gc_s": "s",
        "storage.files_written_per_op": "count",
        "storage.bytes_written_per_row": "B/row",
        "storage.files_per_chunk": "count",
        "collect.rows_per_op": "count",
    }
    for layer in LAYERS:
        u[f"self.{layer}_s_per_op"] = "s"
    for k in OP_KINDS:
        u[f"op.{k}.p50_s"] = "s"
        u[f"op.{k}.n"] = "count"
    for k, unit in REPORTED.items():
        u[f"e2e.{k}"] = unit
    u["trace.ops_per_s_traced"] = "ops/s"
    u["trace.ops_per_s_untraced"] = "ops/s"
    u["trace.overhead"] = "fraction"
    return u


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]); 0.0 when empty."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[{time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mix_ops_per_s(mix: dict, records: list) -> float:
    """Ops per second of the workload's mix: each kind's median latency
    weighted by its share of the mix. The figure does not depend on where
    in a round the run stopped, moves when any kind speeds up, and one
    stalled op (a GC pause, a busy neighbour) does not swing it."""
    num = den = 0.0
    for kind, w in mix.items():
        xs = [r["s"] for r in records if r["kind"] == kind]
        if xs:
            num += w
            den += w * statistics.median(xs)
    return num / den if den else 0.0


# ------------------------------------------------------------- processes
def _children() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(pid: int) -> list[int]:
    tree = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in tree.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm(spark) -> None:
    """Stop Spark, end the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is None:
        return
    kids = descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is being torn down anyway
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for k in kids:
        while _alive(k) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(k):
            os.kill(k, signal.SIGKILL)


# ------------------------------------------------------------------ env
def git_commit() -> str:
    try:
        top = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2:
        return "unknown (not a git checkout)"
    if os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "unknown (not a git checkout)"
    return lines[1]


def env_header(spark, args) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    want = os.environ.get("SPARK_GRAFT_CPUS")
    got = spark.sparkContext.defaultParallelism
    flags = []
    if want != str(got):
        flags.append(f"SPARK_GRAFT_CPUS={want} but Spark defaultParallelism={got}")
    if want != str(nproc()):
        flags.append(f"SPARK_GRAFT_CPUS={want} but nproc={nproc()}")
    return {
        "cpus": nproc(),
        "master": spark.sparkContext.master,
        "spark.default.parallelism": got,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": conf.get("spark.driver.memory", "default"),
        "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions", ""),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "commit": git_commit(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "flags": flags,
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for fn in files:
            if not fn.startswith("."):
                total += os.path.getsize(os.path.join(d, fn))
    return total


# ------------------------------------------------------------------ run
class Run:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.records: list[dict] = []  # one per executed op
        self.tracer = None
        self.spark = None

    def jvm_opts(self) -> str:
        # C1 only: a run lives about a minute, too short for C2 to reach a
        # steady state, so with tiered compilation the ops keep speeding up
        # through the timed rounds by a different amount each run while C2
        # compiler threads take CPU beside the 4 task threads. C1 compiles
        # the hot code within set-up. Its default 48 MB code cache fills
        # about 50 s into a run; the sweeper then flushes compiled methods
        # and a few seconds of ops run slower while they are compiled
        # again, so the cache gets the 240 MB tiered compilation uses.
        return ("-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")

    def spark_conf(self) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": self.jvm_opts(),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def execute(self, op, idx: int, traced: bool, rnd: int, replay, checked):
        """Run one op, timing it; returns its record."""
        from tracing import files_written, snapshot_files

        tr = self.tracer
        rec = {"i": idx, "round": rnd, "kind": op.kind, "cls": op.cls,
               "traced": traced, "ok": True, "rows_written": 0, "rows_out": 0}
        if traced:
            data_root = os.path.join(self.ts_root, "data")
            before = snapshot_files(data_root)
            tr.op_id = idx
            tr.enabled = True
            rec["win"] = (time.time() * 1000.0, None)
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span(f"op.{op.kind}", "op"):
                    res = op.run()
            else:
                res = op.run()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            res = None
            rec["ok"] = False
            print(f"op {idx} {op.kind} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        rec["s"] = time.perf_counter() - t0
        log(f"op {idx} {op.kind} r{rnd} {rec['s']:.2f}")
        if traced:
            tr.enabled = False
            rec["win"] = (rec["win"][0], time.time() * 1000.0)
            rec["files"], rec["bytes"] = files_written(before, snapshot_files(data_root))
        if res is not None:
            rec["rows_written"] = res.rows_written
            rec["jobs_ran"] = res.jobs_ran
            if res.rows is not None:
                rec["rows_out"] = len(res.rows)
            if op.dml is not None:
                replay.dml(op.dml)
            if op.duck_sql and op.kind not in checked:
                checked.add(op.kind)
                replay.check(f"op {idx} {op.kind} ({op.desc})", op.duck_sql,
                             res.cols, res.rows)
        return rec

    def main(self) -> int:
        args = self.args
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # spark-submit's launcher JVM gets none of the driver's options;
        # keep its perf-data file and temp files in the work dir too
        os.environ["SPARK_LAUNCHER_OPTS"] = self.jvm_opts()
        try:
            return self._main()
        finally:
            if self.spark is not None:  # _main raised: still end the JVM
                shutdown_jvm(self.spark)
            shutil.rmtree(self.work, ignore_errors=True)

    def _main(self) -> int:
        import numpy as np

        from duckcheck import CAGG_SQL, DAILY_SQL, Replay
        from gen import InputStore
        from tracing import Tracer, gc_seconds, traced_collect
        from workloads import CAGG, HT, WORKLOADS, Engine

        from timescaledb_spark import TSSession, build_spark

        args = self.args
        wl = WORKLOADS[args.workload](args.size)
        store = InputStore(os.path.join(self.work, "inputs"))
        inputs = wl.make_inputs(np.random.default_rng([args.seed, 0]), store)
        if self.trace:
            self.tracer = Tracer()
            self.tracer.install()
            collect = traced_collect(self.tracer)
        else:
            def collect(df):
                return df.columns, [tuple(r) for r in df.collect()]

        setup, build_s, tss_s = [], [], []
        prev_root = None
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            if prev_root:
                shutil.rmtree(prev_root, ignore_errors=True)
            root = os.path.join(self.work, f"ts{rep}")
            t0 = time.perf_counter()
            spark = self.spark = build_spark(app_name=f"perfbench-{args.workload}",
                                             extra_conf=self.spark_conf())
            t1 = time.perf_counter()
            ts = TSSession(spark, root)
            t2 = time.perf_counter()
            eng = Engine(spark, ts, collect)
            state = wl.preload(eng, inputs)
            setup.append(time.perf_counter() - t0)
            build_s.append(t1 - t0)
            tss_s.append(t2 - t1)
            prev_root = root
            log(f"set-up {rep + 1}/{SETUP_REPS}: {setup[-1]:.2f}s")
        self.ts_root = root
        header = env_header(spark, args)
        print("env " + json.dumps(header), flush=True)

        replay = Replay()
        for entry in state["dml"]:
            replay.dml(entry)
        checked: set = set()
        rng = np.random.default_rng([args.seed, 1])
        gc_total = 0.0
        timed = 0.0
        rnd = 0
        ops_seq = []
        # Round 0 is the first use of each op kind on this session, up to
        # 3x slower than later rounds, and is the counted round: its
        # exact counts repeat for one seed and every read kind is checked
        # against the oracle there. It is not timed. Timing starts at round
        # 1, which always completes, and ends at the first op past
        # --seconds. A traced run traces round 0 and the odd rounds (round
        # 1 holds ingest's late batch) and leaves the even rounds from 2
        # untraced, for the overhead; it runs rounds 0-2 at least.
        min_rounds = 3 if self.trace else 2
        done = False
        while not done:
            traced = self.trace and (rnd == 0 or rnd % 2 == 1)
            if traced and rnd > 0:
                gc0 = gc_seconds(spark)
            for kind in wl.kinds(rnd, rng):
                op = wl.make_op(eng, state, kind, rng, store)
                rec = self.execute(op, len(self.records), traced, rnd, replay, checked)
                self.records.append(rec)
                ops_seq.append(f"{op.kind} {op.desc}")
                if rnd > 0:
                    timed += rec["s"]
                if rnd >= min_rounds and timed >= args.seconds:
                    done = True
                    break
            if traced and rnd > 0:
                gc_total += gc_seconds(spark) - gc0
            rnd += 1
            if rnd >= min_rounds and timed >= args.seconds:
                done = True

        log(f"loop: {len(self.records)} ops in {rnd} rounds, {timed:.2f}s of op time")
        # ------------------------------------------------ oracle + storage
        from pyspark.sql import functions as F

        ht = ts.get_hypertable(HT)
        daily = ht.read().groupBy(F.date_trunc("day", "time").alias("day")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("v1").alias("s1"),
            F.sum("v2").alias("s2"))
        dcols, drows = daily.columns, [tuple(r) for r in daily.collect()]
        # the loop may stop between a write below the watermark and the
        # refresh that repairs it; refresh first, so every logged
        # invalidation must have been repaired for the cagg to match
        cagg = ts.get_cagg(CAGG)
        cagg.refresh()
        cagg_df = cagg.read()
        ccols, crows = cagg_df.columns, [tuple(r) for r in cagg_df.collect()]
        live_rows = sum(r[dcols.index("n")] for r in drows)
        mismatches = replay.run({
            "final hypertable per-day count/sum": (DAILY_SQL, dcols, drows),
            "final cagg read": (CAGG_SQL, ccols, crows),
        })
        for m in mismatches:
            print("MISMATCH " + m, file=sys.stderr)
        storage_bytes = dir_bytes(os.path.join(root, "data"))
        peak_rss = jvm_peak_rss_mb(spark) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
        layer_extra = {}
        if self.trace:
            layer_extra = self.storage_layer(ht)
        log(f"oracle: {len(mismatches)} mismatches")
        app_id = spark.sparkContext.applicationId
        shutdown_jvm(spark)
        log("spark stopped")
        self.spark = None

        # ------------------------------------------------------- report
        failed_ops = sum(1 for r in self.records if not r["ok"])
        attempted = len(self.records)
        # a mismatched oracle check fails the op it checked (final checks
        # fail one op each)
        failed = min(failed_ops + len(mismatches), attempted)
        correct = failed == 0
        # timed: untraced ops after the warm-up round
        timed_recs = [r for r in self.records if r["round"] > 0 and not r["traced"]]
        busy = sum(r["s"] for r in timed_recs)
        e2e = {
            "setup_s": median(setup),
            "ops_per_s": mix_ops_per_s(wl.MIX, timed_recs),
            "storage_bytes_per_row": storage_bytes / max(1, live_rows),
        }
        rep = self.reported(timed_recs, failed / max(1, attempted))
        rep["peak_rss_mb"] = peak_rss
        print(f"setup samples (s): {[round(x, 3) for x in setup]}; ops {attempted} in "
              f"{rnd} rounds, {len(timed_recs)} timed in {busy:.2f}s", flush=True)
        for k, v in {**e2e, **rep}.items():
            unit = END_TO_END.get(k) or REPORTED[k]
            print(f"  {k:<24} {v:>14.6g} {unit}")
        if self.trace:
            metrics = self.layer_metrics(build_s, tss_s, gc_total, app_id, layer_extra)
            metrics.update({f"e2e.{k}": v for k, v in rep.items()})
            units = per_layer_units()
            os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
            out = os.path.join(HERE, ".work", "traces",
                               f"{args.workload}-seed{args.seed}.jsonl")
            self.tracer.dump(out)
            print(f"spans written to {os.path.relpath(out, ROOT)}")
        else:
            metrics, units = e2e, END_TO_END
        if args.ops_out:
            with open(args.ops_out, "w") as f:
                json.dump({"ops": ops_seq, "latency_s": [r["s"] for r in self.records],
                           "round": [r["round"] for r in self.records],
                           "metrics": metrics, "units": units,
                           "counts": self.exact_counts(metrics)}, f)
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units},
        }
        print(json.dumps(result), flush=True)
        return 0 if correct else 1

    @staticmethod
    def reported(recs: list, error_rate: float) -> dict:
        """The ungated metrics over the timed ops ``recs``, each only where
        the workload has the op class; prints the sample counts behind the
        percentiles."""
        busy = sum(r["s"] for r in recs)
        by = {c: [r["s"] for r in recs if r["cls"] == c and r["ok"]]
              for c in ("read", "write")}
        maint = [r["s"] for r in recs if r["cls"] == "maint" and r.get("jobs_ran")]
        out = {}
        if by["write"]:
            out["rows_per_s"] = sum(r["rows_written"] for r in recs) / busy
        for c in ("read", "write"):
            if by[c]:
                out[f"{c}_p50_s"] = median(by[c])
                out[f"{c}_p90_s"] = pct(by[c], 90)
                print(f"  {c} samples: {len(by[c])}")
        if maint:
            out["maint_p50_s"] = median(maint)
            print(f"  maint samples: {len(maint)}")
        out["op_p50_s"] = median([r["s"] for r in recs])
        out["error_rate"] = error_rate
        return out

    # ------------------------------------------------------ traced run
    def storage_layer(self, ht) -> dict:
        from timescaledb_spark.compression import chunk_compression_stats

        chunks = ht.chunks()
        files = 0
        for d, dirs, fs in os.walk(ht.data_dir):
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            files += sum(1 for f in fs if f.endswith(".parquet"))
        st = chunk_compression_stats(ht)
        before = sum(s.get("before", 0) for s in st)
        after = sum(s.get("after", 0) for s in st)
        return {
            "storage.files_per_chunk": files / max(1, len(chunks)),
            "compression.ratio": before / after if after else 0.0,
        }

    def exact_counts(self, metrics: dict) -> dict:
        """Counts that one seed must reproduce exactly."""
        keys = ("catalog.calls_per_op", "storage.files_written_per_op",
                "spark.jobs_per_op", "spark.tasks_per_op", "jobs.runs",
                "collect.rows_per_op")
        out = {k: metrics[k] for k in keys if k in metrics}
        out["rows_written"] = sum(r["rows_written"] for r in self.records
                                  if r["round"] == 0)
        return out

    def layer_metrics(self, build_s, tss_s, gc_total, app_id, extra) -> dict:
        from tracing import LAYERS, attribute_jobs, parse_eventlog

        tr = self.tracer
        recs = self.records
        # counts from the counted round 0; times from the warm traced
        # rounds (1, 3, ...); per-kind times from the untraced rounds
        counted = [r for r in recs if r["round"] == 0]
        traced = [r for r in recs if r["traced"] and r["round"] > 0]
        counted_ids = {r["i"] for r in counted}
        traced_ids = {r["i"] for r in traced}
        n_counted = max(1, len(counted))
        n_traced = max(1, len(traced))
        m = {k: 0.0 for k in per_layer_units()}
        m["session.build_spark_s"] = median(build_s)
        m["session.tssession_s"] = median(tss_s)

        def call_p50(name):
            return median([s[6] - s[5] for s in tr.spans
                           if s[3] == name and s[2] in traced_ids])

        for key, name in [
            ("streaming.process_batch_s", "streaming.process_batch"),
            ("hypertable.insert_s", "hypertable.insert"),
            ("hypertable.upsert_s", "hypertable.upsert"),
            ("hypertable.delete_where_s", "hypertable.delete_where"),
            ("hypertable.read_s", "hypertable.read"),
            ("hypertable.last_point_s", "hypertable.last_point"),
            ("sqlapi.sql_s", "sqlapi.sql"),
            ("caggs.refresh_s", "caggs.refresh"),
            ("caggs.read_s", "caggs.read"),
            ("compression.compress_chunks_s", "compression.compress_chunks"),
            ("jobs.run_pending_s", "jobs.run_pending"),
            ("spark.plan_s", "spark.plan"),
            ("spark.exec_collect_s", "spark.exec_collect"),
        ]:
            m[key] = call_p50(name)
        cat_s = sum(s[6] - s[5] for s in tr.spans
                    if s[4] == "catalog" and s[2] in traced_ids)
        m["catalog.s_per_op"] = cat_s / n_traced
        m["catalog.calls_per_op"] = sum(tr.catalog_calls[i] for i in counted_ids) / n_counted
        if tr.compress_chunks:
            m["compression.chunks_per_tick"] = statistics.mean(tr.compress_chunks)
        ticks = [s for s in tr.spans if s[3] == "jobs.run_pending" and s[2] in counted_ids]
        runs = [s for s in tr.spans if s[3] == "jobs.run_job" and s[2] in counted_ids]
        m["jobs.runs"] = len(runs) / max(1, len(ticks))
        # Spark jobs by submission time inside each op's window
        log = os.path.join(self.work, "eventlog", app_id)
        jobs = parse_eventlog(log) if os.path.exists(log) else []
        by_op = attribute_jobs(jobs, {r["i"]: r["win"] for r in counted + traced})
        cj = [j for i in counted_ids for j in by_op.get(i, [])]
        m["spark.jobs_per_op"] = len(cj) / n_counted
        m["spark.tasks_per_op"] = sum(j["tasks"] for j in cj) / n_counted
        m["spark.shuffle_bytes_per_op"] = sum(j["shuffle_bytes"] for j in cj) / n_counted
        m["spark.spill_bytes"] = float(sum(j["spill_bytes"] for j in cj))
        m["spark.gc_s"] = gc_total
        files = sum(r["files"] for r in counted)
        wbytes = sum(r["bytes"] for r in counted)
        wrows = sum(r["rows_written"] for r in counted)
        m["storage.files_written_per_op"] = files / n_counted
        m["storage.bytes_written_per_row"] = wbytes / wrows if wrows else 0.0
        reads = [r for r in counted if r["cls"] == "read"]
        m["collect.rows_per_op"] = (
            sum(r["rows_out"] for r in reads) / len(reads) if reads else 0.0)
        selfs = tr.self_times(traced_ids)
        for layer in LAYERS:
            m[f"self.{layer}_s_per_op"] = selfs.get(layer, 0.0) / n_traced
        plain = [r for r in recs if not r["traced"]]
        for k in OP_KINDS:
            xs = [r["s"] for r in plain if r["kind"] == k]
            m[f"op.{k}.p50_s"] = median(xs)
            m[f"op.{k}.n"] = len(xs)
        # overhead on the untraced rounds' mix: each kind's mean traced
        # latency weighted by how often the kind ran untraced
        t_mean, u_n, u_busy = {}, defaultdict(int), 0.0
        for k in OP_KINDS:
            xs = [r["s"] for r in traced if r["kind"] == k]
            if xs:
                t_mean[k] = statistics.mean(xs)
        for r in plain:
            if r["kind"] in t_mean:
                u_n[r["kind"]] += 1
                u_busy += r["s"]
        t_busy = sum(t_mean[k] * n for k, n in u_n.items())
        if t_busy and u_busy:
            ops = sum(u_n.values())
            m["trace.ops_per_s_traced"] = ops / t_busy
            m["trace.ops_per_s_untraced"] = ops / u_busy
            m["trace.overhead"] = t_busy / u_busy - 1.0
        m.update(extra)
        return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "dashboard", "mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="op time to measure; the loop ends at a round boundary")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default",
                    help="data sizes; 'tiny' is for the self-test")
    ap.add_argument("--ops-out", default=None,
                    help="write the op sequence and metrics to this JSON file")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    missing = [p for p in ("timescaledb_spark/__init__.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    return Run(args).main()


if __name__ == "__main__":
    sys.exit(main())
