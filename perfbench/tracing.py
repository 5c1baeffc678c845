"""Per-layer tracing for the engine benchmark.

Spans are recorded by wrapping the public functions of each engine layer
from here, at run time; the package itself is not modified. A span has a
name, start, end, the span that caused it (its parent on the same thread)
and the id of the benchmark op it belongs to. Spans stay in memory and
are written out when the run ends.

Spark work below the package is attributed from the run's event log
(``spark.eventLog.dir``): each job goes to the op whose wall-clock window
contains its submission time. Job groups are not used, because
``compress_chunks`` submits its writes from a thread pool and job groups
are thread-local.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

# (layer, module path, attribute path) of every wrapped public function
TARGETS = [
    ("session", "timescaledb_spark.session", "TSSession.__init__"),
    ("streaming", "timescaledb_spark.streaming.ingest", "StreamIngest.process_batch"),
    ("hypertable", "timescaledb_spark.hypertable", "Hypertable.insert"),
    ("hypertable", "timescaledb_spark.hypertable", "Hypertable.upsert"),
    ("hypertable", "timescaledb_spark.hypertable", "Hypertable.delete_where"),
    ("hypertable", "timescaledb_spark.hypertable", "Hypertable.read"),
    ("hypertable", "timescaledb_spark.hypertable", "Hypertable.last_point"),
    ("sqlapi", "timescaledb_spark.session", "TSSession.sql"),
    ("caggs", "timescaledb_spark.caggs", "ContinuousAggregate.refresh"),
    ("caggs", "timescaledb_spark.caggs", "ContinuousAggregate.read"),
    ("compression", "timescaledb_spark.compression", "compress_chunks"),
    ("compression", "timescaledb_spark.compression", "compress_chunk"),
    ("jobs", "timescaledb_spark.jobs", "JobRegistry.run_pending"),
    ("jobs", "timescaledb_spark.jobs", "JobRegistry.run_job"),
] + [
    ("catalog", "timescaledb_spark.catalog", f"JsonlTable.{m}")
    for m in ("read", "find", "find_one", "append", "replace", "update",
              "delete", "update_in", "delete_in")
]

LAYERS = ["streaming", "hypertable", "catalog", "sqlapi", "caggs",
          "compression", "jobs", "spark", "op"]


class Tracer:
    def __init__(self):
        self.enabled = False
        self.op_id = None
        self.spans: list[tuple] = []  # (id, parent, op, name, layer, t0, t1, thread)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.catalog_calls = defaultdict(int)  # op id -> outermost calls
        self.compress_chunks = []  # chunks compressed per compress_chunks call

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            stack = tracer._stack()
            if layer == "catalog" and stack and stack[-1][1] == "catalog":
                return fn(*a, **kw)  # nested catalog call: counted once
            if layer == "catalog":  # compress_chunks' pool threads count too
                with tracer._lock:
                    tracer.catalog_calls[tracer.op_id] += 1
            with tracer.span(name, layer):
                out = fn(*a, **kw)
            if name == "compression.compress_chunks":
                tracer.compress_chunks.append(len(out))
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every target in place, once per process."""
        import importlib

        for layer, mod, attr in TARGETS:
            m = importlib.import_module(mod)
            owner_name, _, fname = attr.rpartition(".")
            owner = getattr(m, owner_name) if owner_name else m
            label = f"{layer}.{'tssession' if fname == '__init__' else fname}"
            setattr(owner, fname, self.wrap(layer, label, getattr(owner, fname)))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, layer, t0, t1, th in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                    "name": name, "layer": layer,
                                    "start": t0, "end": t1, "thread": th}) + "\n")

    def self_times(self, ops: set) -> dict:
        """Self seconds per layer over spans of ``ops``: a span's duration
        minus the part its child spans cover."""
        child = defaultdict(float)
        for sid, parent, op, name, layer, t0, t1, th in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out = defaultdict(float)
        for sid, parent, op, name, layer, t0, t1, th in self.spans:
            if op in ops:
                out[layer] += max(0.0, (t1 - t0) - child.get(sid, 0.0))
        return out


class _Span:
    __slots__ = ("tr", "name", "layer", "sid", "parent", "t0")

    def __init__(self, tr: Tracer, name: str, layer: str):
        self.tr, self.name, self.layer = tr, name, layer

    def __enter__(self):
        tr = self.tr
        with tr._lock:
            tr._next += 1
            self.sid = tr._next
        stack = tr._stack()
        self.parent = stack[-1][0] if stack else None
        stack.append((self.sid, self.layer))
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        tr = self.tr
        tr._stack().pop()
        rec = (self.sid, self.parent, tr.op_id, self.name, self.layer, self.t0,
               t1, threading.get_ident())
        with tr._lock:
            tr.spans.append(rec)
        return False


def traced_collect(tracer: Tracer):
    """``collect(df)`` that times forcing the physical plan apart from
    execution plus collection."""

    def collect(df):
        with tracer.span("spark.plan", "spark"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec_collect", "spark"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    return collect


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far, from the collector MXBeans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def parse_eventlog(path: str) -> list[dict]:
    """Jobs from a Spark JSON event log: submission time (epoch ms), task
    count, shuffle bytes written and bytes spilled."""
    jobs, stage_job = {}, {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit_ms": ev["Submission Time"], "tasks": 0,
                             "shuffle_bytes": 0, "spill_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                j["shuffle_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
                j["spill_bytes"] += int(tm.get("Memory Bytes Spilled", 0)) + int(
                    tm.get("Disk Bytes Spilled", 0))
    return list(jobs.values())


def attribute_jobs(jobs: list[dict], windows: dict) -> dict:
    """op id -> list of jobs submitted inside that op's [start, end] window
    (epoch ms)."""
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    out = defaultdict(list)
    for j in jobs:
        t = j["submit_ms"]
        for op, (lo, hi) in ordered:
            if lo <= t <= hi:
                out[op].append(j)
                break
    return out


def snapshot_files(root: str) -> dict:
    """{path: (mtime_ns, size)} of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.startswith(".") or fn.endswith(".crc"):
                continue
            p = os.path.join(d, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def files_written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or rewritten between two snapshots."""
    n = b = 0
    for p, sig in after.items():
        if before.get(p) != sig:
            n += 1
            b += sig[1]
    return n, b
