"""Determinism self-test for the engine benchmark.

Runs every workload at the tiny size: twice traced with one seed and once
untraced with another. Checks that one seed gives one op sequence and the
same exact counts, that another seed gives another sequence, and that the
output names every metric of BENCHMARK.json with its unit.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark JVM; the three workloads run side by side.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
WORKLOADS = ["ingest", "dashboard", "mixed"]
SEED, OTHER_SEED = 7, 8


def _run(tmp, workload, seed, trace, tag):
    out = os.path.join(tmp, f"{workload}-{tag}.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--size", "tiny", "--ops-out", out],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(out) as f:
        return result, json.load(f)


def _runs(tmp, workload):
    jobs = [(SEED, 1, "a"), (SEED, 1, "b"), (OTHER_SEED, 0, "c")]
    return [_run(tmp, workload, s, t, tag) for s, t, tag in jobs]


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    with ThreadPoolExecutor(max_workers=len(WORKLOADS)) as ex:
        futs = {w: ex.submit(_runs, tmp, w) for w in WORKLOADS}
        return {w: f.result() for w, f in futs.items()}


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_ops_and_counts(runs, workload):
    (ra, a), (rb, b), _ = runs[workload]
    assert ra["correct"] and rb["correct"]
    assert a["ops"] == b["ops"]
    assert a["counts"] == b["counts"]
    for key in ("catalog.calls_per_op", "storage.files_written_per_op",
                "spark.jobs_per_op", "rows_written"):
        assert key in a["counts"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_other_seed_other_ops(runs, workload):
    (_, a), _, (rc, c) = runs[workload]
    assert rc["correct"]
    assert a["ops"][: len(c["ops"])] != c["ops"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_named_with_unit(runs, spec, workload):
    (ra, _), _, (rc, _) = runs[workload]
    for entry, got in ((spec["end_to_end"], rc), (spec["per_layer"], ra)):
        want = {m["name"]: m["unit"] for m in entry}
        assert {k: v["unit"] for k, v in got["metrics"].items()} == want
