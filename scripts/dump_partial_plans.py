#!/usr/bin/env python
"""Dump and compare the physical plans of the cagg partial-family reads.

Usage:
    python scripts/dump_partial_plans.py dump OUTDIR
    python scripts/dump_partial_plans.py compare BEFORE_DIR AFTER_DIR

``dump`` writes one ``.explain("formatted")`` text per plan into OUTDIR:

- every family's ``*_at_grain`` read over the ``family_caggs`` fixture of
  ``tests/test_plans.py`` (materialized-only and realtime),
- the refresh query of that fixture's ``rollup_of`` child, and of a
  child over the families with their own merges,
- the query of every cagg oracle gate (``SPARK_GRAFT_SF_DIR``, same
  default as ``scripts/check_gates.py``).

``compare`` prints, per file, the count of Exchange, Window, Aggregate,
Join and Scan nodes and whether PushedFilters match, and whether the
two texts are identical once expression ids, plan ids and temp paths
are masked. It exits 1 when a node count or PushedFilters differ.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_gates import SF_DIR  # noqa: E402

GATES = (
    "q_cagg_candle q_cagg_counter q_cagg_gauge q_cagg_heartbeat "
    "q_cagg_heartbeat_interp q_cagg_hier_counter q_cagg_interp_duration "
    "q_cagg_interpolated q_cagg_interpolated_rate q_cagg_join q_cagg_maxn "
    "q_cagg_maxn_by q_cagg_monthly q_cagg_sketch q_cagg_stateagg "
    "q_cagg_stats q_cagg_stats2d q_cagg_tdigest_rank q_cagg_timeweight "
    "q_cagg_topn q_cagg_window q_candlestick q_ddsketch_rollup "
    "q_hll_rollup q_rollup q_sql_join_rollup q_time_weight"
).split()
NODES = {
    "Exchange": r"Exchange",
    "Window": r"Window",
    "Aggregate": r"\w*Aggregate",
    "Join": r"\w*Join",
    "Scan": r"Scan",
}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump(outdir: str) -> None:
    import test_plans as tp

    from timescaledb_spark.queries import queries
    from timescaledb_spark.session import build_spark

    os.makedirs(outdir, exist_ok=True)
    spark = build_spark(
        app_name="dump_partial_plans",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )

    class _Tmp:
        def mktemp(self, name):
            return tempfile.mkdtemp(prefix=name)

    cagg, child = tp.family_caggs.__wrapped__(spark, _Tmp())

    def put(name, df):
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(_explain(df))

    for fam, read in sorted(tp._FAMILY_READS.items()):
        put(f"read_{fam}_mat", read(cagg, False))
        put(f"read_{fam}_realtime", read(cagg, True))
    put("refresh_rollup_child", child._aggregate(child._source().read()))
    # the families whose rollup merge is their own (not fields/bounds)
    other = cagg.ts.create_cagg(
        "fam_d2", "_mat_fam", bucket_width="1 day", aggs={},
        group_by=["dev"],
        sketches={"sk_d": {"rollup_of": "sk"}},
        state_aggs={"sa_d": {"rollup_of": "sa"}},
        freq_aggs={"fq_d": {"rollup_of": "fq"}},
        maxn_aggs={"mx_d": {"rollup_of": "mx"}},
        tdigest_aggs={"td_d": {"rollup_of": "td"}},
    )
    put("refresh_rollup_child_own_merges",
        other._aggregate(other._source().read()))
    qs = queries()
    for name in GATES:
        put(name, qs[name](spark, SF_DIR))
    spark.stop()


def _mask(text: str) -> str:
    text = re.sub(r"#\d+L?", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"/tmp/[^\]/,]+", "/tmp/X", text)
    return text


def _tree(text: str) -> str:
    return text.split("\n\n", 1)[0]


def _counts(text: str) -> dict:
    names = re.findall(r"^[\s:+\-|]*(\w+)[^(\n]*\(\d+\)$", _tree(text), re.M)
    return {
        k: sum(bool(re.fullmatch(pat, n)) for n in names)
        for k, pat in NODES.items()
    }


def _pushed(text: str) -> list:
    return re.findall(r"PushedFilters: (\[.*?\])\n", _mask(text))


def compare(before: str, after: str) -> int:
    bad = 0
    for name in sorted(os.listdir(before)):
        if not name.endswith(".txt"):
            continue
        b = open(os.path.join(before, name)).read()
        pa = os.path.join(after, name)
        if not os.path.exists(pa):
            print(f"{name}: missing after")
            bad += 1
            continue
        a = open(pa).read()
        cb, ca = _counts(b), _counts(a)
        same_pf = _pushed(b) == _pushed(a)
        ident = _mask(b) == _mask(a)
        flag = "" if cb == ca and same_pf else "  <-- DIFFERS"
        bad += bool(flag)
        print(
            f"{name[:-4]}: identical={ident} pushed_filters_match="
            f"{same_pf} nodes_before={cb} nodes_after={ca}{flag}"
        )
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "dump":
        dump(sys.argv[2])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    else:
        print(__doc__)
        sys.exit(2)
