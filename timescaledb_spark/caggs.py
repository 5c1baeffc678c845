"""Continuous aggregates: incrementally-refreshed materialized aggregates
with the reference's invalidation-log / threshold / watermark protocol.

Reference: ``tsl/src/continuous_aggs/`` — protocol per its README:

- creation seeds the materialization invalidation log with the entire
  range (``create.c``; README "initial state ... invalidates the entire
  range"), so never-materialized regions stay dirty until refreshed.
- DML appends one (lowest, greatest) modified range per batch to the
  hypertable invalidation log, suppressed above the invalidation
  threshold (``insert.c:208``, ``invalidation_threshold.c``) — implemented
  in ``Hypertable._capture_invalidation``.
- ``refresh(start, end)`` is two-phase (``refresh.c:735``):
  txn 1 moves the threshold to the window end; txn 2 moves hypertable-log
  entries into every cagg's materialization log
  (``invalidation_process_hypertable_log``), cuts the refreshed cagg's log
  against the bucket-aligned window (``invalidation.c`` range algebra),
  merges overlapping dirty ranges, and per range deletes + re-inserts the
  materialized rows (``materialize.c:442-489``), then advances the
  watermark.
- Since v2.7 the mat table stores FINALIZED aggregate values
  (``sql/updates/2.24.0--2.25.0.sql:193-201`` removed partials), so
  refresh is plain re-aggregation of dirty ranges — which maps exactly to
  Spark aggregation + chunk-wise rewrite.
- realtime reads are ``mat WHERE bucket < watermark UNION ALL
  agg(raw WHERE time >= watermark)`` (``common.c:1745 build_union_query``).

Scale: refresh cost is O(dirty range), not O(table) — the dirty ranges
prune the raw-side scan through chunk exclusion, and the mat-side rewrite
only touches overlapping mat chunks.
"""

from __future__ import annotations

import math
import os
import time as _time
from datetime import datetime, timezone as _tz
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame, functions as F

from .functions.time import DEFAULT_ORIGIN_US, parse_interval
from .hypertable import Hypertable, _to_internal

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1


def _struct_has_field(df: DataFrame, col: str, field: str) -> bool:
    """True when ``df[col]`` is a struct carrying ``field``.

    Serves consult this so states materialized BEFORE a field was
    added (counter/gauge ``num_changes``, rounds 13/14) keep working:
    absent field → the accessor serves NULL instead of failing at
    analysis time (no forced drop-and-recreate on upgrade)."""
    from pyspark.sql.types import StructType

    try:
        dt = df.schema[col].dataType
    except Exception:
        return False
    return isinstance(dt, StructType) and field in dt.names


def _grain_floor(us, width: int, origin_us: int):
    """Origin-aligned bucket floor on an int64-µs column — the column
    analog of ``time_bucket``'s fixed-width formula
    (``functions/time.py:_bucket_us_expr``). Every at-grain accessor
    must bucket with the CAGG'S origin (2000-01-03 for timestamps, 0
    for integer time), never epoch ``DIV``: DIV mislabels widths whose
    grid is not epoch-anchored (weeks: Thursday- vs Monday-aligned)
    and truncates toward zero for pre-epoch timestamps, and — worse —
    puts target edges strictly inside parent bucket spans, breaking
    the partial accessors' exactness premise."""
    return us - F.pmod(
        us - F.lit(int(origin_us)).cast("long"),
        F.lit(int(width)).cast("long"),
    )


def _grain_floor_sql(us: str, width: int, origin_us: int) -> str:
    """SQL-string form of :func:`_grain_floor` (round 17, see _over)."""
    return (
        f"({us} - pmod({us} - CAST({int(origin_us)} AS BIGINT), "
        f"CAST({int(width)} AS BIGINT)))"
    )


def _validate_window_fns(window_fns: dict, bucket_alias: str) -> None:
    """Guarded window-function support, matching the reference's
    validation behind ``timescaledb.enable_cagg_window_functions``
    (``tsl/src/continuous_aggs/common.c:672``): a partition that spans
    buckets gives wrong results after a partial refresh, because each
    refresh recomputes windows only over its dirty bucket ranges.
    Spark window frames never cross partition boundaries, so requiring
    every OVER clause to PARTITION BY the bucket column is exactly the
    bucket-locality guarantee — ORDER BY and ROWS/RANGE frames are then
    free within the bucket."""
    import re

    def _blank_literals(expr: str) -> str:
        """Replace single-quoted SQL literals ('' escape included) with
        spaces of equal length, so neither the OVER finder nor the paren
        scan trips on quoted parens/keywords; offsets are preserved."""
        out, i, n = list(expr), 0, len(expr)
        while i < n:
            if expr[i] == "'":
                j = i + 1
                while j < n:
                    if expr[j] == "'":
                        if j + 1 < n and expr[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                for k in range(i, min(j + 1, n)):
                    out[k] = " "
                i = j + 1
            else:
                i += 1
        return "".join(out)

    def _over_bodies(expr: str) -> list[str]:
        """Balanced-paren extraction of every OVER (...) body — a plain
        regex can neither span nested parens (ORDER BY coalesce(n, 0))
        nor avoid false-matching identifiers ending in 'over'; quoted
        literals are blanked first so "instr(s, '(')" can't unbalance
        the scan."""
        blanked = _blank_literals(expr)
        out = []
        for m in re.finditer(r"\bover\s*\(", blanked, re.I):
            depth, i = 1, m.end()
            while i < len(blanked) and depth:
                if blanked[i] == "(":
                    depth += 1
                elif blanked[i] == ")":
                    depth -= 1
                i += 1
            if depth == 0:
                # body taken from the BLANKED text: the check below only
                # reads bare identifiers, never literal contents
                out.append(blanked[m.end() : i - 1])
        return out

    for col, expr in window_fns.items():
        overs = _over_bodies(expr)
        if not overs:
            raise ValueError(
                f"window_fns[{col!r}] has no OVER clause: {expr!r}"
            )
        for ov in overs:
            pm = re.search(
                r"partition\s+by\s+(.+?)(?:\border\s+by\b|\brows\b|"
                r"\brange\b|\bgroups\b|$)",
                ov,
                re.I | re.S,
            )
            cols = (
                [
                    c.strip().strip('"').lower()
                    for c in pm.group(1).split(",")
                    if c.strip()
                ]
                if pm
                else []
            )
            if bucket_alias.lower() not in cols:
                raise ValueError(
                    f"window_fns[{col!r}]: the OVER clause must PARTITION "
                    f"BY the bucket column {bucket_alias!r} — a window "
                    f"spanning buckets is recomputed per dirty range on "
                    f"refresh and would give wrong results "
                    f"(tsl/src/continuous_aggs/common.c:672, GUC "
                    f"enable_cagg_window_functions)"
                )


def _pbucket(v: int, w: int, origin: int) -> int:
    # clamp to avoid int64 wraparound at the infinite sentinels
    if v <= INT64_MIN + w:
        return INT64_MIN
    if v >= INT64_MAX - w:
        return v
    return v - ((v - origin) % w + w) % w


def _q(name: str) -> str:
    """Backtick-quote a column name for SQL-string expressions."""
    return f"`{name}`"


def _over(partition: Sequence[str], order: Sequence[str]) -> str:
    """``PARTITION BY … ORDER BY …`` clause text for the SQL-string
    expression builders (round 17: the state/serve expressions are
    built as SQL strings — one py4j parse each — instead of thousands
    of Column round trips per cagg serve; the parsed trees are
    unchanged)."""
    p = (
        "PARTITION BY " + ", ".join(_q(c) for c in partition) + " "
        if partition
        else ""
    )
    return p + "ORDER BY " + ", ".join(order)


# ------------------------------------------------------------------
# Partial families: the mergeable toolkit states a cagg can store.
#
# Each family is a state (built from raw rows per bucket), a merge
# (states of adjacent buckets → one state) and a finalize (merged
# state → accessor values). One merge serves both hierarchical
# ``rollup_of`` children (packed back into a state struct) and the
# ``*_at_grain`` reads (projected through ``finalize``). Fieldwise
# merges are declared as ``fields``; ordered ones (one series, sorted
# by parent bucket) add ``bounds``: per-row boundary terms computed
# from the last non-NULL earlier state. The merges are SQL strings
# (one py4j parse each), and NULL states are masked so a child group
# whose parent states are all NULL keeps its row with a NULL state.
# ------------------------------------------------------------------

# state fields added after states were first materialized: an older
# stored state lacks them and the merge serves NULL for them
_LATE_FIELDS = ("num_changes",)
_SPAN_S = "(CAST((_f_last_us - _f_first_us) AS DOUBLE) / 1000000.0D)"


def _same(col: str, spec: dict, *_parent) -> dict:
    return spec


def _liveness_us(v) -> int:
    return int(v) if isinstance(v, int) else parse_interval(v).us


@dataclass(frozen=True)
class PartialFamily:
    """One cagg partial family (see the section comment above).

    ``normalize(col, spec)`` applies defaults and range checks;
    ``inherit(col, spec, parent_spec)`` is the ``rollup_of`` rule for
    what a child takes from (or must agree with) its parent. A spec
    carrying the ``variant`` key (``"y"`` for 2-D stats) is served by
    the variant record, which shares the catalog key."""

    key: str  # catalog key and create() kwarg
    label: str  # name in messages
    required: str  # spec key a non-rollup spec must carry
    state: str  # raw-side state builder (ContinuousAggregate method)
    exprs: tuple = ("value",)  # spec keys holding SQL expressions
    sql_fns: tuple = ()  # CREATE MATERIALIZED VIEW aggregate names
    normalize: Callable = _same
    inherit: Callable = _same
    ordered: bool = False  # merge within one series: full group_by
    fields: tuple = ()  # (state field, merge aggregate SQL)
    bounds: Optional[Callable] = None  # (prev, spec) -> boundary cols
    custom_merge: Optional[Callable] = None  # (d, keys, spec, col)
    finalize: tuple = ()  # accessor SQL over _f_<field>; {spec} keys
    serve: Optional[str] = None  # at-grain read method
    accessors: dict = field(default_factory=dict)  # toolkit fn -> col
    interp: dict = field(default_factory=dict)  # interpolated fns
    interp_serve: Optional[str] = None
    srf: Optional[tuple] = None  # (fn, method, served columns)
    quantiles: Optional[tuple] = None  # (quantile method, rank method)
    variant: Optional[tuple] = None  # (spec key, PartialFamily)

    def shape(self, spec: dict) -> "PartialFamily":
        if self.variant and self.variant[0] in spec:
            return self.variant[1]
        return self

    def shapes(self) -> tuple:
        return (self,) + ((self.variant[1],) if self.variant else ())

    def merge_fields(
        self, d: DataFrame, keys: Sequence[str], spec: dict
    ) -> DataFrame:
        """``(keys…, _f_nn, _f_<field>…)`` from ``d(keys…, _src,
        _st)``: ``_f_nn`` counts the non-NULL states merged."""
        if self.bounds is not None:
            wo = _over(keys, ["_src ASC"])

            def prev(f: str) -> str:
                return (
                    f"last(CASE WHEN _st IS NOT NULL THEN _st.{f} END, "
                    f"true) OVER ({wo} ROWS BETWEEN UNBOUNDED PRECEDING "
                    f"AND 1 PRECEDING)"
                )

            d = d.selectExpr(
                *[_q(k) for k in keys],
                "_st",
                "CASE WHEN _st IS NOT NULL THEN _src END AS _k",
                *self.bounds(prev, spec),
            )
        late = [
            f
            for f, _ in self.fields
            if f in _LATE_FIELDS and not _struct_has_field(d, "_st", f)
        ]
        return d.groupBy(*keys).agg(
            F.expr("count(_st)").alias("_f_nn"),
            *[
                (
                    F.lit(None).cast("long") if f in late else F.expr(a)
                ).alias(f"_f_{f}")
                for f, a in self.fields
            ],
        )

    def merge(
        self, d: DataFrame, keys: Sequence[str], spec: dict, col: str
    ) -> DataFrame:
        """Merged STATE per ``keys`` as column ``col`` — the
        ``rollup_of`` child's state over its parent's states."""
        if self.custom_merge is not None:
            return self.custom_merge(d, keys, spec, col)
        packed = ", ".join(f"'{f}', _f_{f}" for f, _ in self.fields)
        return self.merge_fields(d, keys, spec).selectExpr(
            *[_q(k) for k in keys],
            f"CASE WHEN _f_nn > 0 THEN named_struct({packed}) END "
            f"AS {_q(col)}",
        )


def _counter_bounds(p, spec) -> list:
    # one reset-adjusted boundary step per adjacent pair of states
    step = f"(_st.first_val - {p('last_val')})"
    return [
        f"CASE WHEN _st IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN {p('last_val')} IS NULL THEN 0.0D "
        f"WHEN {step} < 0 THEN _st.first_val ELSE {step} END AS _binc",
        f"CASE WHEN _st IS NOT NULL THEN CAST(({step} < 0) AS INT) END "
        f"AS _breset",
        f"CASE WHEN _st IS NOT NULL AND {p('last_val')} IS NOT NULL THEN "
        f"CAST((_st.first_val != {p('last_val')}) AS INT) END AS _bchange",
    ]


def _gauge_bounds(p, spec) -> list:
    # a single-sample state's last step is the boundary step into it
    return [
        f"coalesce(_st.last_step, _st.first_val - {p('last_val')}) AS _cs",
        f"coalesce(_st.last_prev_us, {p('last_us')}) AS _cp",
        f"CASE WHEN _st IS NOT NULL AND {p('last_val')} IS NOT NULL THEN "
        f"CAST((_st.first_val != {p('last_val')}) AS INT) END AS _bchange",
    ]


def _timeweight_bounds(p, spec) -> list:
    # one interpolated segment from the earlier state's last sample
    dt = f"CAST((_st.first_us - {p('last_us')}) AS DOUBLE)"
    if str(spec.get("method", "locf")).lower() == "linear":
        seg = f"({p('last_val')} + _st.first_val) / 2.0D * {dt}"
    else:
        seg = f"{p('last_val')} * {dt}"
    return [
        f"CASE WHEN _st IS NOT NULL THEN coalesce({seg}, 0.0D) END "
        f"AS _bseg"
    ]


def _heartbeat_bounds(p, spec) -> list:
    # the earlier state's last beat counted its full liveness L; merged
    # it covers min(gap, L), and a gap <= L joins the two live ranges
    liv = int(spec["liveness_us"])
    gap = f"(_st.first_us - {p('last_us')})"
    return [
        f"coalesce(CASE WHEN {p('last_us')} IS NOT NULL THEN "
        f"{liv} - least({gap}, {liv}) END, 0) AS _corr",
        f"CASE WHEN {p('last_us')} IS NOT NULL AND {gap} <= {liv} "
        f"THEN 1 ELSE 0 END AS _join",
    ]


def _merge_sketch(d, keys, spec, col) -> DataFrame:
    """DDSketch bucket counts add losslessly (Masson VLDB'19 §2.3), so
    the child state is bit-identical to one built from the raw rows.
    explode_outer: a NULL parent state yields a NULL ``_sb`` row, so
    the group survives with a NULL state instead of vanishing."""
    per_bucket = (
        d.select(*keys, F.explode_outer(F.col("_st")).alias("_sb", "_c"))
        .groupBy(*keys, "_sb")
        .agg(F.sum("_c").alias("_cnt"))
    )
    ent = F.when(F.col("_sb").isNotNull(), F.struct("_sb", "_cnt"))
    return per_bucket.groupBy(*keys).agg(
        F.when(
            F.count("_sb") > 0,
            F.map_from_entries(F.array_sort(F.collect_list(ent))),
        ).alias(col)
    )


def _join_keys(left: DataFrame, right: DataFrame, keys, how="inner"):
    """Null-safe 1:1 join of two aggregates over the same keys, sides
    aliased ``_jl``/``_jr`` (both descend from one lineage)."""
    cond = None
    for k in keys:
        c = F.col(f"_jl.{k}").eqNullSafe(F.col(f"_jr.{k}"))
        cond = c if cond is None else cond & c
    return left.alias("_jl").join(right.alias("_jr"), cond, how)


def _mg_trim_exprs(ents_col: str, cap: int):
    """Misra–Gries trim of an exact ``array<struct(c, v)>`` count
    list to ``capacity`` entries: sort by (count desc, value asc),
    subtract the (capacity+1)-th count from the survivors, drop the
    non-positive remainder (the offline SpaceSaving construction;
    error bound per value ≤ N/(capacity+1), and summed lower bounds
    stay mergeable — Agarwal et al., "Mergeable Summaries",
    PODS'12). When a bucket's distinct count ≤ capacity the cut is
    0 and the stored counts are EXACT — the any-grain exactness
    contract the q_cagg_topn gate checks. Returns (sorted_expr,
    counts_map_expr over the sorted alias ``_f_se``)."""
    sorted_expr = F.expr(
        f"array_sort({ents_col}, (a, b) -> CASE "
        f"WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 "
        f"WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1 ELSE 0 END)"
    )
    cut = (
        f"IF(size(_f_se) > {cap}, "
        f"element_at(_f_se, {cap + 1}).c, CAST(0 AS BIGINT))"
    )
    counts = F.expr(
        f"map_from_entries(filter(transform(slice(_f_se, 1, {cap}),"
        f" e -> named_struct('v', e.v, 'c', e.c - {cut})),"
        f" e -> e.c > 0))"
    )
    return sorted_expr, counts


def _merge_freq(d, keys, spec, col) -> DataFrame:
    """Child frequency state: per-value lower bounds ADD across the
    parent's states (Misra–Gries union), then one re-trim to the child
    capacity. The collect feeding the re-trim is capacity-bounded: a
    rank window over the summed counts keeps the ``capacity + 1``
    heaviest values (all the trim consults), in the trim's own total
    order (count desc, value asc) — so a coarse child never builds a
    parents-per-child × capacity list."""
    from pyspark.sql import Window

    cap = int(spec.get("capacity", 256))
    st = F.col("_st")
    totals = d.groupBy(*keys).agg(
        F.count("_st").alias("_f_nn"),
        F.sum(st["n"]).alias("_f_n"),
    )
    wrank = Window.partitionBy(*keys).orderBy(
        F.col("_c").desc(), F.col("_v").asc_nulls_last()
    )
    summed = (
        d.select(*keys, F.explode(st["counts"]).alias("_v", "_c"))
        .groupBy(*keys, "_v")
        .agg(F.sum("_c").alias("_c"))
        .withColumn("_rk", F.row_number().over(wrank))
        .filter(F.col("_rk") <= cap + 1)
        .groupBy(*keys)
        .agg(
            F.collect_list(
                F.struct(F.col("_c").alias("c"), F.col("_v").alias("v"))
            ).alias("_f_ents")
        )
    )
    j = _join_keys(totals, summed, keys, "left").select(
        "_jl.*", F.col("_jr._f_ents").alias("_f_ents")
    )
    # a NULL _f_ents (every parent state NULL) flows through the trim
    # as NULL and is masked by the guard below
    sorted_expr, counts = _mg_trim_exprs("_f_ents", cap)
    j = j.select(*keys, "_f_n", "_f_nn", sorted_expr.alias("_f_se"))
    return j.select(
        *keys,
        F.when(
            (F.col("_f_nn") > 0) & F.col("_f_n").isNotNull(),
            F.struct(F.col("_f_n").alias("n"), counts.alias("counts")),
        ).alias(col),
    )


def _merge_maxn(d, keys, spec, col) -> DataFrame:
    """Child candidate list: the top-n of the union is the top-n of
    the concatenated parent lists, selected by a ``_rk <= n`` rank
    window over the exploded candidates (never a flatten-collect).
    Equal values are interchangeable, so the rank tie order never
    changes the kept multiset; with a payload the entries are stored in
    rank order (a struct sort would break the *_nulls_last payload
    order on ascending ties)."""
    from pyspark.sql import Window

    keep = int(spec.get("n", 5))
    desc = bool(spec.get("desc", True))
    has_by = spec.get("by") is not None
    st = F.col("_st")
    totals = d.groupBy(*keys).agg(
        F.count("_st").alias("_f_nn"),
        F.sum(st["n"]).alias("_f_n"),
    )
    if has_by:
        ex = d.select(
            *keys,
            F.explode(
                F.arrays_zip(st["vals"].alias("v"), st["data"].alias("d"))
            ).alias("_e"),
        ).select(*keys, F.col("_e.v").alias("_v"), F.col("_e.d").alias("_d"))
        order = (
            [F.col("_v").desc(), F.col("_d").desc_nulls_last()]
            if desc
            else [F.col("_v").asc(), F.col("_d").asc_nulls_last()]
        )
        ent = F.struct(
            F.col("_rk").alias("r"),
            F.col("_v").alias("v"),
            F.col("_d").alias("d"),
        )
        packed = F.sort_array(F.collect_list(ent), asc=True)
    else:
        ex = d.select(*keys, F.explode(st["vals"]).alias("_v"))
        order = [F.col("_v").desc() if desc else F.col("_v").asc()]
        packed = F.sort_array(F.collect_list("_v"), asc=not desc)
    w = Window.partitionBy(*keys).orderBy(*order)
    cand = (
        ex.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= keep)
        .groupBy(*keys)
        .agg(packed.alias("_f_c"))
    )
    j = _join_keys(totals, cand, keys, "left").select(
        "_jl.*", F.col("_jr._f_c").alias("_f_c")
    )
    if has_by:
        fields = [
            F.expr("transform(_f_c, e -> e.v)").alias("vals"),
            F.expr("transform(_f_c, e -> e.d)").alias("data"),
        ]
    else:
        fields = [F.col("_f_c").alias("vals")]
    return j.select(
        *keys,
        F.when(
            (F.col("_f_nn") > 0) & (F.col("_f_n") > 0),
            F.struct(F.col("_f_n").alias("n"), *fields),
        ).alias(col),
    )


def _merge_stateagg(d, keys, spec, col) -> DataFrame:
    """Child state-agg state: duration maps add per state, each
    boundary gap lands on the earlier parent's last state (LOCF),
    bookends merge by earliest/latest parent."""
    from pyspark.sql import Window

    st = F.col("_st")
    w = Window.partitionBy(*keys).orderBy(F.col("_src").asc())
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    prev_last_us = F.last(
        F.when(st.isNotNull(), st["last_us"]), ignorenulls=True
    ).over(wp)
    prev_last_state = F.last(
        F.when(st.isNotNull(), st["last_state"]), ignorenulls=True
    ).over(wp)
    gap = st["first_us"] - prev_last_us
    d = d.select(
        *keys,
        "_st",
        F.when(st.isNotNull(), prev_last_state).alias("_bstate"),
        F.when(st.isNotNull() & (gap > 0), gap).alias("_bgap"),
        F.when(st.isNotNull(), F.col("_src")).alias("_k"),
    )
    per_state = d.select(
        *keys, F.explode_outer(st["durations"]).alias("_s", "_dn")
    ).select(
        *keys,
        "_s",
        F.col("_dn")["d"].alias("_d"),
        F.col("_dn")["n"].alias("_n"),
    )
    bnd = d.filter(
        F.col("_bstate").isNotNull() & F.col("_bgap").isNotNull()
    ).select(
        *keys,
        F.col("_bstate").alias("_s"),
        F.col("_bgap").alias("_d"),
        F.lit(0).cast("long").alias("_n"),
    )
    merged = (
        per_state.unionByName(bnd)
        .groupBy(*keys, "_s")
        .agg(F.sum("_d").alias("_d"), F.sum("_n").alias("_n"))
    )
    ent = F.when(
        F.col("_s").isNotNull(),
        F.struct(
            F.col("_s"),
            F.struct(F.col("_d").alias("d"), F.col("_n").alias("n")).alias(
                "dn"
            ),
        ),
    )
    maps = merged.groupBy(*keys).agg(F.collect_list(ent).alias("_f_ents"))
    books = d.groupBy(*keys).agg(
        F.count("_st").alias("_f_nn"),
        F.sum(st["n"]).alias("_f_n"),
        F.min(st["first_us"]).alias("_f_first_us"),
        F.max(st["last_us"]).alias("_f_last_us"),
        F.min_by(st["first_state"], F.col("_k")).alias("_f_first_state"),
        F.max_by(st["last_state"], F.col("_k")).alias("_f_last_state"),
    )
    joined = _join_keys(books, maps, keys).select(
        "_jl.*", F.col("_jr._f_ents")
    )
    return joined.select(
        *keys,
        F.when(
            F.col("_f_nn") > 0,
            F.struct(
                F.col("_f_n").alias("n"),
                F.col("_f_first_us").alias("first_us"),
                F.col("_f_last_us").alias("last_us"),
                F.col("_f_first_state").alias("first_state"),
                F.col("_f_last_state").alias("last_state"),
                F.map_from_entries(F.array_sort(F.col("_f_ents"))).alias(
                    "durations"
                ),
            ),
        ).alias(col),
    )


def _merge_tdigest(d, keys, spec, col) -> DataFrame:
    from .functions.tdigest import merge_states

    return merge_states(
        d.select(*keys, F.col("_st").alias("_tdp")),
        list(keys),
        "_tdp",
        int(spec.get("delta", 200)),
        col,
    )


def _sketch_normalize(col, spec):
    from .functions.ddsketch import _gamma

    _gamma(float(spec.get("alpha", 0.01)))  # validates the range
    return spec


def _sketch_inherit(col, spec, pspec):
    # quantile extraction must use the parent's gamma
    spec.setdefault("alpha", pspec.get("alpha", 0.01))
    return spec


def _stats_inherit(col, spec, pspec):
    # 2-D-ness is a property of the stored state shape: the child
    # merges whatever the parent stores
    if "y" in pspec:
        spec["y"] = pspec["y"]
    elif "y" in spec:
        raise ValueError(
            f"rollup_of={col!r}: parent stats column "
            f"{spec['rollup_of']!r} is 1-D — a 2-D child cannot be built "
            f"from 1-D moments (recreate the parent with "
            f"stats_aggs={{..., 'y': ...}})"
        )
    return spec


def _timeweight_normalize(col, spec):
    if str(spec.get("method", "locf")).lower() not in ("locf", "linear"):
        raise ValueError(
            f"time_weight {col!r}: method must be 'locf' or 'linear', "
            f"got {spec.get('method')!r}"
        )
    return spec


def _timeweight_inherit(col, spec, pspec):
    spec.setdefault("method", pspec.get("method", "locf"))
    return spec


def _freq_normalize(col, spec):
    if int(spec.get("capacity", 256)) <= 0:
        raise ValueError(f"freq_agg {col!r}: capacity must be positive")
    return spec


def _freq_inherit(col, spec, pspec):
    spec.setdefault("capacity", pspec.get("capacity", 256))
    # a topn_agg parent's declared n is what a bare topn(rollup(col))
    # serves; the child keeps it
    if "n" in pspec:
        spec.setdefault("n", pspec["n"])
    return spec


def _maxn_normalize(col, spec):
    if int(spec.get("n", 5)) <= 0:
        raise ValueError(f"max_n {col!r}: n must be positive")
    return spec


def _maxn_inherit(col, spec, pspec):
    # list length, direction and payload presence are state properties
    spec.setdefault("n", pspec.get("n", 5))
    spec.setdefault("desc", pspec.get("desc", True))
    if pspec.get("by") is not None:
        spec.setdefault("by", pspec["by"])
    if int(spec["n"]) > int(pspec.get("n", 5)):
        raise ValueError(
            f"rollup_of={col!r}: child n ({spec['n']}) cannot exceed the "
            f"parent's ({pspec.get('n', 5)}) — the parent states only "
            f"keep that many values"
        )
    if bool(spec["desc"]) != bool(pspec.get("desc", True)):
        raise ValueError(
            f"rollup_of={col!r}: child direction must match the "
            f"parent's (desc={pspec.get('desc', True)})"
        )
    return spec


def _heartbeat_normalize(col, spec):
    liv = spec["liveness"]
    if _liveness_us(liv) <= 0 or (
        not isinstance(liv, int) and parse_interval(liv).months
    ):
        raise ValueError(
            f"heartbeat {col!r}: liveness must be a positive fixed-width "
            f"interval"
        )
    return {**spec, "liveness_us": _liveness_us(liv)}


def _heartbeat_inherit(col, spec, pspec):
    # stored live times depend on the liveness interval; compare
    # normalized microseconds ('5 minutes' == '300 seconds')
    p_liv = pspec.get("liveness")
    if "liveness" in spec and _liveness_us(spec["liveness"]) != _liveness_us(
        p_liv
    ):
        raise ValueError(
            f"rollup_of={col!r}: child liveness must match the parent's "
            f"({p_liv!r})"
        )
    spec["liveness"] = p_liv
    return spec


def _tdigest_normalize(col, spec):
    if int(spec.get("delta", 200)) < 2:
        raise ValueError(
            f"tdigest {col!r}: delta (compression) must be >= 2"
        )
    return spec


def _tdigest_inherit(col, spec, pspec):
    # a child re-bins the parent's centroids: it cannot hold more
    spec.setdefault("delta", pspec.get("delta", 200))
    if int(spec["delta"]) > int(pspec.get("delta", 200)):
        raise ValueError(
            f"rollup_of={col!r}: child delta ({spec['delta']}) cannot "
            f"exceed the parent's ({pspec.get('delta', 200)}) — the "
            f"parent states only keep that many centroids"
        )
    return spec


_BOOKENDS = (
    ("n", "sum(_st.n)"),
    ("first_us", "min(_st.first_us)"),
    ("last_us", "max(_st.last_us)"),
)
_ORDERED_VALS = _BOOKENDS + (
    ("first_val", "min_by(_st.first_val, _k)"),
    ("last_val", "max_by(_st.last_val, _k)"),
)
_TIMES = ("_f_first_us AS first_us", "_f_last_us AS last_us")
_STATS_VAR = (
    "CASE WHEN _f_n > 1 THEN greatest((_f_s2 - _f_s * _f_s / _f_n) / "
    "(_f_n - 1), 0.0D) END"
)
_CXX = "greatest(_f_sxx - _f_sx * _f_sx / _f_n, 0.0D)"
_CYY = "greatest(_f_syy - _f_sy * _f_sy / _f_n, 0.0D)"
_CXY = "(_f_sxy - _f_sx * _f_sy / _f_n)"
_SLOPE = f"({_CXY} / nullif({_CXX}, 0.0D))"

_SKETCHES = PartialFamily(
    "sketches", "sketch", "value", "_sketch_state",
    sql_fns=("percentile_agg", "uddsketch"),
    normalize=_sketch_normalize, inherit=_sketch_inherit,
    custom_merge=_merge_sketch, quantiles=("quantiles", "rank"),
)
_COUNTERS = PartialFamily(
    "counters", "counter", "value", "_counter_state",
    sql_fns=("counter_agg",), ordered=True, bounds=_counter_bounds,
    fields=_ORDERED_VALS + (
        ("delta", "sum(_st.delta) + coalesce(sum(_binc), 0.0D)"),
        ("num_resets", "sum(_st.num_resets) + coalesce(sum(_breset), 0)"),
        ("num_changes",
         "sum(_st.num_changes) + coalesce(sum(_bchange), 0)"),
    ),
    finalize=(
        "_f_n AS n", "_f_delta AS delta",
        f"CASE WHEN {_SPAN_S} > 0 THEN _f_delta / {_SPAN_S} END AS rate",
        "_f_num_resets AS num_resets", "_f_num_changes AS num_changes",
        *_TIMES, "_f_first_val AS first_val", "_f_last_val AS last_val",
    ),
    serve="counter_at_grain",
    accessors={
        "delta": "delta", "rate": "rate", "num_resets": "num_resets",
        "num_changes": "num_changes", "num_vals": "n",
        "first_val": "first_val", "last_val": "last_val",
        "first_time": "first_us", "last_time": "last_us",
    },
    interp={"interpolated_delta": "delta", "interpolated_rate": "rate"},
    interp_serve="interpolated_delta_at_grain",
)
_GAUGES = PartialFamily(
    "gauges", "gauge", "value", "_gauge_state",
    sql_fns=("gauge_agg",), ordered=True, bounds=_gauge_bounds,
    fields=_ORDERED_VALS + (
        ("last_step", "max_by(_cs, _k)"),
        ("last_prev_us", "max_by(_cp, _k)"),
        ("num_changes",
         "sum(_st.num_changes) + coalesce(sum(_bchange), 0)"),
    ),
    finalize=(
        "_f_n AS n", "_f_last_val - _f_first_val AS delta",
        f"CASE WHEN {_SPAN_S} > 0 THEN (_f_last_val - _f_first_val) / "
        f"{_SPAN_S} END AS rate",
        "_f_last_step AS idelta",
        "CASE WHEN _f_last_prev_us IS NOT NULL AND "
        "(_f_last_us - _f_last_prev_us) > 0 THEN _f_last_step / "
        "(CAST((_f_last_us - _f_last_prev_us) AS DOUBLE) / 1000000.0D) "
        "END AS irate",
        *_TIMES, "_f_first_val AS first_val", "_f_last_val AS last_val",
        "_f_num_changes AS num_changes",
    ),
    serve="gauge_at_grain",
    accessors={
        "delta": "delta", "rate": "rate", "idelta": "idelta",
        "irate": "irate", "num_changes": "num_changes", "num_vals": "n",
        "first_val": "first_val", "last_val": "last_val",
        "first_time": "first_us", "last_time": "last_us",
    },
)
_STATS2D = PartialFamily(
    "stats_aggs", "stats", "value", "_stats2d_state",
    fields=tuple(
        (f, f"sum(_st.{f})") for f in ("n", "sx", "sy", "sxx", "syy", "sxy")
    ),
    # nullif denominators, not CASE guards: ANSI divide-by-zero fires
    # even in an unreached CASE branch under subexpression elimination
    finalize=(
        "_f_n AS n", "_f_sx / _f_n AS average_x",
        "_f_sy / _f_n AS average_y", "_f_sx AS sum_x", "_f_sy AS sum_y",
        f"{_SLOPE} AS slope",
        f"(_f_sy - {_SLOPE} * _f_sx) / _f_n AS intercept",
        f"{_CXY} / nullif(CAST((_f_n - 1) AS DOUBLE), 0.0D) AS covariance",
        f"{_CXY} / nullif(sqrt({_CXX} * {_CYY}), 0.0D) AS corr",
        f"coalesce({_CXY} * {_CXY} / nullif({_CXX} * {_CYY}, 0.0D), "
        f"CASE WHEN {_CXX} > 0 AND {_CYY} = 0.0D THEN 1.0D END) "
        f"AS determination_coefficient",
    ),
    serve="stats2d_at_grain",
    accessors={
        "slope": "slope", "intercept": "intercept", "corr": "corr",
        "covariance": "covariance",
        "determination_coefficient": "determination_coefficient",
        "average_x": "average_x", "average_y": "average_y",
        "sum_x": "sum_x", "sum_y": "sum_y", "num_vals": "n",
    },
)
_STATS = PartialFamily(
    "stats_aggs", "stats", "value", "_stats_state",
    exprs=("value", "y"), sql_fns=("stats_agg",), inherit=_stats_inherit,
    fields=(
        ("n", "sum(_st.n)"), ("s", "sum(_st.s)"), ("s2", "sum(_st.s2)"),
        ("mn", "min(_st.mn)"), ("mx", "max(_st.mx)"),
    ),
    finalize=(
        "_f_n AS n", "_f_s AS `sum`",
        "CASE WHEN _f_n > 0 THEN _f_s / _f_n END AS `avg`",
        f"sqrt({_STATS_VAR}) AS stddev", f"{_STATS_VAR} AS variance",
        "_f_mn AS `min`", "_f_mx AS `max`",
    ),
    serve="stats_at_grain",
    accessors={
        "average": "avg", "stddev": "stddev", "variance": "variance",
        "sum": "sum", "num_vals": "n", "min_val": "min", "max_val": "max",
    },
    variant=("y", _STATS2D),
)
_TIME_WEIGHTS = PartialFamily(
    "time_weights", "time_weight", "value", "_timeweight_state",
    sql_fns=("time_weight",), normalize=_timeweight_normalize,
    inherit=_timeweight_inherit, ordered=True, bounds=_timeweight_bounds,
    fields=_ORDERED_VALS + (
        ("integral", "sum(_st.integral) + coalesce(sum(_bseg), 0.0D)"),
    ),
    finalize=(
        "coalesce(_f_integral / nullif(CAST((_f_last_us - _f_first_us) "
        "AS DOUBLE), 0.0D), _f_first_val) AS tw_avg",
        "_f_n AS n", *_TIMES,
    ),
    serve="time_weighted_at_grain",
    accessors={"average": "tw_avg", "num_vals": "n"},
    interp={"interpolated_average": "tw_avg"},
    interp_serve="interpolated_average_at_grain",
)
_CANDLESTICKS = PartialFamily(
    "candlesticks", "candlestick", "price", "_candlestick_state",
    exprs=("price", "volume"), sql_fns=("candlestick_agg",),
    # open/close from the earliest/latest state; equal-time ties (a
    # subset group_by merging series) take the lowest open / highest
    # close, deterministically
    fields=_BOOKENDS + (
        ("open", "min_by(_st.open, struct(_st.first_us, _st.open))"),
        ("high", "max(_st.high)"), ("low", "min(_st.low)"),
        ("close", "max_by(_st.close, struct(_st.last_us, _st.close))"),
        ("volume", "sum(_st.volume)"), ("pv", "sum(_st.pv)"),
    ),
    finalize=(
        "_f_open AS open", "_f_high AS high", "_f_low AS low",
        "_f_close AS close", "_f_volume AS volume",
        "_f_pv / _f_volume AS vwap", "_f_n AS n", *_TIMES,
    ),
    serve="candlestick_at_grain",
    accessors={
        "open": "open", "high": "high", "low": "low", "close": "close",
        "volume": "volume", "vwap": "vwap", "num_vals": "n",
    },
)
_STATE_AGGS = PartialFamily(
    "state_aggs", "state_agg", "state", "_stateagg_state",
    exprs=("state",), sql_fns=("state_agg",), ordered=True,
    custom_merge=_merge_stateagg, serve="state_durations_at_grain",
    # num_vals is the aggregate's total sample count over all states
    accessors={"num_vals": "n", "duration_in": "duration_us"},
    interp={"interpolated_duration_in": "duration_us"},
    interp_serve="interpolated_duration_in_at_grain",
    srf=("into_values", "state_durations_at_grain", ("state", "duration_us")),
)
_FREQ_AGGS = PartialFamily(
    "freq_aggs", "freq_agg", "value", "_freq_state",
    sql_fns=("freq_agg", "topn_agg"), normalize=_freq_normalize,
    inherit=_freq_inherit, custom_merge=_merge_freq,
    srf=("topn", "topn_at_grain", ("value", "freq_lb")),
)
_MAXN_AGGS = PartialFamily(
    "maxn_aggs", "max_n", "value", "_maxn_state",
    exprs=("value", "by"), sql_fns=("max_n", "min_n", "max_n_by", "min_n_by"),
    normalize=_maxn_normalize, inherit=_maxn_inherit,
    custom_merge=_merge_maxn,
    srf=("into_values", "max_n_at_grain", ("value", "data")),
)
_HEARTBEAT_AGGS = PartialFamily(
    "heartbeat_aggs", "heartbeat", "liveness", "_heartbeat_state",
    exprs=(), sql_fns=("heartbeat_agg",), normalize=_heartbeat_normalize,
    inherit=_heartbeat_inherit, ordered=True, bounds=_heartbeat_bounds,
    fields=_BOOKENDS + (
        ("live_us", "sum(_st.live_us) - sum(_corr)"),
        ("ranges", "sum(_st.ranges) - sum(_join)"),
    ),
    finalize=(
        "_f_n AS n", "_f_live_us AS live_us",
        "_f_last_us + {liveness_us} - _f_first_us - _f_live_us AS dead_us",
        "_f_ranges AS num_live_ranges", *_TIMES,
    ),
    serve="heartbeat_at_grain",
    accessors={
        "live_time": "live_us", "dead_time": "dead_us",
        "num_live_ranges": "num_live_ranges", "num_heartbeats": "n",
        "first_time": "first_us", "last_time": "last_us",
    },
    interp={
        "interpolated_live_time": "live_us",
        "interpolated_dead_time": "dead_us",
    },
    interp_serve="heartbeat_interpolated_at_grain",
)
_TDIGEST_AGGS = PartialFamily(
    "tdigest_aggs", "tdigest", "value", "_tdigest_state",
    sql_fns=("tdigest",), normalize=_tdigest_normalize,
    inherit=_tdigest_inherit, custom_merge=_merge_tdigest,
    serve="tdigest_summary_at_grain",
    accessors={
        "num_vals": "n", "min_val": "min_val", "max_val": "max_val",
        "mean": "mean",
    },
    quantiles=("tdigest_quantiles_at_grain", "tdigest_rank_at_grain"),
)
# catalog key -> family; the order is the order of the partial joins
# in a cagg's defining query
FAMILIES = {
    f.key: f
    for f in (
        _SKETCHES, _COUNTERS, _GAUGES, _STATS, _TIME_WEIGHTS,
        _CANDLESTICKS, _STATE_AGGS, _FREQ_AGGS, _MAXN_AGGS,
        _HEARTBEAT_AGGS, _TDIGEST_AGGS,
    )
}
# CREATE MATERIALIZED VIEW aggregate name -> family
FAMILY_OF_SQL_FN = {
    fn: f for f in FAMILIES.values() for fn in f.sql_fns
}


def family_of(row: dict, col: str):
    """``(family, spec)`` of partial column ``col`` in catalog row
    ``row``, or None when ``col`` is not a partial column."""
    for fam in FAMILIES.values():
        spec = (row.get(fam.key) or {}).get(col)
        if spec is not None:
            return fam, spec
    return None


class ContinuousAggregate:
    def __init__(self, ts, row: dict):
        self.ts = ts
        self.row = row

    # ------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        ts,
        name: str,
        hypertable: Union[str, Hypertable],
        bucket_width: str,
        aggs: dict[str, str],
        group_by: Sequence[str] = (),
        time_column: Optional[str] = None,
        bucket_alias: str = "bucket",
        materialized_only: bool = False,
        where: Optional[str] = None,
        join: Optional[dict] = None,
        window_fns: Optional[dict[str, str]] = None,
        enable_window_functions: bool = False,
        sketches: Optional[dict[str, dict]] = None,
        counters: Optional[dict[str, dict]] = None,
        gauges: Optional[dict[str, dict]] = None,
        stats_aggs: Optional[dict[str, dict]] = None,
        time_weights: Optional[dict[str, dict]] = None,
        candlesticks: Optional[dict[str, dict]] = None,
        state_aggs: Optional[dict[str, dict]] = None,
        freq_aggs: Optional[dict[str, dict]] = None,
        maxn_aggs: Optional[dict[str, dict]] = None,
        heartbeat_aggs: Optional[dict[str, dict]] = None,
        tdigest_aggs: Optional[dict[str, dict]] = None,
        mat_chunk_interval: Union[str, int, None] = None,
    ) -> "ContinuousAggregate":
        """``CREATE MATERIALIZED VIEW .. WITH (timescaledb.continuous)``
        (``tsl/src/continuous_aggs/create.c:600``).

        ``aggs``: output column -> Spark SQL aggregate expression over the
        source hypertable's columns (the "partial view" query).
        ``where``: optional row filter in the defining query (the
        reference allows WHERE clauses in cagg definitions,
        ``cagg_validate_query``).
        ``join``: enrich the hypertable with a plain table registered via
        ``TSSession.create_table`` before bucketing —
        ``{"table": name, "on": col | [cols] | "a = b" expr,
        "how": "inner" | "left"}``. Only INNER and LEFT joins, like the
        reference (``tsl/src/continuous_aggs/common.c:886-892``); the time
        dimension always comes from the hypertable side (``common.c:1808``).
        The dim side is broadcast at refresh, so a join adds zero shuffles.
        Like the reference, changes to the joined table do NOT invalidate
        the cagg — dirty ranges track hypertable DML only.
        ``window_fns``: output column -> window expression evaluated over
        the *aggregated* rows (e.g. ``"rank() OVER (PARTITION BY bucket
        ORDER BY sum_v DESC)"``). Gated off by default like the
        reference's ``timescaledb.enable_cagg_window_functions``
        (``src/guc.c:1031``; validation ``common.c:665-695``): partitions
        that span buckets give unexpected results after partial refresh,
        because each refresh recomputes windows only over its dirty
        ranges. Keep every OVER clause partitioned by the bucket column.
        Partial families (``sketches=`` … ``tdigest_aggs=``): output
        column -> spec. Instead of a finished number the mat table
        stores a mergeable STATE per (bucket, group) — the toolkit
        ``rollup(counter_agg(...))`` idiom — so the ``*_at_grain``
        reads serve any coarser grain by merging stored states, never
        rescanning raw rows below the watermark, and the realtime view
        unions mat-side states with raw-side states above it.
        :data:`FAMILIES` lists, per family, the spec key a spec must
        carry, which keys are SQL expressions, the defaults and range
        checks, and the merge. Spec keys by family:

        - ``sketches``: ``value``, ``alpha`` — a DDSketch
          ``map<int,bigint>`` (``percentile_agg``/``uddsketch``); serve
          with :meth:`quantiles`/:meth:`rank`. Spark's binary HLL
          states need no family: put ``hll_sketch_agg(col)`` in
          ``aggs`` and serve with :meth:`distinct_at_grain`.
        - ``counters`` / ``gauges``: ``value``, ``tiebreak`` —
          prometheus-reset counter / gauge bookends and steps.
        - ``stats_aggs``: ``value`` (x), optional ``y`` — 1-D moments,
          or 2-D comoments over the pairs where both are non-NULL.
        - ``time_weights``: ``value``, ``method`` (``locf``|``linear``),
          ``tiebreak`` — the within-bucket integral of the interpolant.
        - ``candlesticks``: ``price``, ``volume``, ``tiebreak`` — OHLC,
          volume and Σ price×volume (vwap).
        - ``state_aggs``: ``state``, ``tiebreak`` — per-state LOCF held
          durations.
        - ``freq_aggs``: ``value``, ``capacity`` — a Misra–Gries heavy
          hitter summary, exact while a bucket's distinct count fits.
        - ``maxn_aggs``: ``value``, ``n``, ``desc``, optional ``by``
          payload — the top-n candidate list.
        - ``heartbeat_aggs``: ``liveness``, ``tiebreak`` — the union of
          ``[t, t + liveness)`` intervals.
        - ``tdigest_aggs``: ``value``, ``delta`` — ≤ delta k1-binned
          centroids (Dunning & Ertl arXiv:1902.04023).

        Any spec may instead be ``{"rollup_of": <parent column>}`` when
        ``hypertable`` is another cagg's mat table: the child's state is
        the merge of the parent's states (cagg_on_cagg.sql × toolkit
        rollup), and the family's inherit rule copies what the state
        shape depends on (method, alpha, liveness, n, delta, …).
        """
        args = locals()  # the partial-family kwargs, by FAMILIES key
        if isinstance(hypertable, str):
            hypertable = Hypertable.get(ts, hypertable)
        cat = ts.catalog
        if cat.continuous_agg.find_one(name=name):
            raise ValueError(f"cagg {name!r} already exists")
        if join is not None:
            how = join.get("how", "inner")
            if how not in ("inner", "left"):
                raise ValueError(
                    "only INNER or LEFT joins are supported in continuous "
                    "aggregates (tsl/src/continuous_aggs/common.c:892)"
                )
            if not cat.plain_table.find_one(name=join["table"]):
                raise KeyError(
                    f"join table {join['table']!r} not registered "
                    "(TSSession.create_table)"
                )
        if window_fns and not enable_window_functions:
            raise ValueError(
                "window functions in continuous aggregates are experimental; "
                "pass enable_window_functions=True "
                "(timescaledb.enable_cagg_window_functions, src/guc.c:1031)"
            )
        if window_fns:
            _validate_window_fns(window_fns, bucket_alias)
        if isinstance(bucket_width, int):
            # integer time dimension: width in raw internal units
            from .functions.time import Interval

            iv = Interval(us=bucket_width)
        else:
            iv = parse_interval(bucket_width)

        def _check_nesting(col: str, prow: dict) -> None:
            """Hierarchical caggs must NEST: the child bucket width an
            integer multiple of the parent's, else each parent partial
            is silently misattributed to the child bucket containing
            the parent's bucket START (a 90-minute child over an hourly
            parent splits nothing — it just mislabels). The reference
            rejects this at create time ('should be multiple of the
            parent', tsl/src/continuous_aggs/common.c:1380-1409), as
            does it reject fixed-width children over variable
            (month-width) parents (common.c:1341-1354). Month child
            over fixed parent additionally requires the parent width to
            divide one day — month boundaries are midnights, and the
            shared midnight-anchored origin then makes every month edge
            a parent edge (stricter than the reference's estimated-
            width check, which is what our exactness claim needs)."""
            p_us = int(prow.get("bucket_width_us") or 0)
            p_months = int(prow.get("bucket_width_months") or 0)
            pname = prow.get("name", "?")
            if iv.months:
                if p_months:
                    if iv.months % p_months or iv.months < p_months:
                        raise ValueError(
                            f"rollup_of={col!r}: child bucket width "
                            f"({iv.months} months) must be an integer "
                            f"multiple of parent cagg {pname!r}'s "
                            f"({p_months} months)"
                        )
                elif p_us <= 0 or (86_400_000_000 % p_us):
                    raise ValueError(
                        f"rollup_of={col!r}: a month-width child over "
                        f"fixed-width parent cagg {pname!r} needs the "
                        f"parent width to divide 1 day so month "
                        f"boundaries land on parent bucket edges"
                    )
            elif p_months:
                raise ValueError(
                    f"rollup_of={col!r}: cannot create a fixed-width "
                    f"child over month-width parent cagg {pname!r} "
                    f"(tsl/src/continuous_aggs/common.c:1341)"
                )
            elif p_us <= 0 or iv.us % p_us or iv.us < p_us:
                raise ValueError(
                    f"rollup_of={col!r}: child bucket width ({iv.us} "
                    f"us) must be an integer multiple (>= 1x) of "
                    f"parent cagg {pname!r}'s ({p_us} us) — "
                    f"non-nesting hierarchical caggs misattribute "
                    f"parent partials "
                    f"(tsl/src/continuous_aggs/common.c:1384)"
                )

        prow = cat.continuous_agg.find_one(mat_table=hypertable.name)
        taken = set(aggs) | set(group_by) | {bucket_alias}
        partials: dict[str, Optional[dict]] = {}
        for fam in FAMILIES.values():
            norm: dict[str, dict] = {}
            for col, spec in (args[fam.key] or {}).items():
                if col in taken:
                    raise ValueError(
                        f"{fam.label} column {col!r} collides with "
                        f"another output column"
                    )
                taken.add(col)
                spec = dict(spec)
                if "rollup_of" in spec:
                    # hierarchical child over the parent's stored states
                    pspec = ((prow or {}).get(fam.key) or {}).get(
                        spec["rollup_of"]
                    )
                    if pspec is None:
                        raise ValueError(
                            f"rollup_of={spec['rollup_of']!r}: the source "
                            f"hypertable is not a cagg mat table with a "
                            f"{fam.key} column of that name"
                        )
                    _check_nesting(col, prow)
                    spec = fam.inherit(col, spec, pspec)
                elif fam.required not in spec:
                    raise ValueError(
                        f"{fam.label} partial {col!r} needs a "
                        f"{fam.required!r} expression (or 'rollup_of' for "
                        f"a hierarchical rollup)"
                    )
                norm[col] = fam.normalize(col, spec)
            partials[fam.key] = norm or None
        tcol = time_column or hypertable.time_column
        is_uuid = hypertable.row.get("time_type") == "uuid"
        # UUIDv7 dimensions bucket by their embedded timestamp, so the
        # cagg's buckets ARE timestamps (time_bucket_uuid returns one)
        is_ts = is_uuid or (hypertable.row.get("time_type") or "timestamp") in (
            "timestamp",
            "timestamp_ntz",
            "date",
        )
        if iv.months and not is_ts:
            raise ValueError("month-width buckets need a timestamp dimension")
        row = {
            "id": cat.next_id("cagg"),
            "name": name,
            "hypertable_id": hypertable.id,
            "hypertable_name": hypertable.name,
            "time_column": tcol,
            "bucket_width_us": iv.us,
            "bucket_width_months": iv.months,  # variable-width bucket_function
            "bucket_origin_us": DEFAULT_ORIGIN_US if is_ts else 0,
            "time_is_timestamp": is_ts,
            "time_is_uuid": is_uuid,
            "bucket_alias": bucket_alias,
            "group_by": list(group_by),
            "aggs": aggs,
            "materialized_only": materialized_only,
            "where": where,
            "join": join,
            "window_fns": window_fns,
            **partials,
            "mat_table": f"_mat_{name}",
            "created_at": _time.time(),
        }
        # materialization hypertable FIRST (create.c:267): if its name
        # collides, nothing has been written yet — appending the cagg
        # row before this left a broken half-created cagg behind on
        # failure. Bucket column is the open dimension; chunk interval
        # follows the reference: the SOURCE's interval × 10 for
        # non-hierarchical caggs (create.c:104 MATPARTCOL_INTERVAL_FACTOR,
        # create.c:626-631 — hierarchical children inherit the parent
        # mat interval unchanged), floored at 10 buckets so a coarse
        # cagg over a finely-chunked raw table still gets multi-row
        # chunks. The old 10-buckets-only default produced ~50-row mat
        # chunks at the x100 probe tier (1,460 dirs for 72k rows) whose
        # listing dominated every at-grain serve; callers can override
        # with mat_chunk_interval (the WITH (timescaledb.
        # chunk_time_interval=...) analog, create.c:619-623).
        nominal_us = iv.us if not iv.months else iv.months * 31 * 86_400_000_000
        src_interval = int(hypertable.row.get("chunk_interval") or 0)
        is_hier = prow is not None
        if mat_chunk_interval is not None:
            mat_interval = (
                int(mat_chunk_interval)
                if isinstance(mat_chunk_interval, int)
                else parse_interval(mat_chunk_interval).us
            )
            if mat_interval <= 0:
                raise ValueError("mat_chunk_interval must be positive")
        else:
            mat_interval = max(
                src_interval * (1 if is_hier else 10), nominal_us * 10
            )
        Hypertable.create(ts, row["mat_table"], bucket_alias, chunk_interval=mat_interval)
        cat.continuous_agg.append([row])
        # seed: entire range invalid (README "initial state")
        cat.materialization_invalidation_log.append(
            [
                {
                    "cagg_id": row["id"],
                    "lowest_modified_value": INT64_MIN,
                    "greatest_modified_value": INT64_MAX,
                }
            ]
        )
        cat.cagg_watermark.append([{"cagg_id": row["id"], "watermark": None}])
        return cls(ts, row)

    @classmethod
    def get(cls, ts, name: str) -> "ContinuousAggregate":
        row = ts.catalog.continuous_agg.find_one(name=name)
        if not row:
            raise KeyError(f"no cagg {name!r}")
        return cls(ts, row)

    # ----------------------------------------------------------- plumbing
    @property
    def id(self) -> int:
        return self.row["id"]

    @property
    def name(self) -> str:
        return self.row["name"]

    @property
    def width(self) -> int:
        return int(self.row["bucket_width_us"])

    @property
    def origin(self) -> int:
        return int(self.row["bucket_origin_us"])

    def _source(self) -> Hypertable:
        return Hypertable.get(self.ts, self.row["hypertable_name"])

    def _mat(self) -> Hypertable:
        return Hypertable.get(self.ts, self.row["mat_table"])

    def _bucket_expr(self, df: DataFrame):
        from .functions.time import time_bucket, time_bucket_int

        if self.row.get("time_is_uuid"):
            from .functions.time import Interval
            from .functions.uuid7 import time_bucket_uuid

            months = int(self.row.get("bucket_width_months") or 0)
            iv = Interval(months=months) if months else Interval(us=self.width)
            return time_bucket_uuid(iv, self.row["time_column"]).alias(
                self.row["bucket_alias"]
            )
        if self.row["time_is_timestamp"]:
            from .functions.time import Interval

            months = int(self.row.get("bucket_width_months") or 0)
            iv = Interval(months=months) if months else Interval(us=self.width)
            return time_bucket(iv, self.row["time_column"]).alias(
                self.row["bucket_alias"]
            )
        return time_bucket_int(self.width, self.row["time_column"]).alias(
            self.row["bucket_alias"]
        )

    # -- variable-width bucket algebra (continuous_aggs_bucket_function) ---
    def _floor_us(self, v: int) -> int:
        """Bucket start containing internal time ``v``. Fixed widths use
        the closed-form formula; month widths floor the month index
        (driver-side calendar math — the analog of the reference's
        ``ts_compute_inscribed_bucketed_refresh_window`` for variable
        buckets)."""
        months = int(self.row.get("bucket_width_months") or 0)
        if not months:
            return _pbucket(v, self.width, self.origin)
        guard = 32 * 86_400_000_000 * (months + 1)
        if v <= INT64_MIN + guard:
            return INT64_MIN
        if v >= INT64_MAX - guard:
            return v
        dt = datetime.fromtimestamp(v // 1_000_000, tz=_tz.utc)
        midx = dt.year * 12 + dt.month - 1
        origin_midx = 2000 * 12  # DEFAULT_ORIGIN_MONTHS (Jan 2000)
        b = midx - ((midx - origin_midx) % months + months) % months
        y, mo = divmod(b, 12)
        return int(datetime(y, mo + 1, 1, tzinfo=_tz.utc).timestamp() * 1_000_000)

    def _next_us(self, bucket_start: int) -> int:
        """Start of the bucket after the one starting at ``bucket_start``."""
        months = int(self.row.get("bucket_width_months") or 0)
        if not months:
            return bucket_start + self.width
        if bucket_start in (INT64_MIN, INT64_MAX):
            return bucket_start
        dt = datetime.fromtimestamp(bucket_start // 1_000_000, tz=_tz.utc)
        midx = dt.year * 12 + dt.month - 1 + months
        y, mo = divmod(midx, 12)
        return int(datetime(y, mo + 1, 1, tzinfo=_tz.utc).timestamp() * 1_000_000)

    def _aggregate(
        self, raw: DataFrame, only_cols: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """The 'partial view' query:
        [join dim] + [where] + bucket + group_by + aggs + [sketch
        states] + [window_fns]. ``only_cols`` restricts the build to
        the named output columns — the single-family realtime serve
        path (:meth:`read`): untouched families' partial builds (and
        their 1:1 joins) are never planned at all."""
        j = self.row.get("join")
        if j:
            dim = self.ts.read_table(j["table"])
            on = j.get("on")
            if isinstance(on, str) and not on.replace("_", "").isalnum():
                on = F.expr(on)  # "a = b" join condition
            raw = raw.join(F.broadcast(dim), on=on, how=j.get("how", "inner"))
        if self.row.get("where"):
            raw = raw.filter(F.expr(self.row["where"]))
        exprs = [
            F.expr(e).alias(n)
            for n, e in self.row["aggs"].items()
            if only_cols is None or n in only_cols
        ]
        keys = [self.row["bucket_alias"], *self.row["group_by"]]
        partials = [
            (col, spec, fam.shape(spec))
            for fam in FAMILIES.values()
            for col, spec in (self.row.get(fam.key) or {}).items()
            if only_cols is None or col in only_cols
        ]
        agg = None
        if exprs or not partials:
            agg = raw.groupBy(
                self._bucket_expr(raw), *self.row["group_by"]
            ).agg(*exprs)
        for col, spec, fam in partials:
            # every builder and merge is null-aware: it emits a row for
            # EVERY (bucket, group) of its input, with a NULL state when
            # the partial's inputs are all NULL (strict PG aggregate
            # semantics) — so this join chain is always 1:1 and inner,
            # the r10-proven plan shape
            if spec.get("rollup_of"):
                sk = fam.merge(
                    self._rollup_frame(raw, spec["rollup_of"]),
                    keys, spec, col,
                )
            else:
                sk = getattr(self, fam.state)(raw, col, spec)
            if agg is None:
                agg = sk
                continue
            # null-safe equi-join: group keys can hold NULLs, and both
            # sides aggregate the same rows over the same keys, so the
            # join is 1:1; AQE sees two pre-aggregated (small) sides.
            # Dataset aliases (SubqueryAlias) disambiguate the shared
            # raw lineage — agg[k]/sk[k] can resolve to the SAME
            # attribute past two partials, making drop(sk[k]) a no-op
            # (duplicate key columns), while a rename Project on top of
            # the partial's struct aggregate trips Spark 4.1.2's
            # RemoveRedundantAliases (d42cb25)
            agg = _join_keys(agg, sk, keys).select(
                "_jl.*", F.col(f"_jr.{col}")
            )
        if only_cols is None:
            for col, expr in (self.row.get("window_fns") or {}).items():
                agg = agg.withColumn(col, F.expr(expr))
        return agg

    def _sketch_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """DDSketch STATE per (bucket, group): ``map<int,bigint>`` of
        log-bucket -> count. Two map-combined groupBys: the first
        collapses rows to (keys, log-bucket) counts BEFORE the exchange
        (shuffle = keys x ~2k sketch buckets regardless of row count,
        functions/ddsketch.py contract), the second packs each group's
        buckets into one deterministic sorted map entry. No raw row
        survives past the first partial aggregation."""
        from .functions.ddsketch import ZERO_BUCKET, _gamma

        g = _gamma(float(spec.get("alpha", 0.01)))
        v = F.expr(spec["value"]).cast("double")
        # strict-aggregate NULL semantics (percentile_agg skips NULLs):
        # NULL values get a NULL log-bucket, which is dropped before the
        # map pack (a NULL key would crash map_from_entries) — but the
        # (bucket, group) row itself survives, with a NULL state when
        # ALL its inputs are NULL
        sb = (
            F.when(v.isNull(), F.lit(None).cast("int"))
            .when(
                v < 0,
                F.raise_error(
                    F.lit(
                        f"cagg sketch {col!r}: negative values are not "
                        f"supported (DDSketch positive store + zero "
                        f"bucket, like uddsketch)"
                    )
                ).cast("int"),
            )
            .when(v == 0, F.lit(ZERO_BUCKET))
            .otherwise(
                F.ceil(F.log(v) / F.lit(math.log(g))).cast("int")
            )
        )
        per_bucket = (
            raw.select(
                self._bucket_expr(raw),
                *self.row["group_by"],
                sb.alias("_sb"),
            )
            .groupBy(self.row["bucket_alias"], *self.row["group_by"], "_sb")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        # collect_list skips NULL elements, so the NULL-bucket row
        # (NULL-input samples) never reaches the map; nullif turns an
        # all-NULL group's empty map into a NULL state
        ent = F.when(
            F.col("_sb").isNotNull(), F.struct("_sb", "_cnt")
        )
        return per_bucket.groupBy(
            self.row["bucket_alias"], *self.row["group_by"]
        ).agg(
            F.when(
                F.count("_sb") > 0,
                F.map_from_entries(F.array_sort(F.collect_list(ent))),
            ).alias(col)
        )

    def _counter_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """Mergeable COUNTER partial per (bucket, group):
        ``struct(n, first_us, last_us, first_val, last_val, delta,
        num_resets)`` with prometheus reset semantics inside the bucket
        (functions/counters.py:counter_agg decomposition). One window
        over (bucket, group) ordered by (time, tiebreak…) computes the
        within-bucket reset-adjusted increments; the grouped pack is a
        single exchange. Boundary steps between buckets are NOT counted
        here — merging adjacent partials adds exactly one boundary step
        (``counter_at_grain``), which is what makes any-grain serving
        equal to ``counter_agg`` over the raw rows of that grain."""
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        tb = list(spec.get("tiebreak") or ())
        us = self._raw_time_us(raw)
        stepped = raw.select(
            self._bucket_expr(raw),
            *gb,
            *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)],
            us.alias("_us"),
            F.expr(spec["value"]).cast("double").alias("_v"),
        )
        # SQL-string expression build from here down (round 17, see
        # _over): one py4j parse per expression instead of ~2,000 round
        # trips; the parsed trees are identical to the Column form.
        bq, gbq = _q(balias), [_q(g) for g in gb]
        tbs = [f"_tb{i}" for i in range(len(tb))]
        wo = _over(
            [balias, *gb], ["_us ASC", *[f"{t} ASC" for t in tbs]]
        )
        # strict-aggregate NULL semantics (counter_agg skips NULLs): the
        # previous sample is the last NON-NULL value before this row —
        # lag() would let one NULL sample break two increments — and
        # NULL samples themselves contribute no increment/reset/count
        prev = (
            f"last(_v, true) OVER ({wo} ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND 1 PRECEDING)"
        )
        step = f"(_v - {prev})"
        inc = (
            f"CASE WHEN _v IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN {prev} IS NULL THEN 0.0D "
            f"WHEN {step} < 0 THEN _v ELSE {step} END"
        )
        # bookend key is NULL for NULL samples so min_by/max_by skip them
        key = (
            "CASE WHEN _v IS NOT NULL THEN named_struct('_us', _us"
            + "".join(f", '{t}', {t}" for t in tbs)
            + ") END"
        )
        stepped = stepped.selectExpr(
            bq,
            *gbq,
            "_us",
            "_v",
            f"{inc} AS _inc",
            f"CASE WHEN _v IS NOT NULL THEN CAST(({step} < 0) AS INT) "
            f"END AS _reset",
            f"CASE WHEN _v IS NOT NULL AND {prev} IS NOT NULL THEN "
            f"CAST((_v != {prev}) AS INT) END AS _change",
            f"{key} AS _k",
        )
        # aggregate FLAT fields, then assemble the struct in a plain
        # projection: an aliased-field struct inside the aggregate trips
        # Spark 4.1.2's RemoveRedundantAliases into an unresolved plan
        # under a dual-partial join + projection (round-10 regression,
        # d42cb25)
        flat = stepped.groupBy(balias, *gb).agg(
            F.expr("count(_v)").alias("_f_n"),
            F.expr(
                "min(CASE WHEN _v IS NOT NULL THEN _us END)"
            ).alias("_f_first_us"),
            F.expr(
                "max(CASE WHEN _v IS NOT NULL THEN _us END)"
            ).alias("_f_last_us"),
            F.expr("min_by(_v, _k)").alias("_f_first_val"),
            F.expr("max_by(_v, _k)").alias("_f_last_val"),
            F.expr("sum(_inc)").alias("_f_delta"),
            F.expr("coalesce(sum(_reset), 0)").alias("_f_resets"),
            F.expr("coalesce(sum(_change), 0)").alias("_f_changes"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct("
            "'n', _f_n, 'first_us', _f_first_us, 'last_us', _f_last_us, "
            "'first_val', _f_first_val, 'last_val', _f_last_val, "
            "'delta', _f_delta, 'num_resets', _f_resets, "
            f"'num_changes', _f_changes) END AS {_q(col)}",
        )

    def _raw_time_us(self, raw: DataFrame):
        """int64 internal units of the cagg's time column on ``raw``."""
        tcol = self.row["time_column"]
        if self.row.get("time_is_uuid"):
            from .functions.uuid7 import uuid_timestamp_micros

            return uuid_timestamp_micros(F.col(tcol))
        if self.row["time_is_timestamp"]:
            dt = dict(raw.dtypes).get(tcol, "timestamp")
            if dt == "date":
                return (
                    F.datediff(
                        F.col(tcol), F.lit("1970-01-01").cast("date")
                    ).cast("long")
                    * F.lit(86_400_000_000)
                )
            return F.unix_micros(F.col(tcol).cast("timestamp"))
        return F.col(tcol).cast("long")

    def counter_at_grain(
        self,
        counter_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve reset-adjusted counter results at any coarser grain
        from the stored partials — the toolkit
        ``delta(rollup(counter_agg(...)))`` idiom. Merging consecutive
        bucket partials within each target bucket adds each boundary
        step once (reset-adjusted), so the result equals
        ``counter_agg`` over the raw rows of the target grain exactly;
        no raw rescan below the watermark. ``start``/``end`` filter
        whole parent buckets (bucket-aligned ``[start, end)``).

        Output: ``(bucket?, group…, n, delta, rate, num_resets,
        num_changes, first_us, last_us, first_val, last_val)``;
        ``grain=None`` keeps the cagg's own grain, ``"all"`` collapses
        to one row per group."""
        return self._serve(
            _COUNTERS, counter_col, grain, group_by, realtime, start, end
        )

    def _gauge_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """Mergeable GAUGE partial per (bucket, group): like the counter
        partial but without resets, plus ``last_step``/``last_prev_us``
        (the final within-bucket step and the time of the sample before
        the last) so idelta/irate survive the rollup — a single-sample
        bucket's step comes from the previous bucket's last value at
        merge time."""
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        tb = list(spec.get("tiebreak") or ())
        us = self._raw_time_us(raw)
        stepped = raw.select(
            self._bucket_expr(raw),
            *gb,
            *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)],
            us.alias("_us"),
            F.expr(spec["value"]).cast("double").alias("_v"),
        )
        # SQL-string expression build (round 17, see _over)
        bq, gbq = _q(balias), [_q(g) for g in gb]
        tbs = [f"_tb{i}" for i in range(len(tb))]
        wo = _over(
            [balias, *gb], ["_us ASC", *[f"{t} ASC" for t in tbs]]
        )
        frame = f"{wo} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        # strict NULL semantics (gauge_agg skips NULLs): the previous
        # sample is the last NON-NULL one, its time the matching masked
        # time — same reasoning as _counter_state
        prev_v = f"last(_v, true) OVER ({frame})"
        prev_us = (
            f"last(CASE WHEN _v IS NOT NULL THEN _us END, true) "
            f"OVER ({frame})"
        )
        key = (
            "CASE WHEN _v IS NOT NULL THEN named_struct('_us', _us"
            + "".join(f", '{t}', {t}" for t in tbs)
            + ") END"
        )
        stepped = stepped.selectExpr(
            bq,
            *gbq,
            "_us",
            "_v",
            f"(_v - {prev_v}) AS _step",
            f"{prev_us} AS _prev_us",
            f"CASE WHEN _v IS NOT NULL AND {prev_v} IS NOT NULL THEN "
            f"CAST((_v != {prev_v}) AS INT) END AS _change",
            f"{key} AS _k",
        )
        # flat aggregate + struct-in-projection (see _counter_state)
        flat = stepped.groupBy(balias, *gb).agg(
            F.expr("count(_v)").alias("_f_n"),
            F.expr(
                "min(CASE WHEN _v IS NOT NULL THEN _us END)"
            ).alias("_f_first_us"),
            F.expr(
                "max(CASE WHEN _v IS NOT NULL THEN _us END)"
            ).alias("_f_last_us"),
            F.expr("min_by(_v, _k)").alias("_f_first_val"),
            F.expr("max_by(_v, _k)").alias("_f_last_val"),
            F.expr("max_by(_step, _k)").alias("_f_last_step"),
            F.expr("max_by(_prev_us, _k)").alias("_f_last_prev"),
            F.expr("coalesce(sum(_change), 0)").alias("_f_changes"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct("
            "'n', _f_n, 'first_us', _f_first_us, 'last_us', _f_last_us, "
            "'first_val', _f_first_val, 'last_val', _f_last_val, "
            "'last_step', _f_last_step, 'last_prev_us', _f_last_prev, "
            f"'num_changes', _f_changes) END AS {_q(col)}",
        )

    def gauge_at_grain(
        self,
        gauge_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve gauge results at any coarser grain from the stored
        partials (toolkit ``delta(rollup(gauge_agg(...)))``):
        delta = last − first value of the target bucket, idelta/irate =
        the final step (falling back to the bucket-boundary step when
        the last parent bucket holds a single sample) — identical to
        ``gauge_agg`` over the raw rows of the target grain.

        Output: ``(bucket?, group…, n, delta, rate, idelta, irate,
        first_us, last_us, first_val, last_val, num_changes)``."""
        return self._serve(
            _GAUGES, gauge_col, grain, group_by, realtime, start, end
        )

    def _stats_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """Mergeable 1-D STATS partial per (bucket, group):
        ``struct(n, s, s2, mn, mx)`` — raw moments, the classical
        parallel-aggregation decomposition (also how Spark's own
        partial aggregates merge). A spec with a ``"y"`` key builds the
        TWO-variable form instead (:meth:`_stats2d_state`)."""
        v = F.expr(spec["value"]).cast("double")
        # strict NULL semantics: the moments already skip NULLs (count/
        # sum/min/max are null-skipping); an all-NULL group's state is
        # NULL instead of struct(0, NULL, …), consistent with the other
        # partial families — and the group's row always survives.
        # SQL-string expression build (round 17, see _over).
        flat = (
            raw.select(
                self._bucket_expr(raw), *self.row["group_by"], v.alias("_v")
            )
            .groupBy(self.row["bucket_alias"], *self.row["group_by"])
            .agg(
                F.expr("count(_v)").alias("_f_n"),
                F.expr("sum(_v)").alias("_f_s"),
                F.expr("sum(_v * _v)").alias("_f_s2"),
                F.expr("min(_v)").alias("_f_mn"),
                F.expr("max(_v)").alias("_f_mx"),
            )
        )
        return flat.selectExpr(
            _q(self.row["bucket_alias"]),
            *[_q(g) for g in self.row["group_by"]],
            "CASE WHEN _f_n > 0 THEN named_struct('n', _f_n, 's', _f_s, "
            f"'s2', _f_s2, 'mn', _f_mn, 'mx', _f_mx) END AS {_q(col)}",
        )

    def _stats2d_state(
        self, raw: DataFrame, col: str, spec: dict
    ) -> DataFrame:
        """Mergeable 2-D STATS partial per (bucket, group):
        ``struct(n, sx, sy, sxx, syy, sxy)`` — raw (co)moments of the
        sample pairs where BOTH values are non-NULL (PostgreSQL
        ``regr_*`` pair semantics; the toolkit two-variable
        ``stats_agg(y, x)``). Fieldwise sums merge commutatively, so
        :meth:`stats2d_at_grain` serves slope/intercept/corr/
        covariance at any coarser grain by the standard parallel-merge
        comoment corrections — identical to the same formulas over the
        raw rows of that grain. ``spec['value']`` is the INDEPENDENT
        variable (x), ``spec['y']`` the dependent one."""
        x = F.expr(spec["value"]).cast("double")
        y = F.expr(spec["y"]).cast("double")
        both = x.isNotNull() & y.isNotNull()
        base = raw.select(
            self._bucket_expr(raw),
            *self.row["group_by"],
            F.when(both, x).alias("_x"),
            F.when(both, y).alias("_y"),
        )
        # SQL-string expression build (round 17, see _over)
        flat = base.groupBy(
            self.row["bucket_alias"], *self.row["group_by"]
        ).agg(
            F.expr("count(_x)").alias("_f_n"),
            F.expr("sum(_x)").alias("_f_sx"),
            F.expr("sum(_y)").alias("_f_sy"),
            F.expr("sum(_x * _x)").alias("_f_sxx"),
            F.expr("sum(_y * _y)").alias("_f_syy"),
            F.expr("sum(_x * _y)").alias("_f_sxy"),
        )
        return flat.selectExpr(
            _q(self.row["bucket_alias"]),
            *[_q(g) for g in self.row["group_by"]],
            "CASE WHEN _f_n > 0 THEN named_struct('n', _f_n, "
            "'sx', _f_sx, 'sy', _f_sy, 'sxx', _f_sxx, 'syy', _f_syy, "
            f"'sxy', _f_sxy) END AS {_q(col)}",
        )

    def _is_stats2d(self, col: str) -> bool:
        spec = (self.row.get(_STATS.key) or {}).get(col)
        return bool(spec) and "y" in spec

    def stats_at_grain(
        self,
        stats_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve 1-D statistics at any coarser grain from the stored
        moments partials (toolkit ``rollup(stats_agg(...))``
        accessors): fieldwise add/min/max merge, then
        n/sum/avg/stddev/variance (sample)/min/max extraction. Subset
        ``group_by`` regrouping is allowed (commutative states)."""
        if stats_col is None:
            # resolve BEFORE the 2-D guard, or a cagg whose only stats
            # column is 2-D slips into the 1-D serve
            specs = self.row.get(_STATS.key) or {}
            if len(specs) == 1:
                stats_col = next(iter(specs))
        if stats_col is not None and self._is_stats2d(stats_col):
            raise ValueError(
                f"{stats_col!r} is a 2-D stats partial — use "
                f"stats2d_at_grain for slope/intercept/corr/covariance"
            )
        return self._serve(
            _STATS, stats_col, grain, group_by, realtime, start, end
        )

    def stats2d_at_grain(
        self,
        stats_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve 2-D linear-regression statistics at any coarser grain
        from the stored comoment partials — the toolkit
        ``stats_agg(y, x) → rollup → slope()/intercept()/corr()``
        idiom (PG's ``regr_*`` family). Fieldwise sums merge, then the
        standard comoment corrections: ``Cxy = Σxy − ΣxΣy/n`` etc.
        With integer-quantized inputs every sum is exact, so the final
        divisions are IEEE-deterministic and a SQL replay of the same
        formulas matches bit-for-bit. Subset ``group_by`` regrouping is
        allowed.

        Output: ``(bucket?, group…, n, average_x, average_y, sum_x,
        sum_y, slope, intercept, covariance, corr,
        determination_coefficient)`` — slope/corr NULL for a
        degenerate x (all equal), covariance NULL for n ≤ 1, like
        ``regr_slope``/``covar_samp``."""
        if stats_col is None:
            two_d = [
                c
                for c, sp in (self.row.get(_STATS.key) or {}).items()
                if "y" in sp
            ]
            if len(two_d) != 1:
                raise ValueError(
                    f"cagg {self.name!r} has {len(two_d)} 2-D stats "
                    f"columns; pass stats_col"
                )
            stats_col = two_d[0]
        if not self._is_stats2d(stats_col):
            raise ValueError(
                f"{stats_col!r} is not a 2-D stats partial (create "
                f"with stats_aggs={{col: {{'value': x, 'y': y}}}})"
            )
        return self._serve(
            _STATS, stats_col, grain, group_by, realtime, start, end
        )

    def _timeweight_state(
        self, raw: DataFrame, col: str, spec: dict
    ) -> DataFrame:
        """Mergeable TIME-WEIGHT partial per (bucket, group):
        ``struct(n, first_us, last_us, first_val, last_val, integral)``
        — ``integral`` is the within-bucket integral of the LOCF (or
        linear) interpolant in µs·value, i.e. Σ over consecutive
        non-null sample pairs of ``v1·Δt`` (LOCF) or ``(v1+v2)/2·Δt``
        (linear). Cagg buckets partition time disjointly, so merging
        adjacent partials adds exactly one boundary segment each (the
        :meth:`counter_at_grain` merge shape) — which makes
        :meth:`time_weighted_at_grain` equal to the toolkit
        ``average(rollup(time_weight(...)))`` over the raw rows of the
        target grain. Strict NULL semantics like the other families
        (functions/counters.py:time_weighted_avg is the raw-scan
        analog)."""
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        tb = list(spec.get("tiebreak") or ())
        method = str(spec.get("method", "locf")).lower()
        us = self._raw_time_us(raw)
        stepped = raw.select(
            self._bucket_expr(raw),
            *gb,
            *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)],
            us.alias("_us"),
            F.expr(spec["value"]).cast("double").alias("_v"),
        )
        # SQL-string expression build (round 17, see _over)
        bq, gbq = _q(balias), [_q(g) for g in gb]
        tbs = [f"_tb{i}" for i in range(len(tb))]
        wo = _over(
            [balias, *gb], ["_us ASC", *[f"{t} ASC" for t in tbs]]
        )
        frame = f"{wo} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        prev_v = f"last(_v, true) OVER ({frame})"
        prev_us = (
            f"last(CASE WHEN _v IS NOT NULL THEN _us END, true) "
            f"OVER ({frame})"
        )
        dt = f"CAST((_us - {prev_us}) AS DOUBLE)"
        if method == "linear":
            seg = f"(({prev_v} + _v) / 2.0D * {dt})"
        else:
            seg = f"({prev_v} * {dt})"
        key = (
            "CASE WHEN _v IS NOT NULL THEN named_struct('_us', _us"
            + "".join(f", '{t}', {t}" for t in tbs)
            + ") END"
        )
        stepped = stepped.selectExpr(
            bq,
            *gbq,
            "_us",
            "_v",
            # a NULL sample closes no segment (its span folds into the
            # next non-null sample's segment — prev_us skips NULLs)
            f"CASE WHEN _v IS NOT NULL THEN {seg} END AS _seg",
            f"{key} AS _k",
        )
        flat = stepped.groupBy(balias, *gb).agg(
            F.expr("count(_v)").alias("_f_n"),
            F.expr(
                "min(CASE WHEN _v IS NOT NULL THEN _us END)"
            ).alias("_f_first_us"),
            F.expr(
                "max(CASE WHEN _v IS NOT NULL THEN _us END)"
            ).alias("_f_last_us"),
            F.expr("min_by(_v, _k)").alias("_f_first_val"),
            F.expr("max_by(_v, _k)").alias("_f_last_val"),
            F.expr("coalesce(sum(_seg), 0.0D)").alias("_f_integral"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct("
            "'n', _f_n, 'first_us', _f_first_us, 'last_us', _f_last_us, "
            "'first_val', _f_first_val, 'last_val', _f_last_val, "
            f"'integral', _f_integral) END AS {_q(col)}",
        )

    def interpolated_average_at_grain(
        self,
        tw_col: Optional[str] = None,
        grain=None,
        realtime: Optional[bool] = None,
    ) -> DataFrame:
        """Serve the toolkit ``interpolated_average(rollup(
        time_weight(...)), start, width, prev, next)`` idiom from the
        stored partials: each group's samples define ONE global LOCF
        step function; each target bucket's average is the integral of
        that step function over the bucket divided by the covered
        duration — so a value set before an EMPTY bucket still fills
        it, and a segment crossing a bucket edge splits its weight
        between both buckets (what per-bucket time_weight gets wrong;
        semantics of functions/counters.py:interpolated_average, which
        is the raw-scan analog).

        From the partials this is exact with zero raw rescans below
        the watermark: within-parent integrals land in their parent's
        target bucket, and each boundary segment (prev parent's last
        sample → next parent's first) explodes over the target buckets
        it overlaps with exact int64-µs overlap arithmetic — the same
        product set as the raw computation, regrouped, so sums match
        bit-for-bit when values are integer-quantized. Target ``grain``
        must be a multiple of the cagg's bucket width (parents must
        nest). LOCF partials only.

        Output: ``(bucket, group…, tw_avg)`` — one row per target
        bucket the step function overlaps, empty-gap buckets included.
        """
        from pyspark.sql import Window

        tw_col, spec = self._family_col(_TIME_WEIGHTS, tw_col)
        if str(spec.get("method", "locf")).lower() != "locf":
            raise ValueError(
                "interpolated_average_at_grain needs a LOCF time_weight "
                "(linear interpolation across gaps is interpolated_delta "
                "territory)"
            )
        width, base = self._interp_base(_TIME_WEIGHTS, tw_col, grain, realtime)
        gb = list(self.row["group_by"])
        bucket = self.row["bucket_alias"]
        st = F.col("_st")
        w = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        prev_last_us = F.lag(st["last_us"]).over(w)
        prev_last_val = F.lag(st["last_val"]).over(w)
        seg = base.select(
            *gb,
            st.alias("_st"),
            prev_last_us.alias("_pt"),
            prev_last_val.alias("_pv"),
        )
        wl = F.lit(width).cast("long")
        org = int(self.row.get("bucket_origin_us") or 0)
        # within-parent piece: the stored integral, covering
        # [first_us, last_us] — one target bucket (parents nest:
        # the target grid shares the cagg's bucket origin, so with
        # width a multiple of the parent width every target edge is
        # a parent edge — origin-aligned floor, NOT epoch DIV, which
        # would mislabel e.g. weekly buckets Thursday-aligned and
        # truncate toward zero for pre-epoch timestamps)
        within = seg.select(
            *gb,
            _grain_floor(st["first_us"], width, org).alias("_b"),
            st["integral"].alias("_num"),
            (st["last_us"] - st["first_us"]).cast("double").alias("_den"),
        )
        # boundary piece: LOCF segment [prev.last_us, first_us) at the
        # previous parent's last value, exploded over the target
        # buckets it overlaps (bounded by gap span / width)
        bnd = seg.filter(
            F.col("_pt").isNotNull() & (st["first_us"] > F.col("_pt"))
        ).select(
            *gb,
            F.col("_pt").alias("_t1"),
            st["first_us"].alias("_t2"),
            F.col("_pv").alias("_v"),
        )
        b0 = _grain_floor(F.col("_t1"), width, org)
        b1 = _grain_floor(F.col("_t2") - F.lit(1).cast("long"), width, org)
        ex = bnd.select(
            *gb,
            "_t1",
            "_t2",
            "_v",
            F.explode(F.sequence(b0, b1, wl)).alias("_b"),
        )
        overlap = F.least(F.col("_t2"), F.col("_b") + wl) - F.greatest(
            F.col("_t1"), F.col("_b")
        )
        pieces = within.unionByName(
            ex.select(
                *gb,
                "_b",
                (F.col("_v") * overlap.cast("double")).alias("_num"),
                overlap.cast("double").alias("_den"),
            )
        )
        out = (
            pieces.groupBy(*gb, "_b")
            .agg(
                F.sum("_num").alias("_num"),
                F.sum("_den").alias("_den"),
            )
            .filter(F.col("_den") > 0)
        )
        if self.row["time_is_timestamp"]:
            bcol = F.timestamp_micros(F.col("_b")).alias(bucket)
        else:
            bcol = F.col("_b").alias(bucket)
        return out.select(
            bcol,
            *gb,
            (F.col("_num") / F.col("_den")).alias("tw_avg"),
        )

    def interpolated_delta_at_grain(
        self,
        counter_col: Optional[str] = None,
        grain=None,
        realtime: Optional[bool] = None,
    ) -> DataFrame:
        """Serve the toolkit ``interpolated_delta/interpolated_rate(
        rollup(counter_agg(...)), start, width, prev, next)`` idiom
        from the stored counter partials: the reset-adjusted counter is
        a monotone piecewise-linear function; each target bucket's
        delta is its interpolated value at the bucket edges (a segment
        crossing an edge splits its increase between both buckets),
        rate divides by the covered duration. Exact from partials with
        zero raw rescans because every target edge (a multiple of the
        parent width) falls inside a BOUNDARY segment between adjacent
        partials — never strictly inside a parent's sample span — so
        the adjusted values at all evaluation points are recoverable
        from (first/last value+time, delta) alone: within-span pieces
        telescope to the stored delta, boundary pieces interpolate
        between exactly-known endpoints (semantics of
        functions/counters.py:interpolated_delta, the raw-scan analog).
        Target ``grain`` must be a multiple of the cagg's bucket width.

        Output: ``(bucket, group…, delta, rate)``."""
        from pyspark.sql import Window

        counter_col, _ = self._family_col(_COUNTERS, counter_col)
        width, base = self._interp_base(_COUNTERS, counter_col, grain, realtime)
        gb = list(self.row["group_by"])
        bucket = self.row["bucket_alias"]
        st = F.col("_st")
        w = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        prev_last = F.lag(st["last_val"]).over(w)
        bstep = st["first_val"] - prev_last
        binc = (
            F.when(prev_last.isNull(), F.lit(0.0))
            .when(bstep < 0, st["first_val"])
            .otherwise(bstep)
        )
        knots = base.select(
            *gb,
            "_src",
            st.alias("_st"),
            binc.alias("_binc"),
        )
        wc = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        cum_binc = F.sum("_binc").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum_delta_before = F.sum(st["delta"]).over(
            wc.rowsBetween(Window.unboundedPreceding, -1)
        )
        # anchor at the group's first sample VALUE (raw va(sample 1) =
        # v1): differences would cancel the anchor mathematically, but
        # the float interpolation below rounds differently under a
        # constant shift — anchoring reproduces the raw path's adjusted
        # values exactly (bit-for-bit with integer-quantized inputs)
        anchor = F.first(st["first_val"]).over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        vf = anchor + cum_binc + F.coalesce(cum_delta_before, F.lit(0.0))
        knots = knots.select(
            *gb,
            "_src",
            st["first_us"].alias("_fu"),
            st["last_us"].alias("_lu"),
            vf.alias("_vf"),
            (vf + st["delta"]).alias("_vl"),
        )
        wk = Window.partitionBy(*gb).orderBy(F.col("_src").asc())
        within = knots.select(
            *gb,
            F.col("_fu").alias("_t1"),
            F.col("_vf").alias("_v1"),
            F.col("_lu").alias("_t2"),
            F.col("_vl").alias("_v2"),
        )
        boundary = knots.select(
            *gb,
            F.lag("_lu").over(wk).alias("_t1"),
            F.lag("_vl").over(wk).alias("_v1"),
            F.col("_fu").alias("_t2"),
            F.col("_vf").alias("_v2"),
        ).filter(F.col("_t1").isNotNull())
        seg = within.unionByName(boundary).filter(
            F.col("_t2") > F.col("_t1")
        )
        wl = F.lit(width).cast("long")
        # origin-aligned target grid (same origin as the cagg's own
        # buckets, so target edges are parent edges — see
        # interpolated_average_at_grain)
        org = int(self.row.get("bucket_origin_us") or 0)
        b0 = _grain_floor(F.col("_t1"), width, org)
        b1 = _grain_floor(F.col("_t2") - F.lit(1).cast("long"), width, org)
        ex = seg.select(
            *gb,
            "_t1",
            "_v1",
            "_t2",
            "_v2",
            F.explode(F.sequence(b0, b1, wl)).alias("_b"),
        )
        lo = F.greatest(F.col("_t1"), F.col("_b"))
        hi = F.least(F.col("_t2"), F.col("_b") + wl)
        span = (F.col("_t2") - F.col("_t1")).cast("double")
        dv = F.col("_v2") - F.col("_v1")
        va_lo = F.col("_v1") + dv * (lo - F.col("_t1")).cast("double") / span
        va_hi = F.col("_v1") + dv * (hi - F.col("_t1")).cast("double") / span
        out = ex.groupBy(*gb, "_b").agg(
            F.sum(va_hi - va_lo).alias("delta"),
            (
                F.sum(va_hi - va_lo)
                / (F.sum((hi - lo).cast("double")) / F.lit(1e6))
            ).alias("rate"),
        )
        if self.row["time_is_timestamp"]:
            bcol = F.timestamp_micros(F.col("_b")).alias(bucket)
        else:
            bcol = F.col("_b").alias(bucket)
        return out.select(bcol, *gb, "delta", "rate")

    def time_weighted_at_grain(
        self,
        tw_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact time-weighted averages at any coarser grain from
        the stored partials — the toolkit
        ``average(rollup(time_weight(...)))`` idiom. Merging the
        consecutive parent partials inside each target bucket adds one
        interpolated boundary segment per adjacent pair (LOCF:
        ``A.last_val·Δt``; linear: ``(A.last_val+B.first_val)/2·Δt``),
        so the result equals ``time_weight → average`` over the raw
        rows of the target grain exactly; a single-sample target bucket
        returns that value (matching
        functions/counters.py:time_weighted_avg).

        Output: ``(bucket?, group…, tw_avg, n, first_us, last_us)``."""
        return self._serve(
            _TIME_WEIGHTS, tw_col, grain, group_by, realtime, start, end
        )

    def _candlestick_state(
        self, raw: DataFrame, col: str, spec: dict
    ) -> DataFrame:
        """Mergeable OHLC partial per (bucket, group): ``struct(n,
        first_us, last_us, open, high, low, close, volume, pv)`` —
        open/close are bookends on (time, tiebreak…), high/low/volume/
        pv are plain min/max/sums (``pv`` = Σ price·volume, so vwap
        survives the rollup). The toolkit ``candlestick_agg``
        decomposition (functions/stats.py:candlestick_agg is the
        raw-scan analog); every field merges losslessly across
        adjacent buckets, making :meth:`candlestick_at_grain` exact at
        any grain. Strict NULL semantics: NULL prices are skipped."""
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        tb = list(spec.get("tiebreak") or ())
        p = F.expr(spec["price"]).cast("double")
        vol_expr = spec.get("volume")
        vol = (
            F.lit(1.0)
            if vol_expr is None
            else F.expr(vol_expr).cast("double")
        )
        us = self._raw_time_us(raw)
        base = raw.select(
            self._bucket_expr(raw),
            *gb,
            *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)],
            us.alias("_us"),
            p.alias("_p"),
            vol.alias("_vol"),
        )
        # SQL-string expression build (round 17, see _over)
        bq, gbq = _q(balias), [_q(g) for g in gb]
        tbs = [f"_tb{i}" for i in range(len(tb))]
        key = (
            "CASE WHEN _p IS NOT NULL THEN named_struct('_us', _us"
            + "".join(f", '{t}', {t}" for t in tbs)
            + ") END"
        )
        base = base.selectExpr(
            bq, *gbq, "_us", "_p",
            "CASE WHEN _p IS NOT NULL THEN _vol END AS _vol",
            f"{key} AS _k",
        )
        flat = base.groupBy(balias, *gb).agg(
            F.expr("count(_p)").alias("_f_n"),
            F.expr(
                "min(CASE WHEN _p IS NOT NULL THEN _us END)"
            ).alias("_f_first_us"),
            F.expr(
                "max(CASE WHEN _p IS NOT NULL THEN _us END)"
            ).alias("_f_last_us"),
            F.expr("min_by(_p, _k)").alias("_f_open"),
            F.expr("max(_p)").alias("_f_high"),
            F.expr("min(_p)").alias("_f_low"),
            F.expr("max_by(_p, _k)").alias("_f_close"),
            F.expr("sum(_vol)").alias("_f_volume"),
            F.expr("sum(_p * _vol)").alias("_f_pv"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct("
            "'n', _f_n, 'first_us', _f_first_us, 'last_us', _f_last_us, "
            "'open', _f_open, 'high', _f_high, 'low', _f_low, "
            "'close', _f_close, 'volume', _f_volume, 'pv', _f_pv"
            f") END AS {_q(col)}",
        )

    def candlestick_at_grain(
        self,
        candle_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact OHLC/volume/vwap at any coarser grain from the
        stored partials — the toolkit ``rollup(candlestick_agg(...))``
        idiom. Parent buckets partition time disjointly, so the target
        bucket's open comes from its EARLIEST parent partial and its
        close from the LATEST; high/low/volume/pv merge commutatively,
        so subset ``group_by`` regrouping is allowed. When a subset
        ``group_by`` merges SERIES that share a first/last sample
        timestamp, the per-series tiebreak columns are not recoverable
        from the partials, so ties on ``first_us`` take the LOWEST open
        and ties on ``last_us`` the HIGHEST close (exact only when
        equal-time ties carry equal prices — the toolkit's equal-time
        ordering is unspecified too).

        Output: ``(bucket?, group…, open, high, low, close, volume,
        vwap, n, first_us, last_us)``."""
        return self._serve(
            _CANDLESTICKS, candle_col, grain, group_by, realtime, start, end
        )

    def _stateagg_state(
        self, raw: DataFrame, col: str, spec: dict
    ) -> DataFrame:
        """Mergeable STATE-AGG partial per (bucket, group): ``struct(n,
        first_us, last_us, first_state, last_state, durations)`` where
        ``durations`` maps each state to ``struct(d, n)`` — its
        within-bucket LOCF held time (µs) and sample count (toolkit
        ``state_agg`` decomposition;
        functions/state.py:state_durations is the raw-scan analog).
        Strict NULL semantics: NULL-state samples are skipped (they
        neither hold time nor break the LOCF chain); an all-NULL group
        keeps its row with a NULL state."""
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        tb = list(spec.get("tiebreak") or ())
        us = self._raw_time_us(raw)
        stepped = raw.select(
            self._bucket_expr(raw),
            *gb,
            *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)],
            us.alias("_us"),
            F.expr(spec["state"]).cast("string").alias("_s"),
        )
        # SQL-string expression build (round 17, see _over)
        bq, gbq = _q(balias), [_q(g) for g in gb]
        tbs = [f"_tb{i}" for i in range(len(tb))]
        # next NON-NULL sample's time (NULL states are skipped, so the
        # previous state holds across them). Round 17 (r16 verdict #3):
        # the ASC `first(…) OVER (1 FOLLOWING .. UNBOUNDED FOLLOWING)`
        # frame recomputes its scan per row — O(n²) in the bucket's row
        # count, quadratic on a single hot wide bucket. Since _us is
        # the LEADING sort key, the lookup is a suffix-min, so the
        # exact mirror is `last(…ignorenulls) OVER (UNBOUNDED PRECEDING
        # .. 1 PRECEDING)` under the reversed sort — O(n) running
        # state. The mirror is only row-identical when the order key is
        # unique, so _s is appended as the final disambiguator: rows
        # tied on the full (us, tiebreak…, state) key are
        # interchangeable for this computation (one of k identical
        # non-null rows absorbs the forward gap, the rest contribute 0
        # — the same duration MULTISET in any tie order), which ALSO
        # makes the per-state durations deterministic under (us,
        # tiebreak) ties, where the old position-based frame depended
        # on shuffle order.
        wo_desc = _over(
            [balias, *gb],
            ["_us DESC", *[f"{t} DESC" for t in tbs], "_s DESC"],
        )
        nxt_nn = (
            f"last(CASE WHEN _s IS NOT NULL THEN _us END, true) "
            f"OVER ({wo_desc} ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND 1 PRECEDING)"
        )
        key = (
            "CASE WHEN _s IS NOT NULL THEN named_struct('_us', _us"
            + "".join(f", '{t}', {t}" for t in tbs)
            + ") END"
        )
        stepped = stepped.selectExpr(
            bq,
            *gbq,
            "_s",
            f"CASE WHEN _s IS NOT NULL THEN "
            f"coalesce({nxt_nn}, _us) - _us END AS _dur",
            f"{key} AS _k",
        )
        stage1 = stepped.groupBy(balias, *gb, "_s").agg(
            F.expr("sum(_dur)").alias("_d"),
            F.expr("count(_k)").alias("_n"),
            F.expr("min(_k)").alias("_kmin"),
            F.expr("max(_k)").alias("_kmax"),
        )
        ent = (
            "CASE WHEN _s IS NOT NULL THEN named_struct("
            "'_s', _s, 'dn', named_struct('d', _d, 'n', _n)) END"
        )
        flat = stage1.groupBy(balias, *gb).agg(
            F.expr("sum(_n)").alias("_f_n"),
            F.expr("min(_kmin)").alias("_f_kmin"),
            F.expr("max(_kmax)").alias("_f_kmax"),
            F.expr("min_by(_s, _kmin)").alias("_f_first_state"),
            F.expr("max_by(_s, _kmax)").alias("_f_last_state"),
            F.expr(f"collect_list({ent})").alias("_f_ents"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct("
            "'n', _f_n, 'first_us', _f_kmin._us, 'last_us', _f_kmax._us, "
            "'first_state', _f_first_state, 'last_state', _f_last_state, "
            "'durations', map_from_entries(array_sort(_f_ents))"
            f") END AS {_q(col)}",
        )

    def state_durations_at_grain(
        self,
        state_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact per-state held durations at any coarser grain
        from the stored partials — the toolkit ``duration_in(state,
        rollup(state_agg(...)))`` idiom for every state at once.
        Merging consecutive partials inside a target bucket adds each
        boundary gap to the EARLIER partial's last state (LOCF), so
        the result equals ``state_durations`` over the raw rows of the
        target grain exactly.

        Output: ``(bucket?, group…, state, duration_us, n)``."""
        self._require_full_group_by(group_by, _STATE_AGGS)
        d, keys_gb, bucket, grain_all = self._partial_frame(
            _STATE_AGGS, state_col, grain, group_by, realtime, start, end
        )
        tcols = [] if grain_all else ["_tgt"]
        # SQL-string expression build (round 17, see _over)
        gbq = [_q(g) for g in keys_gb]
        wo = _over([*tcols, *keys_gb], ["_src ASC"])
        gap = f"(_st.first_us - lag(_st.last_us) OVER ({wo}))"
        d = d.selectExpr(
            *tcols,
            *gbq,
            "_st",
            f"lag(_st.last_state) OVER ({wo}) AS _bstate",
            f"CASE WHEN {gap} > 0 THEN {gap} END AS _bgap",
        )
        # within-partial per-state rows
        within = d.selectExpr(
            *tcols,
            *gbq,
            "explode(_st.durations) AS (state, _dn)",
        ).selectExpr(
            *tcols,
            *gbq,
            "state",
            "_dn.d AS _d",
            "_dn.n AS _n",
        )
        boundary = d.filter(
            F.col("_bstate").isNotNull() & F.col("_bgap").isNotNull()
        ).selectExpr(
            *tcols,
            *gbq,
            "_bstate AS state",
            "_bgap AS _d",
            "CAST(0 AS BIGINT) AS _n",
        )
        out = (
            within.unionByName(boundary)
            .groupBy(*tcols, *keys_gb, "state")
            .agg(
                F.sum("_d").alias("duration_us"),
                F.sum("_n").alias("n"),
            )
        )
        if grain_all:
            return out
        return out.withColumnRenamed("_tgt", bucket)

    # ----------------------- frequency (topn) + max_n/min_n partials
    def _freq_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """Mergeable FREQUENCY partial per (bucket, group):
        ``struct(n, counts: map<string,long>)`` — a Misra–Gries /
        SpaceSaving summary of at most ``capacity`` heavy hitters
        (toolkit ``freq_agg``/``topn_agg`` family;
        functions/stats.py:freq_sketch_topn is the raw-scan analog).
        Built from EXACT within-bucket counts (a cagg bucket bounds the
        group), then trimmed; states merge by summed lower bounds +
        re-trim, so :meth:`topn_at_grain` serves heavy hitters at any
        coarser grain with the mergeable-summaries error bound — and
        exactly when every bucket's distinct count fits the capacity.
        Strict NULL semantics: NULL values are skipped; n counts
        non-null samples."""
        cap = int(spec.get("capacity", 256))
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        v = F.expr(spec["value"]).cast("string")
        # exact (bucket, group, value) counts first — the map-side
        # combine collapses rows to distinct values before the exchange
        cnt = (
            raw.select(self._bucket_expr(raw), *gb, v.alias("_v"))
            .groupBy(balias, *gb, "_v")
            .agg(F.expr("count(_v)").alias("_c"))
        )
        # bound the per-group state BEFORE collecting: a rank window
        # keeps only the capacity+1 heaviest values (the trim needs the
        # (cap+1)-th count as the cut; everything ranked below has
        # count ≤ cut and would be trimmed to ≤ 0 anyway), and the same
        # exchange carries the group's total-sample sum — collect_list
        # is then bounded by capacity+1 entries, never the distinct
        # cardinality (the unbounded-collect trap _maxn_state avoids
        # the same way). SQL-string expression build (round 17, see
        # _over); group total as a FULL frame of the same ordered spec:
        # one sort, one WindowExec (round 14 — the merge_states trick).
        bq, gbq = _q(balias), [_q(g) for g in gb]
        wo = _over([balias, *gb], ["_c DESC", "_v ASC NULLS LAST"])
        ranked = cnt.selectExpr(
            bq,
            *gbq,
            "_v",
            "_c",
            f"row_number() OVER ({wo}) AS _rk",
            f"sum(_c) OVER ({wo} ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND UNBOUNDED FOLLOWING) AS _tot",
        ).filter(F.col("_rk") <= cap + 1)
        flat = ranked.groupBy(balias, *gb).agg(
            F.expr("min(_tot)").alias("_f_n"),
            F.expr(
                "collect_list(CASE WHEN _v IS NOT NULL THEN "
                "named_struct('c', _c, 'v', _v) END)"
            ).alias("_f_ents"),
        )
        sorted_expr, counts = _mg_trim_exprs("_f_ents", cap)
        flat = flat.select(balias, *gb, "_f_n", sorted_expr.alias("_f_se"))
        return flat.select(
            balias,
            *gb,
            F.when(
                F.col("_f_n") > 0,
                F.struct(
                    F.col("_f_n").alias("n"), counts.alias("counts")
                ),
            ).alias(col),
        )

    def topn_at_grain(
        self,
        freq_col: Optional[str] = None,
        n: int = 10,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve the ``n`` most frequent values at any coarser grain
        from the stored Misra–Gries states — the toolkit
        ``topn(rollup(freq_agg(...)), n)`` idiom ("top URLs per hour,
        served per day"). Per-value lower bounds sum across merged
        states; any value with true frequency > N/(capacity+1) is
        guaranteed to surface, counts are lower bounds — and EXACT
        (so the top-n itself is exact) whenever every source bucket's
        distinct count fits its capacity. Subset ``group_by``
        regrouping is allowed (commutative merge). Deterministic order:
        count desc, value asc.

        Output: ``(bucket?, group…, value, freq_lb)``."""
        from pyspark.sql import Window

        d, keys_gb, bucket, grain_all = self._partial_frame(
            _FREQ_AGGS, freq_col, grain, group_by, realtime, start, end
        )
        tcols = [] if grain_all else ["_tgt"]
        merged = (
            d.select(
                *tcols,
                *keys_gb,
                F.explode(F.col("_st")["counts"]).alias("value", "_c"),
            )
            .groupBy(*tcols, *keys_gb, "value")
            .agg(F.sum("_c").alias("freq_lb"))
        )
        order = [F.col("freq_lb").desc(), F.col("value").asc()]
        if not tcols and not keys_gb:
            # global top-n: TakeOrderedAndProject, never an all-rows
            # single-partition window
            return merged.orderBy(*order).limit(n)
        w = Window.partitionBy(*tcols, *keys_gb).orderBy(*order)
        out = (
            merged.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= n)
            .drop("_rk")
        )
        if grain_all:
            return out
        return out.withColumnRenamed("_tgt", bucket)

    def _maxn_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """Mergeable MAX-N/MIN-N candidate list per (bucket, group):
        ``struct(n, vals: array<double>)`` — the ``n`` largest (or
        smallest) values, sorted. Top-n is an exactly-mergeable
        summary (top-n of a union = top-n of the concatenated
        candidate lists), so :meth:`max_n_at_grain` is exact at every
        grain (toolkit ``max_n``/``min_n``;
        functions/stats.py:max_n is the raw-scan analog). The
        candidate list is built with a bounded rank window — never a
        whole-bucket collect.

        With a ``"by"`` payload expression (toolkit ``max_n_by(value,
        data, n)``) the state carries a parallel ``data`` array —
        entries ordered by (value, data) in the list's direction, so
        value ties resolve deterministically by payload and merges stay
        exact on the (value, data) total order."""
        keep = int(spec.get("n", 5))
        desc = bool(spec.get("desc", True))
        by = spec.get("by")
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        v = F.expr(spec["value"]).cast("double")
        # SQL-string expression build (round 17, see _over).
        # NULLS LAST so NULL rows never occupy a kept rank, while still
        # riding the same window — every (bucket, group) keeps its row,
        # with a NULL state when all values were NULL (strict)
        bq, gbq = _q(balias), [_q(g) for g in gb]
        if by is not None:
            base = raw.select(
                self._bucket_expr(raw),
                *gb,
                v.alias("_v"),
                F.expr(by).alias("_d"),
            )
            wo = _over(
                [balias, *gb],
                ["_v DESC NULLS LAST", "_d DESC NULLS LAST"]
                if desc
                else ["_v ASC NULLS LAST", "_d ASC NULLS LAST"],
            )
            ranked = base.selectExpr(
                bq, *gbq, "_v", "_d", f"row_number() OVER ({wo}) AS _rk"
            )
            # sort stored entries by the selection rank, not by the
            # (v, d) struct: struct comparison orders NULL payloads
            # smallest, which for asc contradicts the window's
            # *_nulls_last payload order at value-tie keep boundaries
            flat = ranked.groupBy(balias, *gb).agg(
                F.expr("count(_v)").alias("_f_n"),
                F.expr(
                    f"sort_array(collect_list(CASE WHEN _rk <= {keep} "
                    f"AND _v IS NOT NULL THEN named_struct("
                    f"'r', _rk, 'v', _v, 'd', _d) END), true)"
                ).alias("_f_ents"),
            )
            return flat.selectExpr(
                bq,
                *gbq,
                "CASE WHEN _f_n > 0 THEN named_struct('n', _f_n, "
                "'vals', transform(_f_ents, e -> e.v), "
                f"'data', transform(_f_ents, e -> e.d)) END AS {_q(col)}",
            )
        base = raw.select(self._bucket_expr(raw), *gb, v.alias("_v"))
        wo = _over(
            [balias, *gb],
            ["_v DESC NULLS LAST" if desc else "_v ASC NULLS LAST"],
        )
        ranked = base.selectExpr(
            bq, *gbq, "_v", f"row_number() OVER ({wo}) AS _rk"
        )
        flat = ranked.groupBy(balias, *gb).agg(
            F.expr("count(_v)").alias("_f_n"),
            F.expr(
                f"sort_array(collect_list(CASE WHEN _rk <= {keep} "
                f"AND _v IS NOT NULL THEN _v END), "
                f"{str(not desc).lower()})"
            ).alias("_f_vals"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct('n', _f_n, "
            f"'vals', _f_vals) END AS {_q(col)}",
        )

    def max_n_at_grain(
        self,
        maxn_col: Optional[str] = None,
        n: Optional[int] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve the ``n`` largest/smallest values at any coarser grain
        from the stored candidate lists — the toolkit
        ``into_values(rollup(max_n(...)))`` idiom. Exact at every
        grain: the target's top-n is the top-n of the concatenated
        per-bucket candidate lists (each list kept at least as many
        values as any request can need). ``n`` defaults to the stored
        list length; requesting more raises. Subset ``group_by``
        regrouping is allowed.

        Output: ``(bucket?, group…, value)`` rows, best-first —
        ``(bucket?, group…, value, data)`` for a ``max_n_by`` column
        (value ties ordered by payload in the list's direction)."""
        from pyspark.sql import Window

        maxn_col, spec = self._family_col(_MAXN_AGGS, maxn_col)
        keep = int(spec.get("n", 5))
        desc = bool(spec.get("desc", True))
        has_by = spec.get("by") is not None
        if n is None:
            n = keep
        if n > keep:
            raise ValueError(
                f"max_n_at_grain(n={n}) exceeds the stored candidate "
                f"list length ({keep}) — recreate the cagg with a "
                f"larger n"
            )
        d, keys_gb, bucket, grain_all = self._partial_frame_for_col(
            maxn_col, grain, group_by, realtime, start, end
        )
        tcols = [] if grain_all else ["_tgt"]
        if has_by:
            ex = d.select(
                *tcols,
                *keys_gb,
                F.explode(
                    F.arrays_zip(
                        F.col("_st")["vals"].alias("v"),
                        F.col("_st")["data"].alias("d"),
                    )
                ).alias("_e"),
            ).select(
                *tcols,
                *keys_gb,
                F.col("_e.v").alias("value"),
                F.col("_e.d").alias("data"),
            )
            order = (
                [F.col("value").desc(), F.col("data").desc_nulls_last()]
                if desc
                else [F.col("value").asc(), F.col("data").asc_nulls_last()]
            )
        else:
            ex = d.select(
                *tcols,
                *keys_gb,
                F.explode(F.col("_st")["vals"]).alias("value"),
            )
            order = [
                F.col("value").desc() if desc else F.col("value").asc()
            ]
        if not tcols and not keys_gb:
            return ex.orderBy(*order).limit(n)
        w = Window.partitionBy(*tcols, *keys_gb).orderBy(*order)
        out = (
            ex.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= n)
            .drop("_rk")
        )
        if grain_all:
            return out
        return out.withColumnRenamed("_tgt", bucket)

    def interpolated_duration_in_at_grain(
        self,
        state,
        state_col: Optional[str] = None,
        grain=None,
        realtime: Optional[bool] = None,
    ) -> DataFrame:
        """Serve the toolkit ``interpolated_duration_in(state,
        rollup(state_agg(...)), start, width, prev, next)`` idiom from
        the stored state partials: the samples define ONE global LOCF
        state machine; each target bucket accrues the time the machine
        spent in ``state`` within it — so a state carried across a
        bucket edge (or through an empty bucket) still accrues there,
        what per-bucket ``duration_in`` gets wrong.

        Exact from partials with zero raw rescans below the watermark:
        within-parent held time lies inside the parent's sample span
        (⊆ one target bucket, since parents nest on the shared
        origin-aligned grid) and lands there; each boundary segment
        ([A.last_us, B.first_us) held at A's last state) explodes over
        the target buckets it overlaps with exact int64-µs overlap
        arithmetic (functions/state.py:interpolated_duration_in is the
        raw-scan analog — with non-NULL state samples the two agree
        bit-for-bit; NULL samples end a raw segment but are transparent
        to the partials' LOCF, the state_agg convention). Target
        ``grain`` must be a multiple of the cagg's bucket width.

        Output: ``(bucket, group…, duration_us)``."""
        state_col, _ = self._family_col(_STATE_AGGS, state_col)
        width, base = self._interp_base(
            _STATE_AGGS, state_col, grain, realtime
        )
        gb = list(self.row["group_by"])
        bucket = self.row["bucket_alias"]
        # SQL-string expression build (round 17, see _over)
        gbq = [_q(g) for g in gb]
        wo = _over(gb, ["_src ASC"])
        seg = base.selectExpr(
            *gbq,
            "_st",
            f"lag(_st.last_us) OVER ({wo}) AS _pt",
            f"lag(_st.last_state) OVER ({wo}) AS _ps",
        )
        org = int(self.row.get("bucket_origin_us") or 0)
        ssq = "'" + str(state).replace("'", "''") + "'"
        # within-parent piece: the stored per-state held time for the
        # requested state, entirely inside one target bucket
        within = seg.selectExpr(
            *gbq,
            _grain_floor_sql("_st.first_us", width, org) + " AS _b",
            f"coalesce(element_at(_st.durations, {ssq}).d, "
            f"CAST(0 AS BIGINT)) AS _d",
        ).filter(F.col("_d") > 0)
        # boundary piece: LOCF segment at the previous parent's last
        # state, exploded over the target buckets it overlaps
        bnd = seg.filter(
            F.expr(
                f"_pt IS NOT NULL AND _st.first_us > _pt "
                f"AND _ps <=> {ssq}"
            )
        ).selectExpr(*gbq, "_pt AS _t1", "_st.first_us AS _t2")
        b0 = _grain_floor_sql("_t1", width, org)
        b1 = _grain_floor_sql("(_t2 - CAST(1 AS BIGINT))", width, org)
        ex = bnd.selectExpr(
            *gbq,
            "_t1",
            "_t2",
            f"explode(sequence({b0}, {b1}, "
            f"CAST({int(width)} AS BIGINT))) AS _b",
        )
        pieces = within.unionByName(
            ex.selectExpr(
                *gbq,
                "_b",
                f"least(_t2, _b + CAST({int(width)} AS BIGINT)) - "
                f"greatest(_t1, _b) AS _d",
            )
        )
        out = pieces.groupBy(*gb, "_b").agg(
            F.expr("sum(_d)").alias("duration_us")
        )
        if self.row["time_is_timestamp"]:
            bcol = F.timestamp_micros(F.col("_b")).alias(bucket)
        else:
            bcol = F.col("_b").alias(bucket)
        return out.select(bcol, *gb, "duration_us")

    # ------------------------------------------ heartbeat partials
    def _heartbeat_state(
        self, raw: DataFrame, col: str, spec: dict
    ) -> DataFrame:
        """Mergeable HEARTBEAT (liveness) partial per (bucket, group):
        ``struct(n, first_us, last_us, live_us, ranges)`` — every
        heartbeat asserts liveness for ``liveness`` after it; live_us
        is the union length of those intervals over the bucket's own
        heartbeats with the LAST beat contributing its full interval
        (toolkit ``heartbeat_agg``; functions/state.py:heartbeat_agg
        is the raw-scan analog). Merging two adjacent partials needs
        only one boundary correction — the earlier partial's last beat
        contributed L but should contribute ``min(gap, L)`` — so
        :meth:`heartbeat_at_grain` serves exact liveness rollups at
        any grain, the ops analog of the counter family."""
        liv = int(spec["liveness_us"])
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        tb = list(spec.get("tiebreak") or ())
        us = self._raw_time_us(raw)
        base = raw.select(
            self._bucket_expr(raw),
            *gb,
            *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)],
            us.alias("_us"),
        )
        # SQL-string expression build (round 17, see _over)
        bq, gbq = _q(balias), [_q(g) for g in gb]
        tbs = [f"_tb{i}" for i in range(len(tb))]
        wo = _over(
            [balias, *gb], ["_us ASC", *[f"{t} ASC" for t in tbs]]
        )
        gap = f"(lead(_us) OVER ({wo}) - _us)"
        stepped = base.selectExpr(
            bq,
            *gbq,
            "_us",
            f"CASE WHEN {gap} IS NULL THEN {liv} "
            f"ELSE least({gap}, {liv}) END AS _live",
            f"CAST(({gap} > {liv}) AS BIGINT) AS _brk",
        )
        flat = stepped.groupBy(balias, *gb).agg(
            F.expr("count(1)").alias("_f_n"),
            F.expr("min(_us)").alias("_f_first"),
            F.expr("max(_us)").alias("_f_last"),
            F.expr("sum(_live)").alias("_f_live"),
            F.expr("1 + coalesce(sum(_brk), 0)").alias("_f_ranges"),
        )
        return flat.selectExpr(
            bq,
            *gbq,
            "CASE WHEN _f_n > 0 THEN named_struct("
            "'n', _f_n, 'first_us', _f_first, 'last_us', _f_last, "
            f"'live_us', _f_live, 'ranges', _f_ranges) END AS {_q(col)}",
        )

    def heartbeat_at_grain(
        self,
        hb_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve exact liveness statistics at any coarser grain from
        the stored heartbeat partials — the toolkit
        ``rollup(heartbeat_agg(...))`` → ``live_time/dead_time/
        num_live_ranges`` idiom. Identical to ``heartbeat_agg`` over
        the raw heartbeats of the target grain: within-bucket unions
        are stored, each adjacent pair adds one boundary correction.
        ``dead_us`` is the uncovered time within the observed span
        ``[first_us, last_us + L)``. Ordered merge within one series —
        full ``group_by`` required like counters/gauges.

        Output: ``(bucket?, group…, n, live_us, dead_us,
        num_live_ranges, first_us, last_us)``.

        DOCUMENTED DEVIATION from toolkit ``heartbeat_agg(ts, start,
        agg_interval, liveness)``: the toolkit declares an aggregation
        interval and clips liveness at its edges; this accessor
        measures over the OBSERVED span instead — the last beat's
        liveness tail is never clipped at the bucket edge (``live_us``
        can exceed the bucket span; the tail is not credited to the
        next bucket) and ``dead_us`` covers ``[first_us, last_us+L)``,
        not a declared interval. For toolkit-style declared-interval
        numbers use :meth:`heartbeat_interpolated_at_grain`, which
        clips each bucket to its own span and credits cross-edge tails
        to the next bucket."""
        return self._serve(
            _HEARTBEAT_AGGS, hb_col, grain, group_by, realtime, start, end
        )

    def heartbeat_interpolated_at_grain(
        self,
        hb_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Toolkit-style DECLARED-INTERVAL heartbeat serve —
        ``interpolated_live_time`` / ``interpolated_dead_time``
        (toolkit heartbeat_agg with start/agg_interval): each target
        bucket is its own declared interval, so

        - the last beat's liveness tail is CLIPPED at the bucket edge
          and the clipped portion is credited to the NEXT bucket that
          has beats (only the previous bucket's last beat can reach —
          every earlier beat's credited span ends at the next beat,
          which is still inside its own bucket);
        - ``dead_us`` is ``bucket_width − live_us`` (time before the
          first beat / after the last tail inside the bucket counts
          dead, unlike :meth:`heartbeat_at_grain`'s observed-span
          rule).

        Exactly the interval-algebra replay of the raw per-beat
        segments ``[t, min(t+L, next_t))`` clipped per bucket (the
        oracle-gate contract). Buckets with no heartbeats of their own
        emit no row, even when a previous tail reaches into them.
        Fixed-width grains only. One extra ``lag`` window over the
        per-bucket merged stats — O(buckets), not O(beats)."""
        from pyspark.sql import Window

        hb_col, spec = self._family_col(_HEARTBEAT_AGGS, hb_col)
        liv = int(spec["liveness_us"])
        if grain == "all":
            raise ValueError(
                "interpolated heartbeat needs a fixed-width grain "
                "(each bucket is the declared agg interval)"
            )
        if grain is None:
            if self.row.get("bucket_width_months"):
                raise ValueError(
                    "interpolated heartbeat needs a fixed-width grain"
                )
            width = int(self.row["bucket_width_us"])
        elif isinstance(grain, int):
            width = int(grain)
        else:
            iv = parse_interval(grain)
            if iv.months:
                raise ValueError(
                    "interpolated heartbeat needs a fixed-width grain"
                )
            width = iv.us
        base = self.heartbeat_at_grain(
            hb_col, grain, group_by, realtime, start, end
        )
        bucket = self.row["bucket_alias"]
        gb = list(self.row["group_by"] if group_by is None else group_by)
        if self.row["time_is_timestamp"]:
            tgt_us = F.unix_micros(F.col(bucket))
        else:
            tgt_us = F.col(bucket).cast("long")
        w = Window.partitionBy(*gb).orderBy(F.col(bucket).asc())
        prev_last = F.lag("last_us").over(w)
        ll = F.lit(liv).cast("long")
        wl = F.lit(width).cast("long")
        tail_out = F.greatest(
            F.lit(0).cast("long"),
            F.col("last_us") + ll - (tgt_us + wl),
        )
        reach = F.least(prev_last + ll, F.col("first_us"))
        carry = F.when(
            prev_last.isNotNull(),
            F.greatest(F.lit(0).cast("long"), reach - tgt_us),
        ).otherwise(F.lit(0).cast("long"))
        live2 = F.col("live_us") - tail_out + carry
        # the carried tail is a separate range unless it touches the
        # first beat ([start, reach) meets [first_us, ...) iff
        # reach == first_us)
        ranges2 = F.col("num_live_ranges") + F.when(
            (carry > 0) & (reach < F.col("first_us")), F.lit(1)
        ).otherwise(F.lit(0))
        return base.select(
            bucket,
            *gb,
            "n",
            live2.alias("live_us"),
            (wl - live2).alias("dead_us"),
            ranges2.alias("num_live_ranges"),
        )

    # ------------------------------------------ t-digest partials
    def _tdigest_state(self, raw: DataFrame, col: str, spec: dict) -> DataFrame:
        """Mergeable T-DIGEST partial per (bucket, group):
        ``struct(n, min, max, means, weights)`` — ≤ ``delta`` centroids
        binned by the k1 scale function, singletons (lossless) while
        the bucket holds ≤ ``delta`` values (toolkit ``tdigest``;
        functions/tdigest.py has the algorithm notes and the raw-scan
        analog). States merge order-independently (global re-sort +
        re-bin), so :meth:`tdigest_quantiles_at_grain` serves
        percentiles at any coarser grain with free regrouping — the
        rank-error sibling of the DDSketch family."""
        from .functions.tdigest import build_states

        delta = int(spec.get("delta", 200))
        balias = self.row["bucket_alias"]
        gb = list(self.row["group_by"])
        return build_states(
            raw.select(self._bucket_expr(raw), *gb,
                       F.expr(spec["value"]).alias("_tdv")),
            [balias, *gb],
            F.col("_tdv"),
            delta,
            col,
        )

    def tdigest_quantiles_at_grain(
        self,
        qs: Sequence[float],
        td_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve percentiles from the stored t-digest states — the
        toolkit ``approx_percentile(q, rollup(tdigest(...)))`` idiom.
        States merge commutatively (re-sort + re-bin by cumulative
        weight), so any coarser grain and any SUBSET regrouping are
        allowed, like the sketch family. Exact (type-7 /
        ``percentile_cont``) whenever the merged digest stays lossless
        (total values per served group ≤ delta) — the oracle-gate
        contract; rank-error ≲ π/(2·delta) otherwise.

        Output: ``(bucket?, group…, n, min_val, max_val, p50, …)``."""
        from .functions.tdigest import tdigest_quantiles

        merged, keys, bucket = self._merged_tdigest(
            td_col, grain, group_by, realtime, start, end
        )
        out = tdigest_quantiles(merged, list(qs), by=keys, state_col="_td")
        return out.withColumnRenamed("_tgt", bucket)

    def tdigest_summary_at_grain(
        self,
        td_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """The t-digest's EXACT scalar accessors (``num_vals`` /
        ``min_val`` / ``max_val``) served at any grain — the no-quantile
        projection of :meth:`tdigest_quantiles_at_grain` (the SQL
        accessor route's entry point)."""
        return self.tdigest_quantiles_at_grain(
            [], td_col, grain, group_by, realtime, start, end
        )

    def tdigest_rank_at_grain(
        self,
        value: float,
        td_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        out: str = "rank",
        start=None,
        end=None,
    ) -> DataFrame:
        """``approx_percentile_rank(value, rollup(tdigest(...)))`` —
        the t-digest inverse (CDF) accessor: fraction of ingested
        values ≤ ``value`` per served bucket/group, from the stored
        states under the same merge/grain/realtime rules as
        :meth:`tdigest_quantiles_at_grain`. Exact while the merged
        digest stays lossless (the oracle-gate contract); standard
        centroid-midpoint CDF interpolation otherwise."""
        from .functions.tdigest import tdigest_rank

        merged, keys, bucket = self._merged_tdigest(
            td_col, grain, group_by, realtime, start, end
        )
        res = tdigest_rank(merged, value, by=keys, state_col="_td", out=out)
        return res.withColumnRenamed("_tgt", bucket)

    def _merged_tdigest(self, td_col, grain, group_by, realtime, start, end):
        """Stored t-digest states merged per target key (``_td``):
        ``(frame, keys, bucket_alias)``."""
        from .functions.tdigest import merge_states

        td_col, spec = self._family_col(_TDIGEST_AGGS, td_col)
        d, keys_gb, bucket, grain_all = self._partial_frame_for_col(
            td_col, grain, group_by, realtime, start, end
        )
        keys = keys_gb if grain_all else ["_tgt", *keys_gb]
        merged = merge_states(
            d.select(*keys, "_st"),
            keys,
            "_st",
            int(spec.get("delta", 200)),
            "_td",
        )
        return merged, keys, bucket

    # --------------------------- hierarchical state merges (rollup_of)
    def _rollup_frame(self, raw: DataFrame, src: str):
        """(child-bucket, group…, _src, _st) over the PARENT cagg's
        stored states — the input of every hierarchical merge. ``_src``
        is the parent bucket in internal µs (the ordering key; parent
        buckets partition time disjointly). NULL parent states are KEPT
        and masked downstream so an all-NULL child group still gets a
        row with a NULL state (strict semantics, like the raw
        builders)."""
        return raw.select(
            self._bucket_expr(raw),
            *self.row["group_by"],
            self._raw_time_us(raw).alias("_src"),
            F.col(src).alias("_st"),
        )

    def _interp_base(self, fam: PartialFamily, col: str, grain, realtime):
        """``(width, frame(group…, _src, _st))`` for the interpolated
        accessors: ``_src`` is the parent bucket in internal µs, NULL
        states are skipped, and ``grain`` must be a fixed multiple of
        the cagg's bucket width (parent buckets nest, so every target
        edge is a parent edge)."""
        if grain is None:
            raise ValueError(f"{fam.interp_serve} needs an explicit grain")
        if self.row["time_is_timestamp"]:
            iv = parse_interval(grain)
            if iv.months:
                raise ValueError("needs a fixed-width grain")
            width = iv.us
        else:
            width = int(grain)
        pw = int(self.row["bucket_width_us"])
        if (
            self.row.get("bucket_width_months")
            or width <= 0
            or width % pw != 0
        ):
            raise ValueError(
                "grain must be a positive integer multiple of the "
                "cagg's fixed bucket width (parent buckets must nest)"
            )
        bucket = self.row["bucket_alias"]
        df = self.read(realtime=realtime, only_cols=[col])
        if self.row["time_is_timestamp"]:
            src_us = F.unix_micros(F.col(bucket).cast("timestamp"))
        else:
            src_us = F.col(bucket).cast("long")
        base = df.select(
            *self.row["group_by"], src_us.alias("_src"), F.col(col).alias("_st")
        ).filter(F.col("_st").isNotNull())
        return width, base

    def _require_full_group_by(self, group_by, fam: PartialFamily) -> None:
        """Ordered partials (counter, gauge, time-weight, state-agg,
        heartbeat) are only mergeable WITHIN one series: regrouping on
        a subset of the cagg's group columns would merge partials from
        different series into one ordered-by-``_src`` window, making
        the boundary math nondeterministic (several partials share each
        parent bucket) and semantically wrong. Commutative states
        (sketch/stats/candlestick/HLL/…) keep free regrouping."""
        if group_by is None:
            return
        missing = [c for c in self.row["group_by"] if c not in set(group_by)]
        if missing:
            raise ValueError(
                f"{fam.serve}(group_by=...) must include every group "
                f"column of cagg {self.name!r} (missing {missing}): "
                f"{fam.label} partials are only mergeable within a "
                f"single series"
            )

    def _family_col(self, fam: PartialFamily, col: Optional[str]):
        """``(col, spec)`` of a ``fam`` partial column; ``col=None``
        picks the cagg's only one."""
        specs = self.row.get(fam.key) or {}
        if not specs:
            raise ValueError(
                f"cagg {self.name!r} has no {fam.label} columns (pass "
                f"{fam.key}= to create_cagg)"
            )
        if col is None:
            if len(specs) > 1:
                raise ValueError(
                    f"cagg {self.name!r} has several {fam.label} columns "
                    f"{sorted(specs)}; pass the column name"
                )
            col = next(iter(specs))
        if col not in specs:
            raise KeyError(f"no {fam.label} column {col!r}")
        return col, specs[col]

    def _partial_frame(
        self, fam: PartialFamily, col, grain, group_by, realtime, start, end
    ):
        """:meth:`_partial_frame_for_col` for a ``fam`` column
        (``col=None`` picks the cagg's only one)."""
        col, _ = self._family_col(fam, col)
        return self._partial_frame_for_col(
            col, grain, group_by, realtime, start, end
        )

    def _serve(
        self, fam: PartialFamily, col, grain, group_by, realtime, start, end
    ) -> DataFrame:
        """At-grain read of a fieldwise/ordered family: the family merge
        over the target keys, projected through its finalize."""
        col, spec = self._family_col(fam, col)
        shape = fam.shape(spec)
        if fam.ordered:
            self._require_full_group_by(group_by, shape)
        d, keys_gb, bucket, grain_all = self._partial_frame_for_col(
            col, grain, group_by, realtime, start, end
        )
        keys = keys_gb if grain_all else ["_tgt", *keys_gb]
        out = shape.merge_fields(d, keys, spec).selectExpr(
            *[_q(k) for k in keys],
            *[e.format(**spec) for e in shape.finalize],
        )
        return out if grain_all else out.withColumnRenamed("_tgt", bucket)

    def distinct_at_grain(
        self,
        hll_col: str,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
        out: str = "approx_distinct",
    ) -> DataFrame:
        """Serve approximate distinct counts at any coarser grain from a
        stored HLL column (an ``aggs`` entry built with
        ``hll_sketch_agg(col)``) — the toolkit
        ``distinct_count(rollup(hll(...)))`` idiom via Spark's native
        ``hll_union_agg`` + ``hll_sketch_estimate``. Same grain /
        bounds / realtime rules as the other partial accessors."""
        if hll_col not in (self.row.get("aggs") or {}):
            raise KeyError(
                f"{hll_col!r} is not an aggs column of cagg {self.name!r}"
            )
        # reuse the shared scaffold by treating the HLL aggs column as
        # the partial payload
        d, keys_gb, bucket, grain_all = self._partial_frame_for_col(
            hll_col, grain, group_by, realtime, start, end
        )
        tcols = [] if grain_all else ["_tgt"]
        out_df = d.groupBy(*tcols, *keys_gb).agg(
            F.expr("hll_sketch_estimate(hll_union_agg(_st))").alias(out)
        )
        if grain_all:
            return out_df
        return out_df.withColumnRenamed("_tgt", bucket)

    def _partial_frame_for_col(
        self, col: str, grain, group_by, realtime, start, end
    ):
        """:meth:`_partial_frame` body for an explicit column name (no
        kind-dict resolution)."""
        from .functions.time import time_bucket

        bucket = self.row["bucket_alias"]
        gb = list(self.row["group_by"] if group_by is None else group_by)
        df = self.read(realtime=realtime, only_cols=[col])
        if start is not None or end is not None:
            bc = F.col(bucket)
            if self.row["time_is_timestamp"]:
                conv = lambda x: F.lit(x).cast("timestamp")  # noqa: E731
            else:
                conv = lambda x: F.lit(int(x))  # noqa: E731
            if start is not None:
                df = df.filter(bc >= conv(start))
            if end is not None:
                df = df.filter(bc < conv(end))
        # strict rollup semantics: a NULL state (a group whose partial
        # inputs were all NULL) is skipped at merge time, like the
        # toolkit's strict rollup() aggregate. Filter AFTER the rename
        # select — a filter on the raw state column between the mat
        # read and the select trips Spark 4.1.2's RemoveRedundantAliases
        # into an unresolved plan (same bug family as d42cb25).
        if grain == "all":
            # no constant target column: a literal group/partition key
            # trips Catalyst's RemoveRedundantAliases into an unresolved
            # plan (observed on the gauge accessor) and adds nothing
            return (
                df.select(
                    *gb,
                    F.col(bucket).alias("_src"),
                    F.col(col).alias("_st"),
                ).filter(F.col("_st").isNotNull()),
                gb,
                bucket,
                True,
            )
        if grain is not None:
            if not self.row["time_is_timestamp"]:
                from .functions.time import time_bucket_int

                tgt = time_bucket_int(int(grain), bucket)
            else:
                tgt = time_bucket(grain, bucket)
        else:
            tgt = F.col(bucket)
        return (
            df.select(
                tgt.alias("_tgt"),
                *gb,
                F.col(bucket).alias("_src"),
                F.col(col).alias("_st"),
            ).filter(F.col("_st").isNotNull()),
            gb,
            bucket,
            False,
        )

    def set_materialized_only(self, flag: bool) -> None:
        """``ALTER MATERIALIZED VIEW .. SET (timescaledb.materialized_only
        = ..)`` (tsl/src/continuous_aggs/options.c): toggles whether the
        user view unions the realtime tail above the watermark."""
        self.ts.catalog.continuous_agg.update(
            {"name": self.name}, {"materialized_only": bool(flag)}
        )
        self.row["materialized_only"] = bool(flag)

    def watermark(self) -> Optional[int]:
        """``cagg_watermark`` (sql/util_time.sql:52): end of the last
        materialized bucket, int64 internal."""
        row = self.ts.catalog.cagg_watermark.find_one(cagg_id=self.id)
        return None if row is None or row["watermark"] is None else int(row["watermark"])

    # ------------------------------------------------------------ refresh
    def refresh(
        self,
        start: Union[int, str, datetime, None] = None,
        end: Union[int, str, datetime, None] = None,
        verbose: bool = False,
        force: bool = False,
        buckets_per_batch: int = 0,
        max_batches: int = 0,
        refresh_newest_first: bool = False,
    ) -> list[tuple[int, int]]:
        """``refresh_continuous_aggregate(cagg, start, end[, force,
        options])`` (``tsl/src/continuous_aggs/refresh.c:735``).

        ``force`` re-materializes the whole requested window even when
        the invalidation log shows nothing dirty (reference 2.18 —
        rebuilds after out-of-band changes).

        Incremental refresh (``continuous_agg_refresh_batched``,
        refresh.c:628; the 2.18 options JSONB / policy columns):
        ``buckets_per_batch`` splits each dirty range into
        bucket-aligned batches materialized as separate jobs (0 =
        single atomic pass); ``max_batches`` bounds the batches per
        call, pushing the remainder BACK into the invalidation log so
        the next call continues where this one stopped (the policy's
        bounded-work contract); ``refresh_newest_first`` processes
        batches newest-first so fresh data serves before the backfill
        finishes. Infinite-sentinel range ends stay unsplit (they cost
        nothing to materialize beyond the data they cover) — batching
        splits the data-covered middle.

        Returns the ranges actually materialized (internal units,
        half-open)."""
        cat = self.ts.catalog
        src = self._source()

        lo = _to_internal(start)
        hi = _to_internal(end)
        open_end = hi is None
        if lo is None:
            lo = INT64_MIN
        if hi is None:
            # refresh everything seen so far — up to the LAST ROW, not
            # the last chunk boundary: the watermark becomes the ceil of
            # this value, and overshooting to the chunk's range_end
            # (days past the data) would make realtime reads hide every
            # later insert below it until the next refresh. One max()
            # over the newest chunk only (reference: watermark tracks
            # materialized buckets, tsl/src/continuous_aggs/refresh.c).
            chunks = src.chunks()
            if not chunks:
                hi = 0
            else:
                newest = chunks[-1]
                nframe = src.read(start=newest["range_start"])
                mxrow = nframe.agg(
                    F.max(src._internal_time_expr(nframe)).alias("mx")
                ).collect()[0]
                hi = (
                    int(mxrow["mx"]) + 1
                    if mxrow["mx"] is not None
                    else newest["range_start"]
                )
        win_s = self._floor_us(lo)
        if open_end:
            # open-ended refresh covers the (possibly partial) bucket
            # holding the latest data: ceil to the bucket end, so e.g. a
            # month bucket mid-month still materializes (later inserts
            # into it re-dirty it through the invalidation log)
            f = self._floor_us(hi)
            win_e = f if f == hi else self._next_us(f)
        else:
            # explicit window: inscribed (floor) — only complete buckets,
            # like the reference's bucketed refresh window
            win_e = self._floor_us(hi)
        if win_e <= win_s:
            return []

        # txn 1 + txn 2a/2b are compound catalog read-modify-writes; the
        # write_lock serializes them against concurrent inserts'
        # _capture_invalidation (the analog of the reference's threshold
        # row lock — without it, an entry appended between 2a's find and
        # delete would be silently dropped). Data jobs (the materialize
        # pass below) run OUTSIDE the lock.
        with cat.write_lock:
            # ---- txn 1: move invalidation threshold
            # (invalidation_threshold.c)
            thr_row = cat.invalidation_threshold.find_one(hypertable_id=src.id)
            old_thr = int(thr_row["watermark"]) if thr_row else INT64_MIN
            if win_e > old_thr:
                if thr_row:
                    cat.invalidation_threshold.update(
                        {"hypertable_id": src.id}, {"watermark": win_e}
                    )
                else:
                    cat.invalidation_threshold.append(
                        [{"hypertable_id": src.id, "watermark": win_e}]
                    )

            # ---- txn 2a: process hypertable log → ALL caggs' mat logs
            # (invalidation_process_hypertable_log)
            ht_entries = cat.hypertable_invalidation_log.find(
                hypertable_id=src.id
            )
            if ht_entries:
                for cagg in cat.continuous_agg.find(hypertable_id=src.id):
                    cat.materialization_invalidation_log.append(
                        [
                            {
                                "cagg_id": cagg["id"],
                                "lowest_modified_value": e[
                                    "lowest_modified_value"
                                ],
                                "greatest_modified_value": e[
                                    "greatest_modified_value"
                                ],
                            }
                            for e in ht_entries
                        ]
                    )
                cat.hypertable_invalidation_log.delete(
                    {"hypertable_id": src.id}
                )

            # ---- txn 2b: cut this cagg's mat log against the window
            # (invalidation.c range algebra; entries are INCLUSIVE bounds)
            entries = cat.materialization_invalidation_log.find(cagg_id=self.id)
            dirty: list[tuple[int, int]] = []
            leftovers: list[dict] = []
            for e in entries:
                a, b = int(e["lowest_modified_value"]), int(
                    e["greatest_modified_value"]
                )
                if b < win_s or a >= win_e:
                    leftovers.append(e)
                    continue
                # overlap, bucket-aligned and clipped to the window
                oa = max(self._floor_us(max(a, win_s)), win_s)
                ob_incl = min(b, win_e - 1)
                ob = min(self._next_us(self._floor_us(ob_incl)), win_e)
                dirty.append((oa, ob))
                # leftover fragments outside the window survive
                if a < win_s:
                    leftovers.append(
                        {
                            "cagg_id": self.id,
                            "lowest_modified_value": a,
                            "greatest_modified_value": win_s - 1,
                        }
                    )
                if b >= win_e:
                    leftovers.append(
                        {
                            "cagg_id": self.id,
                            "lowest_modified_value": win_e,
                            "greatest_modified_value": b,
                        }
                    )
            others = [
                e
                for e in cat.materialization_invalidation_log.read()
                if e.get("cagg_id") != self.id
            ]
            cat.materialization_invalidation_log.replace(others + leftovers)

        if force:
            # the whole window is re-materialized regardless of the log
            # (overlapping log entries were already cut by txn 2b, so a
            # forced pass also clears any genuine dirt inside it)
            dirty = [(win_s, win_e)]
        # merge overlapping/adjacent dirty ranges
        dirty.sort()
        merged: list[list[int]] = []
        for a, b in dirty:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])

        d_lo = d_hi = None  # true data bounds (computed by the batching path)
        if buckets_per_batch and int(buckets_per_batch) > 0 and merged:
            # bucket-aligned batching, clamped to the data span: the
            # initial invalidation entry is (-inf, +inf) and splitting
            # from a sentinel would enumerate the whole int64 line, so
            # the infinite edges stay single batches and the middle
            # splits per k buckets (the reference's split function
            # likewise batches only window chunks that contain data)
            k = int(buckets_per_batch)
            span = int(1) << 61
            # true DATA bounds, not chunk-aligned bounds (a chunk's
            # range_start precedes its first row by up to one interval,
            # and empty lead batches would burn the max_batches budget):
            # min over the oldest chunk, max over the newest — O(2
            # chunks), the same trick the open-ended window uses above
            chunks_meta = src.chunks()
            if chunks_meta:
                oldest, newest = chunks_meta[0], chunks_meta[-1]
                of = src.read(
                    start=oldest["range_start"], end=oldest["range_end"]
                )
                mn = of.agg(
                    F.min(src._internal_time_expr(of)).alias("mn")
                ).collect()[0]["mn"]
                nf = src.read(start=newest["range_start"])
                mx = nf.agg(
                    F.max(src._internal_time_expr(nf)).alias("mx")
                ).collect()[0]["mx"]
                d_lo = int(mn) if mn is not None else None
                d_hi = int(mx) + 1 if mx is not None else None
            batches: list[list[int]] = []
            for a, b in merged:
                if (a < -span and d_lo is None) or (b > span and d_hi is None):
                    # an infinite sentinel edge with NO data bound to
                    # clamp to (empty hypertable, or an all-NULL boundary
                    # chunk): lo_c/hi_c would stay at the sentinel and
                    # the per-bucket loop below would enumerate the whole
                    # int64 line — keep the range as a single batch, the
                    # same treatment sentinel edges get when bounds exist
                    batches.append([a, b])
                    continue
                lo_c = a
                hi_c = b
                if d_lo is not None and a < -span:
                    lo_c = min(self._floor_us(d_lo), b)
                if d_hi is not None and b > span:
                    hi_c = max(min(self._next_us(self._floor_us(d_hi)), b), lo_c)
                if a < lo_c:
                    batches.append([a, lo_c])
                cur = lo_c
                while cur < hi_c:
                    nxt = cur
                    for _ in range(k):
                        nxt = self._next_us(nxt)
                        if nxt >= hi_c:
                            break
                    nxt = min(nxt, hi_c)
                    if nxt <= cur:
                        break
                    batches.append([cur, nxt])
                    cur = nxt
                if hi_c < b:
                    batches.append([hi_c, b])
            merged = batches
        if refresh_newest_first:
            merged = list(reversed(merged))
        deferred: list[list[int]] = []
        if max_batches and int(max_batches) > 0 and len(merged) > int(
            max_batches
        ):
            deferred = merged[int(max_batches):]
            merged = merged[: int(max_batches)]
        if deferred:
            # bounded-work contract: the remainder goes BACK into the
            # log so the next call picks it up (same shape as the
            # failed-materialization redo path below)
            with cat.write_lock:
                cat.materialization_invalidation_log.append(
                    [
                        {
                            "cagg_id": self.id,
                            "lowest_modified_value": a,
                            "greatest_modified_value": (
                                (b - 1) if b < INT64_MAX else b
                            ),
                        }
                        for a, b in deferred
                    ]
                )

        # ---- materialize each dirty range (materialize.c:442-489).
        # The dirty entries were already cut from the log (txn 2b) — on a
        # FAILED materialization the unprocessed ranges must be put back,
        # or the hole is permanent: a retry would find no dirty entries
        # and the watermark would advance over never-materialized buckets.
        mat = self._mat()
        done_n = 0
        try:
            for a, b in merged:
                # infinite sentinels become open bounds (no filter): they
                # are not representable as timestamps
                raw = src.read(
                    start=a if a > INT64_MIN else None,
                    end=b if b < INT64_MAX else None,
                )
                agg = self._aggregate(raw)
                mat_rows = agg
                if verbose:
                    print(f"refresh {self.name}: range [{a}, {b}) ")
                # DELETE + INSERT per range, chunk-local
                if mat.row.get("schema_ddl"):
                    mat.delete_range(
                        a if a > INT64_MIN else None,
                        b if b < INT64_MAX else None,
                    )
                mat.insert(mat_rows, cluster=True)
                done_n += 1
        except BaseException:
            redo = [
                {
                    "cagg_id": self.id,
                    "lowest_modified_value": a,
                    # log bounds are INCLUSIVE; merged ranges half-open
                    "greatest_modified_value": (b - 1) if b < INT64_MAX else b,
                }
                for a, b in merged[done_n:]
            ]
            with cat.write_lock:
                cat.materialization_invalidation_log.append(redo)
            raise

        # ---- advance watermark (continuous_aggs_watermark.c). The
        # watermark must never pass a DEFERRED (never-materialized)
        # batch: realtime reads serve mat-table rows below it and raw
        # rows at/above it, so a watermark above a hole would silently
        # drop those buckets until the next refresh. The reference
        # derives it from the max bucket actually materialized
        # (tsl/src/continuous_aggs/materialize.c:762) — cap at the
        # lowest deferred range start (deferral order is irrelevant:
        # with refresh_newest_first the deferred ranges are the oldest,
        # and the raw side above the capped watermark still serves the
        # newer, already-materialized buckets correctly).
        wm_cap = win_e
        if deferred:
            # provably data-free deferred ranges (entirely below the
            # oldest row's bucket) can't hide anything from a realtime
            # read — only real deferred coverage caps the watermark. An
            # -inf-edged deferred range with no data bound known keeps
            # the sentinel cap (nothing below is servable from mat).
            d_lo_floor = self._floor_us(d_lo) if d_lo is not None else None
            for a, b in deferred:
                if d_lo_floor is not None and b <= d_lo_floor:
                    continue
                if a <= INT64_MIN and d_lo_floor is not None:
                    a = d_lo_floor
                wm_cap = min(wm_cap, a)
        wm = self.watermark()
        new_wm = max(wm if wm is not None else INT64_MIN, wm_cap)
        if new_wm > INT64_MIN:
            # a sentinel watermark claims nothing and is not a valid
            # timestamp — leave the row untouched (realtime reads with
            # no watermark serve everything from the raw side)
            cat.cagg_watermark.update(
                {"cagg_id": self.id}, {"watermark": new_wm}
            )
        return [(a, b) for a, b in merged]

    # --------------------------------------------------------------- read
    def read(
        self,
        realtime: Optional[bool] = None,
        only_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """User-view read. Realtime = materialized below the watermark,
        raw aggregation at/after it (``common.c:1745 build_union_query``).

        ``only_cols`` restricts the projection to the named value
        columns (keys always included) AND — the part Catalyst cannot
        do itself — restricts the realtime raw-side partial build to
        just those families: the full ``_aggregate`` is a 1:1 join
        chain of every family's partial aggregate, and joins survive
        column pruning, so without this a single-family serve over an
        N-family cagg pays N partial builds on the tail. Serving
        accessors pass their one column; ``None`` keeps the full view.
        Columns computed by ``window_fns`` may depend on arbitrary
        sibling aggregates, so requesting one falls back to the full
        aggregate (still projected afterwards)."""
        if realtime is None:
            realtime = not self.row.get("materialized_only", False)
        mat = self._mat()
        wm = self.watermark()
        bucket = self.row["bucket_alias"]
        has_mat = mat.row.get("schema_ddl") is not None
        keys = [bucket, *self.row["group_by"]]
        build_cols = only_cols
        if only_cols is not None and any(
            c in (self.row.get("window_fns") or {}) for c in only_cols
        ):
            build_cols = None  # window col needs its sibling aggregates
        proj = (
            None
            if only_cols is None
            else [*keys, *[c for c in only_cols if c not in keys]]
        )
        if not realtime:
            if not has_mat:
                raise ValueError(f"cagg {self.name!r} never refreshed")
            out = mat.read()
            return out if proj is None else out.select(*proj)

        src = self._source()
        wm_i = wm if wm is not None else INT64_MIN
        raw = src.read(start=wm_i if wm is not None else None)
        raw_agg = self._aggregate(raw, only_cols=build_cols)
        if proj is not None:
            raw_agg = raw_agg.select(*proj)
        if not has_mat:
            return raw_agg
        if self.row["time_is_timestamp"]:
            wm_lit = F.timestamp_micros(F.lit(wm_i))
        else:
            wm_lit = F.lit(wm_i)
        # chunk-prune the mat side by the watermark too (normally a
        # no-op — materialization stops at the watermark — but after a
        # watermark rollback or retention on the raw table it excludes
        # whole mat chunks); the row filter stays for the boundary chunk
        mat_side = mat.read(end=wm_i).filter(F.col(bucket) < wm_lit)
        if proj is not None:
            mat_side = mat_side.select(*proj)
        raw_side = raw_agg.filter(F.col(bucket) >= wm_lit)
        return mat_side.unionByName(raw_side)

    # ------------------------------------------------- sketch accessors
    def quantiles(
        self,
        qs: Sequence[float],
        sketch_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Serve quantiles from the stored DDSketch states — the toolkit
        ``approx_percentile(q, rollup(percentile_agg))`` idiom: merge
        the per-bucket states to ``grain`` (any coarser bucket width;
        ``None`` = the cagg's own grain, ``"all"`` = one global sketch)
        and extract estimates. Lossless merge (bucket counts add,
        Masson VLDB'19 §2.3) means a day-grain answer from hourly
        states is IDENTICAL to a sketch built from raw rows — the
        property the oracle gate checks. Never rescans raw data below
        the watermark; above it the realtime union computes raw-side
        states over the un-materialized tail only.

        Output: ``(bucket?, group_by…, n, p50, p95, …)`` with the same
        naming/rounding as :func:`functions.ddsketch.ddsketch_quantiles`.
        """
        from .functions.ddsketch import ddsketch_quantiles

        flat, keys, tmp, alpha = self._merged_sketch(
            sketch_col, grain, group_by, realtime, start, end
        )
        out = ddsketch_quantiles(flat, list(qs), by=tmp, alpha=alpha)
        for k, t in zip(keys, tmp):
            out = out.withColumnRenamed(t, k)
        return out

    def rank(
        self,
        value: float,
        sketch_col: Optional[str] = None,
        grain: Optional[str] = None,
        group_by: Optional[Sequence[str]] = None,
        realtime: Optional[bool] = None,
        out: str = "rank",
        start=None,
        end=None,
    ) -> DataFrame:
        """``approx_percentile_rank(value, rollup(...))`` — the inverse
        accessor: fraction of ingested values ≤ ``value`` per
        bucket/group, served from the stored states under the same
        merge/grain/realtime rules as :meth:`quantiles`."""
        from .functions.ddsketch import ddsketch_rank

        flat, keys, tmp, alpha = self._merged_sketch(
            sketch_col, grain, group_by, realtime, start, end
        )
        res = ddsketch_rank(flat, value, by=tmp, alpha=alpha, out=out)
        for k, t in zip(keys, tmp):
            res = res.withColumnRenamed(t, k)
        return res

    def _merged_sketch(
        self,
        sketch_col: Optional[str],
        grain: Optional[str],
        group_by: Optional[Sequence[str]],
        realtime: Optional[bool],
        start=None,
        end=None,
    ):
        """Shared state-merge for the sketch accessors: resolve the
        sketch column, re-bucket to ``grain``, explode states →
        (keys, sketch-bucket, cnt) and sum — output is keys × ~2k
        bucket rows, never raw-sized. Keys are renamed internally: the
        sketch frame contract reserves "bucket"/"cnt", and the cagg's
        own bucket_alias defaults to "bucket" too."""
        from .functions.time import time_bucket

        sketch_col, spec = self._family_col(_SKETCHES, sketch_col)
        alpha = float(spec.get("alpha", 0.01))
        bucket = self.row["bucket_alias"]
        gb = list(self.row["group_by"] if group_by is None else group_by)

        df = self.read(realtime=realtime, only_cols=[sketch_col])
        # serving bounds ("p95 of the last 7 days"): filter whole parent
        # buckets BEFORE the merge — [start, end) on the bucket column,
        # so the window is bucket-aligned like the reference's cagg
        # range semantics
        if start is not None or end is not None:
            bc = F.col(bucket)
            if self.row["time_is_timestamp"]:
                conv = lambda v: F.lit(v).cast("timestamp")  # noqa: E731
            else:
                conv = lambda v: F.lit(int(v))  # noqa: E731
            if start is not None:
                df = df.filter(bc >= conv(start))
            if end is not None:
                df = df.filter(bc < conv(end))
        if grain == "all":
            keys = gb
        elif grain is not None:
            if not self.row["time_is_timestamp"]:
                from .functions.time import time_bucket_int

                df = df.withColumn(
                    bucket, time_bucket_int(int(grain), bucket)
                )
            else:
                df = df.withColumn(bucket, time_bucket(grain, bucket))
            keys = [bucket, *gb]
        else:
            keys = [bucket, *gb]
        tmp = [f"_qk{i}" for i in range(len(keys))]
        flat = df.select(
            *[F.col(k).alias(t) for k, t in zip(keys, tmp)],
            F.explode(F.col(sketch_col)).alias("bucket", "cnt"),
        ).groupBy(*tmp, "bucket").agg(F.sum("cnt").alias("cnt"))
        return flat, keys, tmp, alpha

    def drop(self, keep_jobs: bool = False) -> None:
        """``DROP MATERIALIZED VIEW`` teardown. Refuses while a
        hierarchical cagg is built on this one (PG RESTRICT — a child
        would be left with a dangling source); removes every catalog
        row referencing the cagg, including its refresh-policy jobs
        (an orphaned job would KeyError on every scheduler tick
        forever), and routes the mat hypertable through the full
        Hypertable.drop teardown (dimensions, stats, jobs, dirs).
        ``keep_jobs`` is for the migrate swap (cagg.alter), where the
        name-referencing policy must survive and point at the new
        definition."""
        cat = self.ts.catalog
        mat = self._mat()
        children = cat.continuous_agg.find(hypertable_name=self.row["mat_table"])
        if children:
            names = sorted(c["name"] for c in children)
            raise ValueError(
                f"cannot drop cagg {self.name!r}: hierarchical caggs "
                f"{names} are built on it"
            )
        if not keep_jobs:
            for job in cat.bgw_job.read():
                cfg = job.get("config") or {}
                if cfg.get("cagg") == self.name or cfg.get("hypertable") == (
                    self.row["mat_table"]
                ):
                    cat.bgw_job.delete({"id": job["id"]})
        cat.continuous_agg.delete({"id": self.id})
        cat.cagg_watermark.delete({"cagg_id": self.id})
        cat.materialization_invalidation_log.delete({"cagg_id": self.id})
        mat.drop()

    # ------------------------------------------------------------- migrate
    def alter(
        self,
        aggs: Optional[dict[str, str]] = None,
        group_by: Optional[Sequence[str]] = None,
        bucket_width: Union[str, int, None] = None,
        where: Optional[str] = None,
        refresh: bool = True,
    ) -> "ContinuousAggregate":
        """Redefine this continuous aggregate in place — the
        ``cagg_migrate`` analog (``@extschema@.cagg_migrate``; plan
        steps in the reference's ``_timescaledb_internal.cagg_migrate_
        execute_plan``: create new cagg → copy/recompute data → swap →
        drop old). Without this, redefinition means drop + recreate and
        every reader/policy pointing at the name breaks mid-window.

        Any parameter left ``None`` keeps the current definition. The
        new definition is materialized into a SHADOW cagg, backfilled
        over the full source range (aggregates changed ⇒ recompute, not
        copy), then swapped under the original name in one catalog
        transaction (``write_lock``): readers and refresh policies —
        which reference caggs by name — never observe a half-migrated
        state. The old materialization is dropped after the swap.

        Refuses when dependent (hierarchical) caggs are defined on this
        cagg's materialization, like the reference's pre-validation
        (``cagg_migrate_pre_validation``).
        """
        from .functions.time import Interval

        cat = self.ts.catalog
        deps = [
            c["name"]
            for c in cat.continuous_agg.read()
            if c.get("hypertable_name") == self.row["mat_table"]
        ]
        if deps:
            raise ValueError(
                f"cannot migrate {self.name!r}: dependent continuous "
                f"aggregates {deps} are defined on it (drop or migrate "
                f"them first, cagg_migrate_pre_validation)"
            )
        if bucket_width is None:
            months = int(self.row.get("bucket_width_months") or 0)
            bucket_width = (
                Interval(months=months) if months else Interval(us=self.width)
            )
        shadow_name = f"_migrate_{self.name}"
        if cat.continuous_agg.find_one(name=shadow_name):
            ContinuousAggregate.get(self.ts, shadow_name).drop()
        new = ContinuousAggregate.create(
            self.ts,
            shadow_name,
            self.row["hypertable_name"],
            bucket_width=bucket_width,
            aggs=dict(aggs if aggs is not None else self.row["aggs"]),
            group_by=list(
                group_by if group_by is not None else self.row["group_by"]
            ),
            time_column=self.row["time_column"],
            bucket_alias=self.row["bucket_alias"],
            materialized_only=self.row.get("materialized_only", False),
            where=where if where is not None else self.row.get("where"),
            join=self.row.get("join"),
            window_fns=self.row.get("window_fns"),
            enable_window_functions=bool(self.row.get("window_fns")),
            **{f.key: self.row.get(f.key) for f in FAMILIES.values()},
        )
        if refresh:
            new.refresh()
        old_name, old_mat = self.name, self.row["mat_table"]
        new_mat_tmp = new.row["mat_table"]
        final_mat = f"_mat_{old_name}"
        # LOCK ORDER: ht_lock before write_lock, always (catalog.py
        # contract) — self.drop() takes the mat table's DML lock, so
        # taking write_lock first would deadlock against any DML holding
        # ht_lock and waiting on write_lock (e.g. a scheduled refresh's
        # delete_range). Both mat locks are taken in sorted order.
        from contextlib import ExitStack

        with ExitStack() as locks:
            for mat_name in sorted({old_mat, new_mat_tmp}):
                locks.enter_context(cat.ht_lock(mat_name))
            locks.enter_context(cat.write_lock)
            # drop the old cagg + its materialization, then adopt the
            # original name (and mat-table name) for the shadow — one
            # catalog transaction, readers resolve names only through it
            # (jobs survive: the policy must follow the name to the new
            # definition)
            self.drop(keep_jobs=True)
            if os.path.isdir(cat.data_dir(new_mat_tmp)):
                os.rename(cat.data_dir(new_mat_tmp), cat.data_dir(final_mat))
            cat.hypertable.update({"name": new_mat_tmp}, {"name": final_mat})
            cat.continuous_agg.update(
                {"id": new.id}, {"name": old_name, "mat_table": final_mat}
            )
            self.row = cat.continuous_agg.find_one(id=new.id)
        return self
