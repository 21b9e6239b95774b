"""Operator-level fuzz grids for the temporal-join edge semantics: the
tj_* direction, tie and interval edges.

Unlike the catalog-level fuzz (Spark vs DuckDB SQL), these grids
compare each operator against a BRUTE-FORCE pure-Python oracle that
restates the documented contract literally — so a divergence is
unambiguous about which side is wrong, and semantics with no SQL
mirror (tolerance-after-selection, nearest-tie-backward, redelivery
dedup) are still pinned.

Shapes are drawn tiny (keys 1-3, integer ts -5..5) so collisions,
boundary hits and empty sides occur constantly; values are small
integers — every comparison is exact.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tcga_query_project_spark.operators import temporal

FUZZ_EXAMPLES = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "5"))
FUZZ_DERANDOMIZE = os.environ.get("SPARK_GRAFT_FUZZ_SOAK", "") == ""

_SETTINGS = dict(
    max_examples=FUZZ_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=FUZZ_DERANDOMIZE,
)

key = st.one_of(st.none(), st.integers(1, 3))
ts = st.integers(-5, 5)
val = st.one_of(st.none(), st.integers(0, 9))


@st.composite
def asof_tables(draw):
    """left rows (id, key, ts); right rows (key, ts, v) UNIQUE per
    (key, ts) — the operator's documented precondition. NULL left keys
    (must emit with NULL payload), NULL right keys (must be ignored)
    and NULL payload values (must be carried faithfully) all appear."""
    n_l = draw(st.integers(0, 8))
    left = [
        (i, draw(key), draw(ts)) for i in range(n_l)
    ]
    right_keys = draw(
        st.dictionaries(st.tuples(key, ts), val, min_size=0, max_size=10)
    )
    right = [(k, t, v) for (k, t), v in right_keys.items()]
    return left, right


def _brute_asof(left, right, direction, tol):
    """The docstring restated: inclusive ties, nearest-tie-backward,
    NULL key matches nothing, tolerance nulls out AFTER selection
    (never falls through to the next candidate)."""
    out = {}
    for (i, k, lt) in left:
        cands = [
            (rt, v) for (rk, rt, v) in right
            if rk is not None and k is not None and rk == k
        ]
        b = max(((rt, v) for rt, v in cands if rt <= lt), default=None)
        f = min(((rt, v) for rt, v in cands if rt >= lt), default=None)
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = f
        else:  # nearest, ties backward
            if b is None:
                m = f
            elif f is None:
                m = b
            else:
                m = b if (lt - b[0]) <= (f[0] - lt) else f
        if m is not None and tol is not None and abs(lt - m[0]) > tol:
            m = None
        out[i] = (None, None) if m is None else m
    return out


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tol", [None, 2])
@settings(**_SETTINGS)
@given(tables=asof_tables())
def test_fuzz_asof_directions_match_brute_force(
    spark, direction, tol, tables
):
    left_rows, right_rows = tables
    left = spark.createDataFrame(
        left_rows, "id int, k int, lts int"
    ) if left_rows else spark.createDataFrame([], "id int, k int, lts int")
    right = spark.createDataFrame(
        right_rows, "k int, rts int, v int"
    ) if right_rows else spark.createDataFrame(
        [], "k int, rts int, v int"
    )
    got = {
        r["id"]: (r["asof_ts"], r["asof_v"])
        for r in temporal.asof_join(
            left, right, "k", "lts", "rts", ["v"],
            tolerance=F.lit(tol) if tol is not None else None,
            direction=direction,
        ).collect()
    }
    want = _brute_asof(left_rows, right_rows, direction, tol)
    assert set(got) == {i for (i, _, _) in left_rows}  # left join: no drops
    assert got == want


@st.composite
def cdc_tables(draw):
    """snapshot (key, attr); log (key, ts, seq, op, attr) with COLLIDING
    timestamps disambiguated by a unique per-key seq — the latest-wins
    tie path — plus NULL/unknown ops (must upsert, never delete) and
    delete/insert of keys absent from the snapshot."""
    snap_keys = draw(st.sets(st.integers(1, 6), min_size=0, max_size=5))
    snapshot = [(k, k * 10) for k in sorted(snap_keys)]
    n_log = draw(st.integers(0, 12))
    log = []
    for s in range(n_log):
        log.append((
            draw(st.integers(1, 8)),          # key: may dangle either way
            draw(st.integers(0, 2)),          # ts: heavy collisions
            s,                                # seq: unique tiebreak
            draw(st.sampled_from(["I", "U", "D", "x", None])),
            draw(st.integers(100, 109)),
        ))
    return snapshot, log


def _brute_cdc(snapshot, log):
    latest = {}
    for (k, t, s, op, a) in log:
        if k not in latest or (t, s) > (latest[k][0], latest[k][1]):
            latest[k] = (t, s, op, a)
    out = {k: a for k, a in snapshot if k not in latest}
    for k, (t, s, op, a) in latest.items():
        if op != "D":  # only an explicit 'D' deletes (null-safe rule)
            out[k] = a
    return out


@settings(**_SETTINGS)
@given(tables=cdc_tables())
def test_fuzz_apply_cdc_ties_match_brute_force(spark, tables):
    snapshot_rows, log_rows = tables
    snap = spark.createDataFrame(
        snapshot_rows, "k int, attr int"
    ) if snapshot_rows else spark.createDataFrame([], "k int, attr int")
    log = spark.createDataFrame(
        log_rows, "k int, ts int, seq int, op string, attr int"
    ) if log_rows else spark.createDataFrame(
        [], "k int, ts int, seq int, op string, attr int"
    )
    got = {
        r["k"]: r["attr"]
        for r in temporal.apply_cdc(
            snap, log, "k", "ts", "op", tiebreak=F.col("seq").desc()
        ).select("k", "attr").collect()
    }
    assert got == _brute_cdc(snapshot_rows, log_rows)
    # idempotence: applying the same log to the merged result changes
    # nothing (docstring guarantee — late replays are safe)
    merged = spark.createDataFrame(
        [(k, a) for k, a in got.items()], "k int, attr int"
    ) if got else spark.createDataFrame([], "k int, attr int")
    again = {
        r["k"]: r["attr"]
        for r in temporal.apply_cdc(
            merged, log, "k", "ts", "op", tiebreak=F.col("seq").desc()
        ).select("k", "attr").collect()
    }
    assert again == got


@st.composite
def interval_tables(draw):
    """points (id, key, ts); intervals (key, lo, hi, v) including
    degenerate lo == hi (single-instant intervals — must match points
    AT the instant), inverted lo > hi (must match nothing), endpoint
    hits, and NULL keys/ts."""
    n_p = draw(st.integers(0, 8))
    points = [(i, draw(key), draw(st.one_of(st.none(), ts)))
              for i in range(n_p)]
    n_i = draw(st.integers(0, 6))
    intervals = []
    for j in range(n_i):
        lo = draw(ts)
        hi = draw(
            st.one_of(st.just(lo), st.just(lo - 1), st.integers(lo, 6))
        )
        intervals.append((draw(key), lo, hi, j))
    return points, intervals


def _brute_range(points, intervals):
    out = set()
    for (i, k, t) in points:
        if k is None or t is None:
            continue
        for (ik, lo, hi, v) in intervals:
            if ik == k and lo <= hi and lo <= t <= hi:
                out.add((i, lo, hi, v))
    return out


@pytest.mark.parametrize("bucket_width", [1, 3])
@settings(**_SETTINGS)
@given(tables=interval_tables())
def test_fuzz_interval_edges_match_brute_force(spark, bucket_width, tables):
    point_rows, interval_rows = tables
    points = spark.createDataFrame(
        point_rows, "id int, k int, pts int"
    ) if point_rows else spark.createDataFrame([], "id int, k int, pts int")
    intervals = spark.createDataFrame(
        interval_rows, "k int, lo int, hi int, v int"
    ) if interval_rows else spark.createDataFrame(
        [], "k int, lo int, hi int, v int"
    )
    got = {
        (r["id"], r["range_start"], r["range_end"], r["r_v"])
        for r in temporal.range_join(
            points, intervals, "k", "pts", "lo", "hi", ["v"],
            bucket_width=bucket_width,
        ).collect()
    }
    assert got == _brute_range(point_rows, interval_rows)
