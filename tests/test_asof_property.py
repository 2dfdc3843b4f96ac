"""Property-based check of the as-of join (custom operator J6) against an
independent Python reference implementation over hypothesis-generated
event sets — catches boundary/tie/multi-key errors no example test covers."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_plugin_sql_spark.operators.asof import asof_join

BASE = dt.datetime(2024, 1, 1)

# (key, seconds-offset) event streams; deliberate small domains force ties
left_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=12
)
right_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=0, max_size=12
)


def py_asof(left, right):
    """Reference semantics: latest right with right.ts <= left.ts, same key;
    among equal right.ts, any — our impl and this one both take the last in
    (ts, value) sort order, so make the value deterministic per (key, ts)."""
    out = {}
    for lk, lt in left:
        best = None
        for rk, rt in right:
            if rk == lk and rt <= lt and (best is None or rt > best):
                best = rt
        out[(lk, lt)] = best
    return out


def _check_against_reference(spark, lefts, rights):
    lefts = sorted(set(lefts))
    rights = sorted(set(rights))
    ldf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), f"L{k}:{s}") for k, s in lefts],
        ["k", "t", "lname"],
    )
    rows = [(k, BASE + dt.timedelta(seconds=s), f"R{k}:{s}") for k, s in rights]
    rdf = (
        spark.createDataFrame(rows, ["k", "t", "rname"])
        if rows
        else spark.createDataFrame([], "k long, t timestamp, rname string")
    )
    rdf = rdf.withColumn("rts", rdf["t"])
    got = {
        (r["k"], r["t"]): (r["rts_asof"], r["rname_asof"], r["lname"])
        for r in asof_join(
            ldf, rdf, on="k", left_ts="t", right_ts="t", right_cols=["rts", "rname"]
        ).collect()
    }
    expected = py_asof(lefts, rights)
    assert len(got) == len(lefts)
    for (k, s), best in expected.items():
        want = (
            (BASE + dt.timedelta(seconds=best), f"R{k}:{best}")
            if best is not None
            else (None, None)
        )
        assert got[(k, BASE + dt.timedelta(seconds=s))] == (*want, f"L{k}:{s}"), (k, s)


def test_asof_fixed_case_matches_python_reference(spark):
    """Default-run pin of the same property on one hand-picked input:
    exact ts ties, a left row before every right row, a key with no
    right rows and a right key with no left rows."""
    lefts = [(0, 0), (0, 5), (0, 9), (1, 3), (1, 20), (2, 7)]
    rights = [(0, 1), (0, 5), (0, 8), (1, 3), (1, 4), (3, 2)]
    _check_against_reference(spark, lefts, rights)


@settings(max_examples=12, deadline=None)
@given(left_events, right_events)
def test_asof_matches_python_reference(spark, lefts, rights):
    _check_against_reference(spark, lefts, rights)
