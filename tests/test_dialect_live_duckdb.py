"""Live second-engine validation of the dialect SQL-generation surface.

The reference's CI runs its poll queries against live PostgreSQL 12-16
(reference .github/workflows/linux.yml:30,39-50).  This container is
airgapped with Derby as the only JDBC engine (tests/test_jdbc_live.py),
so the realistic second live engine is DuckDB in-process: it parses the
ANSI/PostgreSQL surface our `postgres` dialect emits (double-quoted
identifiers, LIMIT, `TIMESTAMP '...'` literals, `''`-doubled strings)
AND the `FETCH FIRST n ROWS ONLY` row-cap the oracle/db2/mssql dialects
emit.  These tests EXECUTE the generated poll SQL on DuckDB — a second
independent SQL parser + executor — rather than only asserting on
strings, closing the single-live-engine risk as far as this container
allows.  The MySQL backtick/LIMIT family is live-executed the same way
on stdlib sqlite3 (tests/test_dialect_live_sqlite.py); only MySQL's
default backslash-escape rule remains string-asserted
(test_incremental.py), since SQLite implements the
NO_BACKSLASH_ESCAPES profile.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pytest

from fluent_plugin_sql_spark.sources.jdbc import incremental_query, sql_literal


def run_poll(con, query: str):
    """Execute a generated `(SELECT ...) AS fpss_src` dbtable subquery the
    way the JDBC reader does: wrapped in SELECT * FROM."""
    return con.execute(f"SELECT * FROM {query}").fetchall()


@pytest.fixture()
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_postgres_poll_loop_covers_table_exactly_once(con):
    con.execute(
        "CREATE TABLE logs (id BIGINT, updated_at TIMESTAMP, msg VARCHAR)"
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), f"m{i}") for i in range(37)
    ]
    con.executemany("INSERT INTO logs VALUES (?, ?, ?)", rows)

    got, last = [], None
    for _ in range(100):
        q = incremental_query("logs", "updated_at", last, 10, "postgresql")
        batch = run_poll(con, q)
        if not batch:
            break
        got.extend(batch)
        last = batch[-1][1]
    assert got == rows  # every row exactly once, in order


def test_fetch_dialects_execute_on_second_engine(con):
    """oracle/db2/mssql row-cap style (FETCH FIRST n ROWS ONLY) parses
    and limits correctly on a live ANSI engine."""
    con.execute("CREATE TABLE t (id BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, f"v{i}") for i in range(9)])
    q = incremental_query("t", "id", 3, 4, "oracle")
    assert "FETCH FIRST 4 ROWS ONLY" in q
    assert run_poll(con, q) == [(4, "v4"), (5, "v5"), (6, "v6"), (7, "v7")]


def test_string_watermark_injection_safe_on_live_parser(con):
    """Hostile data-derived watermarks (quotes, backslash-quote tails,
    statement separators) must neither break nor subvert the generated
    SQL when a real parser executes it."""
    con.execute("CREATE TABLE docs (name VARCHAR, body VARCHAR)")
    nasty = [
        "alpha",
        "b'; DROP TABLE docs; --",
        "c\\' tail",
        "d''double",
        "zeta",
    ]
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", [(n, "x") for n in nasty]
    )
    expect = sorted(nasty)
    last = None
    got = []
    for _ in range(10):
        q = incremental_query("docs", "name", last, 2, "postgresql")
        batch = run_poll(con, q)
        if not batch:
            break
        got.extend(b[0] for b in batch)
        last = batch[-1][0]
    assert got == expect
    # and the table survived the hostile watermark round-trip
    assert con.execute("SELECT count(*) FROM docs").fetchone()[0] == 5


def test_timestamptz_watermark_normalizes_to_utc_live(con):
    """Aware watermarks render as UTC-offset literals; a timestamptz
    column on a live engine must compare them correctly."""
    con.execute("CREATE TABLE ev (ts TIMESTAMPTZ, v BIGINT)")
    con.execute("SET TimeZone='UTC'")
    con.executemany(
        "INSERT INTO ev VALUES (?, ?)",
        [
            (dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc), 1),
            (dt.datetime(2024, 1, 1, 13, 0, 0, tzinfo=dt.timezone.utc), 2),
        ],
    )
    # watermark expressed in a non-UTC zone: +05:30 ahead of 12:00 UTC
    ist = dt.timezone(dt.timedelta(hours=5, minutes=30))
    wm = dt.datetime(2024, 1, 1, 17, 30, 0, tzinfo=ist)  # == 12:00 UTC
    lit = sql_literal(wm, "postgresql")
    assert "+00:00" in lit
    q = incremental_query("ev", "ts", wm, 10, "postgresql")
    assert [r[1] for r in run_poll(con, q)] == [2]  # strictly greater


def test_decimal_watermark_unquoted_live(con):
    con.execute("CREATE TABLE d (amt DECIMAL(10,4), v BIGINT)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)",
        [(Decimal("1.5000"), 1), (Decimal("1.5001"), 2), (Decimal("2"), 3)],
    )
    assert sql_literal(Decimal("1.5000")) == "1.5000"
    q = incremental_query("d", "amt", Decimal("1.5000"), 10, "postgresql")
    assert [r[1] for r in run_poll(con, q)] == [2, 3]


def test_quoted_identifiers_preserve_case_live(con):
    """quote_identifiers=True must emit identifiers a case-sensitive
    ANSI engine resolves (Spark's JDBC writer quotes lowercase names)."""
    con.execute('CREATE TABLE q ("Updated" BIGINT, v VARCHAR)')
    con.executemany("INSERT INTO q VALUES (?, ?)", [(1, "a"), (2, "b")])
    q = incremental_query("q", "Updated", 1, 5, "postgresql", quote_identifiers=True)
    assert '"Updated"' in q
    assert run_poll(con, q) == [(2, "b")]
