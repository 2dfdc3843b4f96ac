"""Live second-engine validation of the MYSQL-family dialect surface.

Counterpart of tests/test_dialect_live_duckdb.py (which executes the
postgres/oracle-family SQL on DuckDB): the reference's CI also exercises
MySQL adapters (mysql2/trilogy), whose generated SQL differs in
identifier quoting (backticks) and literal escaping.  This container has
no MySQL server, but stdlib ``sqlite3`` natively parses the MySQL
compatibility surface we emit — backtick-quoted identifiers, ``LIMIT``
row caps, ``''``-doubled string literals — so these tests EXECUTE the
generated poll SQL on a second independent parser instead of only
asserting on strings.

The one rule SQLite cannot execute faithfully is backslash ESCAPING:
MySQL's default mode treats ``\\`` as an escape character (why
``sql_literal`` doubles backslashes), while SQLite — like MySQL running
with ``NO_BACKSLASH_ESCAPES`` — treats it literally.  So the
backslash-hostile round-trip here runs under a custom Dialect with
``backslash_escapes=False`` (exactly the NO_BACKSLASH_ESCAPES server
profile); the DEFAULT profile's doubled-backslash literals execute live
on Spark SQL's parser (which shares MySQL's default escape semantics)
in tests/test_dialect_live_sparksql.py.
"""

from __future__ import annotations

import sqlite3

import pytest

from fluent_plugin_sql_spark.sources.jdbc import (
    Dialect,
    incremental_query,
    sql_literal,
)


def run_poll(con: sqlite3.Connection, query: str):
    """Execute a generated `(SELECT ...) AS fpss_src` dbtable subquery the
    way the JDBC reader does: wrapped in SELECT * FROM."""
    return con.execute(f"SELECT * FROM {query}").fetchall()


@pytest.fixture()
def con():
    c = sqlite3.connect(":memory:")
    yield c
    c.close()


def test_mysql_poll_loop_covers_table_exactly_once(con):
    """The mysql dialect's LIMIT-capped, backtick-quoted poll query
    drains a table exactly once, in order, on a live parser."""
    con.execute("CREATE TABLE logs (id INTEGER, msg TEXT)")
    rows = [(i, f"m{i}") for i in range(37)]
    con.executemany("INSERT INTO logs VALUES (?, ?)", rows)

    got, last = [], None
    for _ in range(100):
        q = incremental_query("logs", "id", last, 10, "mysql", quote_identifiers=True)
        assert "`id`" in q and "LIMIT 10" in q
        batch = run_poll(con, q)
        if not batch:
            break
        got.extend(batch)
        last = batch[-1][0]
    assert got == rows


def test_mysql_backtick_quoting_resolves_reserved_word_column(con):
    """Backtick quoting is exactly what makes a reserved-word update
    column (`order`) legal — the unquoted form is a live syntax error,
    proving the quoting is load-bearing, not decorative."""
    con.execute("CREATE TABLE t (`order` INTEGER, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(1, "a"), (2, "b"), (3, "c")])
    q = incremental_query("t", "order", 1, 10, "mysql", quote_identifiers=True)
    assert "`order`" in q
    assert run_poll(con, q) == [(2, "b"), (3, "c")]
    bad = incremental_query("t", "order", 1, 10, "mysql", quote_identifiers=False)
    with pytest.raises(sqlite3.OperationalError):
        run_poll(con, bad)


def test_mysql_quote_injection_safe_on_live_parser(con):
    """Quote-based hostile watermarks (statement separators, doubled
    quotes) must neither break nor subvert the mysql-dialect SQL when a
    real parser executes it."""
    con.execute("CREATE TABLE docs (name TEXT, body TEXT)")
    nasty = ["alpha", "b'; DROP TABLE docs; --", "d''double", "zeta"]
    con.executemany("INSERT INTO docs VALUES (?, ?)", [(n, "x") for n in nasty])
    expect = sorted(nasty)
    got, last = [], None
    for _ in range(10):
        q = incremental_query("docs", "name", last, 2, "mysql")
        batch = run_poll(con, q)
        if not batch:
            break
        got.extend(b[0] for b in batch)
        last = batch[-1][0]
    assert got == expect
    assert con.execute("SELECT count(*) FROM docs").fetchone()[0] == 4


def test_mysql_nbe_profile_backslash_watermarks_roundtrip(con):
    """Under the NO_BACKSLASH_ESCAPES server profile (SQLite's native
    behavior), backslash-bearing watermarks round-trip exactly with
    backslash_escapes=False — the backtick/LIMIT machinery composes with
    hostile data independent of the escaping rule."""
    nbe = Dialect("mysql_nbe", "limit", False, "`")
    assert sql_literal("c\\' tail", nbe) == "'c\\'' tail'"
    con.execute("CREATE TABLE d (name TEXT, v INTEGER)")
    vals = ["a\\tail", "c\\' tail", "plain", "z\\\\double"]
    con.executemany("INSERT INTO d VALUES (?, ?)", [(n, 1) for n in vals])
    expect = sorted(vals)
    got, last = [], None
    for _ in range(10):
        q = incremental_query("d", "name", last, 1, nbe)
        batch = run_poll(con, q)
        if not batch:
            break
        got.extend(b[0] for b in batch)
        last = batch[-1][0]
    assert got == expect


def test_mysql_family_aliases_generate_identical_sql(con):
    """mariadb must emit byte-identical SQL to mysql — one live
    validation covers both (the reference's mysql2/trilogy adapters
    reach jdbc:mysql through pipeline.jdbc_url)."""
    qs = {
        name: incremental_query("t", "k", "w", 5, name, quote_identifiers=True)
        for name in ("mysql", "mariadb")
    }
    assert len(set(qs.values())) == 1
    con.execute("CREATE TABLE t (k TEXT, v INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [("a", 1), ("x", 2), ("z", 3)])
    assert run_poll(con, qs["mysql"]) == [("x", 2), ("z", 3)]


def test_mysql_numeric_watermark_unquoted_live(con):
    con.execute("CREATE TABLE n (amt REAL, v INTEGER)")
    con.executemany(
        "INSERT INTO n VALUES (?, ?)", [(1.5, 1), (1.25, 2), (2.75, 3)]
    )
    q = incremental_query("n", "amt", 1.5, 10, "mysql")
    assert [r[1] for r in run_poll(con, q)] == [3]
