"""JDBC source/sink wrappers (reference S2/S7/S9 semantics).

The reference delegates all SQL to ActiveRecord + the RDBMS
(in_sql.rb:28-43; out_sql.rb:20-39).  Spark's JDBC relation is the
equivalent delegation point: filters/limits compose into the SQL sent to
the database, partitioned reads parallelize what the reference does on a
single connection (in_sql.rb:246, 260), and ``batchsize`` batches INSERTs
like activerecord-import (out_sql.rb:104).

Live-tested against embedded Apache Derby (tests/test_jdbc_live.py) — the
Derby driver ships on Spark's classpath — covering the real poll→write loop
with in-database pushdown; PostgreSQL/MySQL need only their driver jar.
The SQL rules follow the JDBC URL's subprotocol (:func:`dialect_for_url`).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Dialect(NamedTuple):
    """SQL-generation rules that differ per RDBMS (reference adapter param,
    in_sql.rb:33): row-cap syntax, string-literal escaping, identifier
    quote character."""

    name: str
    row_cap: str  # 'limit' (LIMIT n) or 'fetch' (FETCH FIRST n ROWS ONLY)
    backslash_escapes: bool  # MySQL default: backslash starts an escape
    quote_char: str  # identifier quoting: '"' ANSI, '`' MySQL
    # temporal literal style: 'ansi' (TIMESTAMP '...') or 'func'
    # (TIMESTAMP('...') — Derby rejects the ANSI form, live-tested)
    ts_style: str = "ansi"


DIALECTS: dict[str, Dialect] = {
    # keyed by JDBC subprotocol (jdbc:<name>:...), see dialect_for_url
    "postgresql": Dialect("postgresql", "limit", False, '"'),
    "mysql": Dialect("mysql", "limit", True, "`"),
    "mariadb": Dialect("mariadb", "limit", True, "`"),
    "sqlite": Dialect("sqlite", "limit", False, '"'),
    "derby": Dialect("derby", "fetch", False, '"', "func"),
    "oracle": Dialect("oracle", "fetch", False, '"'),
    "db2": Dialect("db2", "fetch", False, '"'),
}


def resolve_dialect(name: str | Dialect) -> Dialect:
    """Strict lookup: an unknown adapter name raises instead of silently
    falling back to ANSI rules — on a MySQL-family server a typo'd
    adapter ('msyql') would otherwise disable backslash escaping, the
    exact injection scenario :func:`sql_literal` exists to prevent."""
    if isinstance(name, Dialect):
        return name
    try:
        return DIALECTS[name.lower()]
    except KeyError:
        raise ValueError(
            f"unknown SQL dialect {name!r}; known: {sorted(DIALECTS)} "
            "(pass a Dialect instance for a custom adapter)"
        ) from None


def dialect_for_url(url: str) -> Dialect:
    """The SQL rules of the database a JDBC URL names: its subprotocol
    (``jdbc:<name>:...``) picks the :data:`DIALECTS` row, so the SQL can
    never disagree with the database it is sent to.  An unknown
    subprotocol raises, as :func:`resolve_dialect` does for a name."""
    scheme, _, rest = url.partition(":")
    name = rest.partition(":")[0].lower() if scheme.lower() == "jdbc" else ""
    if name not in DIALECTS:
        raise ValueError(
            f"no SQL dialect for JDBC URL subprotocol {name!r} (jdbc:<subprotocol>:...); "
            f"supported: {', '.join(DIALECTS)}"
        )
    return DIALECTS[name]


def sql_literal(value: Any, dialect: str | Dialect = "postgresql") -> str:
    """Render a Python value as a SQL literal for pushdown composition.

    The value is DATA-derived (the watermark = last emitted row's
    update_column), so escaping must match the target dialect exactly:
    besides doubling single quotes, backslash-escaping dialects (MySQL
    without NO_BACKSLASH_ESCAPES) need backslashes doubled too — a value
    ending in ``\\'`` would otherwise terminate the literal early and
    inject into every subsequent poll query."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, _decimal.Decimal):
        # DECIMAL watermark: exact fixed-point, unquoted — quoting it
        # would compare a numeric column against a string
        return format(value, "f")
    if isinstance(value, _dt.datetime):
        d = resolve_dialect(dialect)
        if d.ts_style == "func":
            # Derby-style: only the TIMESTAMP('...') function form parses
            # (live-tested; the ANSI literal is a 42X01 syntax error).
            # Derby timestamps are zone-less — aware watermarks normalize
            # to UTC and drop the (unrepresentable) offset.
            if value.tzinfo is not None:
                value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return f"TIMESTAMP('{value.strftime('%Y-%m-%d %H:%M:%S.%f')}')"
        if value.tzinfo is not None:
            # timestamptz-style watermark: normalize to UTC and keep the
            # offset in the literal (PostgreSQL timestamptz and MySQL
            # 8.0.19+ both accept it); naive rendering would silently
            # drop the zone and shift the poll window
            value = value.astimezone(_dt.timezone.utc)
            return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S.%f')}+00:00'"
        return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(value, _dt.date):
        d = resolve_dialect(dialect)
        if d.ts_style == "func":
            return f"DATE('{value.isoformat()}')"
        return f"DATE '{value.isoformat()}'"
    s = str(value)
    if resolve_dialect(dialect).backslash_escapes:
        s = s.replace("\\", "\\\\")
    s = s.replace("'", "''")
    return f"'{s}'"


def incremental_query(
    table: str,
    update_column: str,
    last_value: Any | None,
    limit: int,
    dialect: str | Dialect = "postgresql",
    quote_identifiers: bool = False,
) -> str:
    """The exact reference query shape (README.md:34), embedded as a
    ``dbtable`` subquery so the DATABASE executes WHERE/ORDER/LIMIT —
    total pushdown, same as the reference's ActiveRecord relation
    (in_sql.rb:130-135).

    ``dialect``: a name from :data:`DIALECTS` ('postgresql', 'mysql',
    'derby', ...) or a :class:`Dialect`, controlling row-cap syntax,
    literal escaping, and the identifier quote character.
    ``quote_identifiers``: wrap COLUMN names in the dialect's quote
    character — needed when the table was created by Spark's JDBC
    writer, which quotes column identifiers (preserving lowercase) but
    not the table name, on a DB that uppercases unquoted identifiers
    (Derby/Oracle/DB2).
    """
    d = resolve_dialect(dialect)

    def q(ident: str) -> str:
        return f"{d.quote_char}{ident}{d.quote_char}" if quote_identifiers else ident

    where = (
        f" WHERE {q(update_column)} > {sql_literal(last_value, d)}"
        if last_value is not None
        else ""
    )
    cap = (
        f"FETCH FIRST {limit} ROWS ONLY" if d.row_cap == "fetch" else f"LIMIT {limit}"
    )
    return (
        f"(SELECT * FROM {table}{where} "
        f"ORDER BY {q(update_column)} ASC {cap}) AS fpss_src"
    )


def incremental_jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    update_column: str,
    limit: int,
    properties: dict[str, str] | None = None,
    dialect: str | Dialect = "postgresql",
    quote_identifiers: bool = False,
):
    """Build a ``last_value -> DataFrame`` factory running the S1 poll
    query INSIDE the database (total pushdown — the DB uses its
    update_column index, README.md:100-102); Spark just receives ≤limit
    rows.  Plug into the poll loop via
    ``IncrementalScan(reader=lambda: fetch(last), ...)`` or use directly.
    """

    def fetch(last_value: Any | None):
        q = incremental_query(
            table, update_column, last_value, limit, dialect, quote_identifiers
        )
        return read_jdbc(spark, url, q, properties)

    return fetch


def read_jdbc(
    spark: SparkSession,
    url: str,
    dbtable: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Plain JDBC read; with ``partition_column`` bounds, Spark issues
    ``num_partitions`` range-sliced queries in parallel — the scale-out
    replacement for the reference's single poll connection."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
    batchsize: int = 1000,
    num_partitions: int | None = None,
) -> None:
    """S7 bulk sink: batched multi-row INSERT (JDBC ``executeBatch`` ≙
    activerecord-import, out_sql.rb:104).  ``num_partitions`` caps
    concurrent connections — the S9 pool-size contract (out_sql.rb:32-35):
    one JDBC connection per write partition."""
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def jdbc_connection(spark: SparkSession, url: str, properties: dict[str, str] | None = None):
    """Open one driver-side JDBC connection (py4j, in the JVM that holds
    the JDBC drivers) with EVERY property the readers and writers take —
    user/password, and the rest too (pgJDBC ``currentSchema``, Derby
    ``create``), so control SQL reaches the same database and schema as
    Spark's own reads and writes.  ``driver`` names the class to load
    first; it is not a connection property.  The caller closes it."""
    jvm = spark._jvm  # noqa: SLF001
    props = dict(properties or {})
    driver = props.pop("driver", None)
    if driver:
        jvm.java.lang.Class.forName(
            driver, True, jvm.java.lang.Thread.currentThread().getContextClassLoader()
        )
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(str(k), str(v))
    return jvm.java.sql.DriverManager.getConnection(url, jprops)


def jdbc_health_probe(
    spark: SparkSession,
    url: str,
    properties: dict[str, str] | None = None,
    timeout_s: int = 5,
):
    """Build a liveness probe for ``SQLInput.run_forever(health_probe=...)``
    — the reference's ``conn.active? || conn.reconnect!`` before each poll
    (in_sql.rb:259-265).  JDBC has no long-lived driver-side connection to
    ping, so the probe opens a fresh one (opening IS the reconnect) and
    asks the driver's own ``Connection.isValid`` — raises on any failure,
    which ``run_forever`` turns into a skipped cycle + backoff.

    ``properties`` is the same dict the readers/writers take, forwarded
    by :func:`jdbc_connection` (an unauthenticated probe against an
    authenticated database would fail every cycle and stall the poll
    loop forever on a perfectly healthy server)."""

    def probe() -> None:
        conn = jdbc_connection(spark, url, properties)
        try:
            if not conn.isValid(timeout_s):
                raise ConnectionError(f"JDBC connection to {url} is not valid")
        finally:
            conn.close()

    return probe


def discover_jdbc_tables(
    spark: SparkSession,
    url: str,
    properties: dict[str, str] | None = None,
    schema: str | None = None,
    skip: tuple[str, ...] = ("schema_migrations",),
) -> list[str]:
    """S3 ``all_tables`` against an RDBMS catalog (in_sql.rb:214-230).

    ``schema`` takes the reference's full ``schema_search_path`` form —
    a comma-separated list walked in DECLARED ORDER with first-match-wins
    (in_sql.rb:43 hands the path to ActiveRecord, whose connection
    resolves an unqualified table name to its first hit along the path).
    A table name present in two schemas is therefore discovered ONCE,
    from the earlier schema — discovering both would double-poll one
    logical table under the search-path resolution the read side uses.

    The catalog follows the URL: ``jdbc:derby`` reads SYS.SYSTABLES
    joined to SYS.SYSSCHEMAS, every other database
    ``information_schema.tables``.  One catalog query regardless of path
    length; ordering resolves client-side over the (name, schema) rows.

    ``schema=None`` (config key absent) means the tables of the current
    connection: ``public`` on PostgreSQL and the other
    information_schema databases, the connection's database
    (``DATABASE()``) on MySQL/MariaDB, whose ``table_schema`` holds
    database names, and NO schema filter on Derby, which has no
    "public" schema.  The sentinel is absence, not the string "public":
    Derby users CAN create a schema named ``public``, and an explicit
    ``schema_search_path="public"`` must filter to it rather than
    silently return every schema's tables."""
    d = dialect_for_url(url)
    path = None if schema is None else [s.strip() for s in schema.split(",") if s.strip()]
    if path == []:
        # '' or ',' would otherwise push the invalid SQL `IN ()` and fail
        # with an opaque database error at discovery time
        raise ValueError(
            "schema_search_path must name at least one schema for "
            f"catalog discovery (got {schema!r})"
        )
    if d.name == "derby":
        # Derby folds unquoted identifiers upper, so config "app,legacy"
        # finds APP/LEGACY
        q = (
            "(SELECT t.tablename AS table_name, s.schemaname AS table_schema "
            "FROM SYS.SYSTABLES t JOIN SYS.SYSSCHEMAS s "
            "ON t.schemaid = s.schemaid WHERE t.tabletype = 'T') AS t"
        )
        norm = str.upper
    else:
        if path is None and d.name not in ("mysql", "mariadb"):
            path = ["public"]  # the reference's documented default path
        where = (
            "table_schema = DATABASE()"
            if path is None
            else f"table_schema IN ({', '.join(sql_literal(s, d) for s in path)})"
        )
        q = f"(SELECT table_name, table_schema FROM information_schema.tables WHERE {where}) AS t"
        norm = str
    # no path: every row is in scope (Derby's no-filter mode, MySQL's
    # current database)
    rank = {norm(s): i for i, s in enumerate(path or [])}
    rows = read_jdbc(spark, url, q, properties).collect()
    best: dict[str, int] = {}
    for r in rows:
        name, sch = r[0], r[1]
        if name.lower() in skip:
            continue
        i = rank.get(norm(sch)) if rank else 0
        if i is None:
            continue  # table lives outside the declared path
        if name not in best or i < best[name]:
            best[name] = i
    return sorted(best)


class JdbcIncrementalScan:
    """First-class S1 scan over JDBC: the poll query executes IN the
    database (incremental_query pushdown) — drop-in for
    ``sources.incremental.IncrementalScan`` wherever the poll loop takes a
    scan (``SQLInput(scans=...)``).

    Row-cap syntax and literal escaping follow the URL
    (:func:`dialect_for_url`): an unknown subprotocol raises here, before
    any connection opens.

    The pushed query always QUOTES the update column, spelled as the
    table reports it and quoted as the connection quotes identifiers: the
    first :meth:`batch_plan` opens one driver-side connection, reads the
    table's columns and ``DatabaseMetaData.getIdentifierQuoteString()``,
    and matches ``update_column`` case-insensitively, an exact match
    winning.  One spelling then works for every table kind — a table
    created by Spark's JDBC writer has quoted lower-case columns
    (``upd``), a DDL-created one on an upper-folding database (Derby,
    Oracle, DB2) reports ``UPD``, and neither unquoted nor quoted ``upd``
    alone resolves on both.  The quote character comes from the
    connection's metadata (on MySQL/MariaDB it is the backtick: a
    ``"upd"`` there is a string literal, and the poll would silently
    match nothing).
    The watermark's state-file key stays the configured name.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        update_column: str,
        select_limit: int = 500,
        properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.update_column = update_column
        self.select_limit = select_limit
        self.properties = properties
        self.dialect = dialect_for_url(url)
        self.tiebreak_column = None  # composite watermark: parquet path only
        self._fetch = None  # built on the first batch_plan

    def _quoted_column(self) -> str:
        conn = jdbc_connection(self.spark, self.url, self.properties)
        try:
            quote = conn.getMetaData().getIdentifierQuoteString().strip()
            st = conn.createStatement()
            try:
                md = st.executeQuery(f"SELECT * FROM {self.table} WHERE 1=0").getMetaData()
                cols = [md.getColumnLabel(i) for i in range(1, md.getColumnCount() + 1)]
            finally:
                st.close()
        finally:
            conn.close()
        if self.update_column in cols:
            col = self.update_column
        else:
            folded = [c for c in cols if c.lower() == self.update_column.lower()]
            if len(folded) != 1:
                raise ValueError(
                    f"table {self.table!r}: update_column {self.update_column!r} "
                    f"matches {len(folded)} of its columns {cols}"
                )
            col = folded[0]
        # a blank quote string means the database does not quote
        return f"{quote}{col.replace(quote, quote * 2)}{quote}" if quote else col

    def batch_plan(self, last_value: Any | None, last_tiebreak: Any | None = None):
        if self._fetch is None:
            # the column arrives quoted, so the query must not quote it again
            self._fetch = incremental_jdbc_reader(
                self.spark, self.url, self.table, self._quoted_column(),
                self.select_limit, self.properties, self.dialect,
            )
        return self._fetch(last_value)
