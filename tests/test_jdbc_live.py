"""LIVE JDBC tests against embedded Apache Derby (whose driver ships on
Spark's classpath for the Hive metastore) — upgrades the JDBC source/sink
surface (S1/S2/S7, SURVEY.md §2.1) from SQL-text units to a real
poll→ingest→write loop against an actual RDBMS, mirroring the reference's
e2e-against-PostgreSQL strategy (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_plugin_sql_spark.config import SourceTable, SQLInputConfig
from fluent_plugin_sql_spark.io import load_table
from fluent_plugin_sql_spark.sources.incremental import IncrementalScan, SQLInput
from fluent_plugin_sql_spark.sources.jdbc import (
    discover_jdbc_tables,
    incremental_jdbc_reader,
    read_jdbc,
    write_jdbc,
)

SF = "/root/testdata/sf0.001"
DRIVER = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "db"
    url = f"jdbc:derby:{db};create=true"
    # seed: 300 events into a real RDBMS table (embedded DB → single
    # writer connection; coalesce(1) avoids embedded-lock contention)
    events = load_table(spark, SF, "events").limit(300).select(
        "event_id", "user_id", "event_type", "value"
    )
    write_jdbc(events, url, "events", DRIVER, mode="overwrite", num_partitions=1)
    return url


def test_jdbc_write_then_read_roundtrip(spark, derby_url):
    back = read_jdbc(spark, derby_url, "events", DRIVER)
    assert back.count() == 300
    src = load_table(spark, SF, "events").limit(300).select(
        "event_id", "user_id", "event_type", "value"
    )
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_incremental_pushdown_executes_in_database(spark, derby_url):
    """The poll query (WHERE > / ORDER / FETCH FIRST) runs inside Derby;
    Spark receives exactly the batch."""
    fetch = incremental_jdbc_reader(
        spark, derby_url, "events", "event_id", limit=100, properties=DRIVER,
        dialect="derby", quote_identifiers=True,
    )
    batch = fetch(49).collect()
    ids = [r["event_id"] for r in batch]
    assert len(ids) == 100
    assert min(ids) == 50 and ids == sorted(ids)  # strict >, ASC, capped


def test_full_poll_loop_jdbc_to_jdbc(spark, derby_url, tmp_path):
    """The reference's whole job, live: poll an RDBMS table incrementally
    → route → bulk-append into another RDBMS table, with state resume."""
    fetch = incremental_jdbc_reader(
        spark, derby_url, "events", "event_id", limit=120, properties=DRIVER,
        dialect="derby", quote_identifiers=True,
    )

    class JdbcScan(IncrementalScan):
        def batch_plan(self, last_value, last_tiebreak=None):
            # pushdown composes WHERE/ORDER/FETCH into the DB query; the
            # Spark-side plan is a passthrough of the bounded batch
            return fetch(last_value)

    cfg = SQLInputConfig(
        tables=[SourceTable(table="events", update_column="event_id")],
        select_limit=120,
        state_file=str(tmp_path / "state.json"),
    )
    sink_counts = []

    def emit(tag, df):
        write_jdbc(
            df.select("event_id", "event_type", "value"),
            derby_url, "event_log", DRIVER, mode="append", num_partitions=1,
        )
        sink_counts.append(df.count())

    inp = SQLInput(
        spark, cfg, readers={"events": lambda: None}, emit=emit,
        now="2024-06-01 00:00:00",
    )
    # swap in the DB-side scan (pushdown composed by incremental_query)
    inp.scans["events"] = (cfg.tables[0], JdbcScan(lambda: None, "event_id", 120))
    total = inp.run_once(drain=True)["events"]
    assert total == 300 and sink_counts == [120, 120, 60]
    out = read_jdbc(spark, derby_url, "event_log", DRIVER)
    assert out.count() == 300
    assert out.select(F.countDistinct("event_id")).first()[0] == 300
    # resume: nothing new
    assert inp.run_once()["events"] == 0


def test_discover_tables_derby_catalog(spark, derby_url):
    names = discover_jdbc_tables(spark, derby_url, DRIVER)
    assert any(n.lower() == "events" for n in names)


def test_pipeline_jdbc_to_jdbc_config(spark, derby_url, tmp_path):
    """Config-driven pipeline over a real RDBMS both ways — the
    reference's deployment shape, live."""
    from fluent_plugin_sql_spark.pipeline import Pipeline

    cfg = {
        "source": {
            "url": derby_url,
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "select_limit": 150,
            "state_file": str(tmp_path / "state.json"),
            "tables": [{"table": "events", "update_column": "event_id"}],
        },
        "sink": {
            "url": derby_url,
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "pool": 1,
            "tables": [
                {"table": "routed_events", "column_mapping": "event_id,event_type,value"}
            ],
        },
        "logical_now": "2024-06-01 00:00:00",
    }
    pipe = Pipeline(spark, cfg)
    assert pipe.run_once(drain=True) == {"events": 300}
    out = read_jdbc(spark, derby_url, "routed_events", DRIVER)
    assert out.count() == 300
    assert sorted(c.lower() for c in out.columns) == ["event_id", "event_type", "value"]
    # resume: second pipeline instance reads nothing
    assert Pipeline(spark, cfg).run_once() == {"events": 0}


def test_idempotent_sink_effectively_once(spark, derby_url):
    """Effectively-once epoch protocol against live Derby: a fully
    redelivered epoch is skipped; a partially-written crashed epoch is
    cleaned up and rewritten exactly once."""
    from fluent_plugin_sql_spark.sinks.exactly_once import (
        EpochMarkerStore,
        idempotent_jdbc_writer,
    )

    events = load_table(spark, SF, "events").limit(100).select(
        "event_id", "event_type", "value"
    )
    handle = idempotent_jdbc_writer(
        spark, derby_url, "eo_events", DRIVER, num_partitions=1
    )
    handle(events, 1)
    handle(events, 1)  # foreachBatch redelivery of a committed epoch
    back = read_jdbc(spark, derby_url, "eo_events", DRIVER)
    assert back.count() == 100  # not 200

    # crash mid-epoch: 30 rows of epoch 2 landed, marker never written
    write_jdbc(
        events.limit(30).withColumn("_epoch", F.lit(2)),
        derby_url, "eo_events", DRIVER, num_partitions=1,
    )
    handle(events, 2)  # retry must clear the 30 partials, then write 100
    back = read_jdbc(spark, derby_url, "eo_events", DRIVER)
    assert back.count() == 200
    per_epoch = {
        r["_epoch"]: r["n"]
        for r in back.groupBy("_epoch").agg(F.count("*").alias("n")).collect()
    }
    assert per_epoch == {1: 100, 2: 100}

    # marker store state is what makes restarts idempotent
    store = EpochMarkerStore(spark, derby_url, DRIVER)
    assert store.committed("eo_events", 1) and store.committed("eo_events", 2)
    assert not store.committed("eo_events", 3)

    with pytest.raises(ValueError, match="identifier"):
        store.committed("eo_events; DROP TABLE x", 1)


def test_pipeline_all_tables_jdbc_discovery(spark, derby_url, tmp_path):
    """S3 all_tables against a live RDBMS catalog: the pipeline discovers
    the tables itself (reference in_sql.rb:214-230) instead of a config
    list, then polls them on update_column."""
    from fluent_plugin_sql_spark.pipeline import Pipeline

    cfg = {
        "source": {
            "url": derby_url,
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "all_tables": True,
            "update_column": "event_id",
            "select_limit": 200,
            "state_file": str(tmp_path / "state.json"),
        },
        "sink": {"path": str(tmp_path / "out"), "tables": [{"table": "sinked"}]},
        "logical_now": "2024-06-01 00:00:00",
    }
    pipe = Pipeline(spark, cfg)
    tables = {t.table.lower() for t in pipe.in_cfg.tables}
    assert "events" in tables
    got = pipe.run_once(drain=True)
    by_lower = {k.lower(): v for k, v in got.items()}
    assert by_lower["events"] == 300


def test_partitioned_jdbc_read_range_slices(spark, derby_url):
    """The documented bulk-read scale path: partitionColumn range slicing
    issues N parallel per-range queries against the DB and returns the
    same rows as the single-connection read."""
    single = read_jdbc(spark, derby_url, "events", DRIVER)
    total = single.count()
    sliced = read_jdbc(
        spark, derby_url, "events", DRIVER,
        partition_column="event_id", lower_bound=0, upper_bound=300,
        num_partitions=4,
    )
    assert sliced.rdd.getNumPartitions() == 4
    assert sliced.count() == total
    assert (
        sorted(r["event_id"] for r in sliced.select("event_id").collect())
        == sorted(r["event_id"] for r in single.select("event_id").collect())
    )


def test_epoch_marker_prune(spark, derby_url):
    from fluent_plugin_sql_spark.sinks.exactly_once import EpochMarkerStore

    store = EpochMarkerStore(spark, derby_url, DRIVER)
    for e in range(10):
        store.mark("prune_t", e)
    store.prune("prune_t", keep_last=3)
    kept = [e for e in range(10) if store.committed("prune_t", e)]
    assert kept == [7, 8, 9]


def test_snapshot_bootstrap_live_source_no_gap(spark, derby_url, tmp_path):
    """Bootstrap race (round-3 ADVICE incremental.py:302): with a LIVE
    JDBC snapshot source, rows committed while the snapshot streams out
    must not fall between the snapshot and the tail.  Boundary-first
    semantics: the watermark is resolved before the emit, the emit is
    bounded at-or-below it, and concurrent inserts land strictly above —
    they belong to the tail, not the gap."""
    from fluent_plugin_sql_spark.sources.incremental import snapshot_bootstrap
    from fluent_plugin_sql_spark.state import StateStore

    seed = load_table(spark, SF, "events").limit(200).select(
        "event_id", "event_type", "value"
    )
    write_jdbc(seed, derby_url, "boot_events", DRIVER, mode="overwrite",
               num_partitions=1)
    live = read_jdbc(spark, derby_url, "boot_events", DRIVER)  # lazy: re-queries
    max_seed = seed.agg(F.max("event_id")).first()[0]

    emitted = {}

    def emit(tag, d):
        # concurrent writer: 10 rows commit AFTER the boundary read but
        # BEFORE the emit scan evaluates — the exact race window
        late = seed.limit(10).withColumn(
            "event_id", F.col("event_id") + F.lit(max_seed + 1)
        )
        write_jdbc(late, derby_url, "boot_events", DRIVER, num_partitions=1)
        emitted[tag] = d.count()

    state_file = str(tmp_path / "boot_state.json")
    rec = snapshot_bootstrap(
        live, "event_id", emit=emit, tag="db.boot",
        state=StateStore(state_file), table="boot_events",
    )
    # snapshot = exactly the pre-boundary rows; watermark = boundary
    assert emitted == {"db.boot": 200}
    assert rec == {"event_id": max_seed}
    # the 10 concurrent rows flow through the incremental tail — no gap
    fetch = incremental_jdbc_reader(
        spark, derby_url, "boot_events", "event_id", limit=100,
        properties=DRIVER, dialect="derby", quote_identifiers=True,
    )
    tail_ids = [r["event_id"] for r in fetch(rec["event_id"]).collect()]
    assert len(tail_ids) == 10 and min(tail_ids) > max_seed


def test_clear_epoch_swallows_only_missing_table(spark, derby_url):
    """Round-3 ADVICE exactly_once.py:148: clear_epoch tolerates ONLY the
    missing-target-table case (first epoch).  Any other DELETE failure
    must abort the batch — swallowing it would let the append proceed
    past a crashed attempt's partial rows and commit the marker anyway,
    silently breaking effectively-once."""
    from fluent_plugin_sql_spark.sinks.exactly_once import (
        MISSING_OBJECT_SQLSTATES,
        EpochMarkerStore,
        _sqlstates,
    )

    store = EpochMarkerStore(spark, derby_url, DRIVER)
    # table-not-found (Derby 42X05) → swallowed: very first epoch has no
    # target table yet
    store.clear_epoch("no_such_table_xyz", 1)
    # a DELETE that fails for any OTHER reason (here: unknown column on a
    # table that DOES exist — Derby 42X04) must propagate even with the
    # ignore set active
    store.mark("sqlstate_probe", 1)  # guarantees the marker table exists
    with pytest.raises(Exception) as ei:
        store._execute(
            f"DELETE FROM {store.marker_table} WHERE no_such_col = 1",
            ignore_sqlstates=MISSING_OBJECT_SQLSTATES,
        )
    states = list(_sqlstates(ei.value))
    assert states and not (set(states) & MISSING_OBJECT_SQLSTATES)


def test_jdbc_health_probe_live_and_down(spark, derby_url):
    """The run_forever liveness probe (in_sql.rb:259-265 parity): a fresh
    connection to a live database validates; an unreachable URL raises —
    which run_forever turns into skip-cycle + backoff."""
    from fluent_plugin_sql_spark.sources.jdbc import jdbc_health_probe

    jdbc_health_probe(spark, derby_url, DRIVER)()  # live → no raise
    down = jdbc_health_probe(
        spark, "jdbc:derby:/nonexistent/path/db", DRIVER
    )
    with pytest.raises(Exception):
        down()


def test_incremental_poll_decimal_and_timestamp_watermarks_live(spark, derby_url):
    """Awkward-type watermarks against a REAL database (the reference's
    CI matrix is live PostgreSQL; Derby is the in-container stand-in):
    DECIMAL and TIMESTAMP update columns round-trip through sql_literal
    into database-executed poll queries with exact strict-> resume."""
    import datetime as dtm
    from decimal import Decimal

    from fluent_plugin_sql_spark.sources.jdbc import JdbcIncrementalScan

    rows = [
        (i, Decimal(f"{i}.25"), dtm.datetime(2024, 1, 1) + dtm.timedelta(minutes=i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id INT, amount DECIMAL(10,2), updated TIMESTAMP")
    write_jdbc(df, derby_url, "wm_types", DRIVER, mode="overwrite", num_partitions=1)

    # DECIMAL watermark: unquoted fixed-point literal, strict >, exact resume
    scan = JdbcIncrementalScan(
        spark, derby_url, "wm_types", "amount", select_limit=15,
        properties=DRIVER,
    )
    b1 = scan.batch_plan(None).collect()
    assert [r["id"] for r in b1] == list(range(15))
    wm = b1[-1]["amount"]
    assert isinstance(wm, Decimal)
    b2 = scan.batch_plan(wm).collect()
    assert [r["id"] for r in b2] == list(range(15, 30))  # no re-read, no gap

    # TIMESTAMP watermark: microsecond literal executed in-database
    tscan = JdbcIncrementalScan(
        spark, derby_url, "wm_types", "updated", select_limit=100,
        properties=DRIVER,
    )
    twm = dtm.datetime(2024, 1, 1, 0, 29)  # row id=29's timestamp
    tb = tscan.batch_plan(twm).collect()
    assert [r["id"] for r in tb] == list(range(30, 40))  # strictly after


@pytest.mark.parametrize("column", ["amount", "updated"])
def test_poll_table_persists_typed_watermark_live(spark, derby_url, tmp_path, column):
    """A database-executed poll checkpoints the last row's DECIMAL or
    TIMESTAMP value with its Python type intact across a state-file
    reload, and the next poll resumes strictly after it."""
    import datetime as dtm
    from decimal import Decimal

    from fluent_plugin_sql_spark.sources.jdbc import JdbcIncrementalScan
    from fluent_plugin_sql_spark.state import StateStore

    rows = [
        (i, Decimal(f"{i}.25"), dtm.datetime(2024, 1, 1) + dtm.timedelta(minutes=i, microseconds=7))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id INT, amount DECIMAL(10,2), updated TIMESTAMP")
    write_jdbc(df, derby_url, "wm_poll", DRIVER, mode="overwrite", num_partitions=1)

    state_file = str(tmp_path / "state.json")
    cfg = SQLInputConfig(
        tables=[SourceTable(table="wm_poll", update_column=column)],
        select_limit=15,
        state_file=state_file,
    )
    scan = JdbcIncrementalScan(
        spark, derby_url, "wm_poll", column, select_limit=15,
        properties=DRIVER,
    )
    seen: list[int] = []

    def poller():
        return SQLInput(
            spark, cfg, {}, scans={"wm_poll": scan},
            emit=lambda tag, b: seen.extend(r["id"] for r in b.select("id").collect()),
        )

    assert poller().poll_table("wm_poll") == 15
    last = rows[14][1 if column == "amount" else 2]
    wm = StateStore(state_file).last_record("wm_poll")[column]
    assert type(wm) is type(last)
    assert wm == last
    assert poller().poll_table("wm_poll") == 15  # resumes from the reloaded state
    assert sorted(seen) == list(range(30))


def test_poll_routes_and_writes_in_three_spark_jobs(spark, derby_url):
    """One poll of a batch below ``select_limit``, routed over a pattern
    route and a default route whose slice is empty, runs at most three
    Spark jobs — the poll's watermark collect, the route-count collect
    and the INSERT — and writes only the non-empty slice."""
    from conftest import spark_jobs

    from fluent_plugin_sql_spark.config import SinkRoute, SQLOutputConfig
    from fluent_plugin_sql_spark.sinks.router import SQLOutput
    from fluent_plugin_sql_spark.sources.jdbc import JdbcIncrementalScan

    src = spark.range(30).selectExpr("id", "id * 2 AS upd", "CAST(id AS DOUBLE) AS amount")
    write_jdbc(src, derby_url, "jobs_src", DRIVER, mode="overwrite", num_partitions=1)
    writes: list[str] = []

    def write(df, table):
        writes.append(table)
        write_jdbc(df, derby_url, table, DRIVER, num_partitions=1)

    out = SQLOutput(
        SQLOutputConfig(
            routes=[
                SinkRoute(table="jobs_orders", pattern="orders",
                          column_mapping="id:order_id,upd,amount"),
                SinkRoute(table="jobs_other", column_mapping="id,upd"),
            ],
            remove_tag_prefix="shop",
        ),
        write,
    )
    inp = SQLInput(
        spark,
        SQLInputConfig(
            tables=[SourceTable(table="jobs_src", tag="orders", update_column="upd")],
            tag_prefix="shop",
            select_limit=50,
        ),
        {},
        emit=lambda tag, df: out.write_batch(df),
        scans={"jobs_src": JdbcIncrementalScan(
            spark, derby_url, "jobs_src", "upd", select_limit=50,
            properties=DRIVER,
        )},
    )
    with spark_jobs(spark) as c:
        assert inp.poll_table("jobs_src") == 30
    assert c.jobs <= 3
    assert writes == ["jobs_orders"]
    assert read_jdbc(spark, derby_url, "jobs_orders", DRIVER).count() == 30
    assert inp.state.last_record("jobs_src") == {"upd": 58}


def test_discover_search_path_order_derby(spark, tmp_path):
    """Full schema_search_path semantics (in_sql.rb:43 via ActiveRecord):
    discovery walks schemas in DECLARED order, first-match-wins — a table
    name present in two schemas is discovered exactly once, and tables
    outside the path never appear."""
    db = tmp_path / "derby_schemas"
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.Class.forName(
        DRIVER["driver"], True,
        jvm.java.lang.Thread.currentThread().getContextClassLoader(),
    )
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in (
            "CREATE SCHEMA S1",
            "CREATE SCHEMA S2",
            "CREATE SCHEMA S3",
            "CREATE TABLE S1.SHARED (id INT)",
            "CREATE TABLE S2.SHARED (id INT)",
            "CREATE TABLE S2.ONLY_B (id INT)",
            "CREATE TABLE S3.HIDDEN (id INT)",
        ):
            st.executeUpdate(sql)
        st.close()
    finally:
        conn.close()

    # path hits both schemas: shared dedupes to one entry, S3 excluded
    names = discover_jdbc_tables(
        spark, url, DRIVER, schema="s1,s2"
    )
    assert names == ["ONLY_B", "SHARED"]
    # single-schema path sees only its own tables
    assert discover_jdbc_tables(
        spark, url, DRIVER, schema="s1"
    ) == ["SHARED"]
    assert discover_jdbc_tables(
        spark, url, DRIVER, schema="s3"
    ) == ["HIDDEN"]
    # untouched default stays the historical no-filter behavior
    assert set(
        discover_jdbc_tables(spark, url, DRIVER)
    ) == {"SHARED", "ONLY_B", "HIDDEN"}


def test_discover_search_path_info_schema_sql_and_order(spark, monkeypatch):
    """information_schema dialect: ONE catalog query carries the whole
    path as literals; client-side resolution dedupes by first match and
    drops tables outside the path."""
    import fluent_plugin_sql_spark.sources.jdbc as jdbc_mod

    captured = {}

    class _Fake:
        def collect(self):
            return [
                ("orders", "legacy"),
                ("orders", "app"),
                ("extra", "legacy"),
                ("outside", "other"),
                ("schema_migrations", "app"),
            ]

    def fake_read(spark_, url, q, props):
        captured["q"] = q
        return _Fake()

    monkeypatch.setattr(jdbc_mod, "read_jdbc", fake_read)
    names = jdbc_mod.discover_jdbc_tables(
        spark, "jdbc:postgresql://h/db", {}, schema="app, legacy"
    )
    assert names == ["extra", "orders"]
    assert "IN ('app', 'legacy')" in captured["q"]


def test_discover_mysql_defaults_to_current_database(spark, monkeypatch):
    """On MySQL/MariaDB ``information_schema.tables.table_schema`` holds
    database names, so with no schema_search_path discovery takes the
    tables of the connection's database, not of a schema ``public``; an
    explicit path still filters by name."""
    import fluent_plugin_sql_spark.sources.jdbc as jdbc_mod

    captured = []

    class _Fake:
        def collect(self):
            return [("orders", "shop"), ("schema_migrations", "shop"), ("users", "shop")]

    def fake_read(spark_, url, q, props):
        captured.append(q)
        return _Fake()

    monkeypatch.setattr(jdbc_mod, "read_jdbc", fake_read)
    for url in ("jdbc:mysql://h/shop", "jdbc:mariadb://h/shop"):
        assert jdbc_mod.discover_jdbc_tables(spark, url, {}) == ["orders", "users"]
        assert "WHERE table_schema = DATABASE()" in captured[-1]
    assert jdbc_mod.discover_jdbc_tables(spark, "jdbc:mysql://h/x", {}, schema="shop") == [
        "orders", "users"
    ]
    assert "WHERE table_schema IN ('shop')" in captured[-1]


def test_discover_empty_search_path_clear_error(spark):
    """'' or ',' must fail with a clear config error, not push the
    invalid SQL `IN ()` to the database."""
    with pytest.raises(ValueError, match="schema_search_path"):
        discover_jdbc_tables(spark, "jdbc:postgresql://h/db", {}, schema="")
    with pytest.raises(ValueError, match="schema_search_path"):
        discover_jdbc_tables(spark, "jdbc:postgresql://h/db", {}, schema=" , ")


def test_pipeline_polls_writer_and_ddl_tables_without_quote_key(spark, derby_url, tmp_path):
    """One config polls both table kinds on an upper-folding database: a
    table created by the package's own ``write_jdbc`` reports quoted
    lower-case columns (``upd``), a DDL-created one reports ``UPD``.
    The scan quotes the column as the table reports it, so neither needs
    a quoting key, and the state file keeps the configured name."""
    from fluent_plugin_sql_spark.pipeline import Pipeline
    from fluent_plugin_sql_spark.state import StateStore

    src = spark.range(12).selectExpr("id", "id * 10 AS upd")
    write_jdbc(src, derby_url, "kind_writer", DRIVER, mode="overwrite", num_partitions=1)
    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    try:
        st = conn.createStatement()
        st.execute("CREATE TABLE kind_ddl (id BIGINT, upd BIGINT)")
        st.execute(
            "INSERT INTO kind_ddl VALUES " + ",".join(f"({i}, {i * 10})" for i in range(7))
        )
        st.close()
    finally:
        conn.close()
    assert read_jdbc(spark, derby_url, "kind_ddl", DRIVER).columns == ["ID", "UPD"]

    state_file = tmp_path / "state.json"
    cfg = {
        "source": {
            "url": derby_url,
            "driver": DRIVER["driver"],
            "select_limit": 5,
            "state_file": str(state_file),
            "tables": [
                {"table": "kind_writer", "update_column": "upd"},
                {"table": "kind_ddl", "update_column": "upd"},
            ],
        },
        "sink": {"path": str(tmp_path / "out"), "tables": [{"table": "all_kinds"}]},
        "logical_now": "2024-06-01 00:00:00",
    }
    assert Pipeline(spark, cfg).run_once(drain=True) == {"kind_writer": 12, "kind_ddl": 7}
    state = StateStore(str(state_file))
    assert state.last_record("kind_writer") == {"upd": 110}
    assert state.last_record("kind_ddl") == {"upd": 60}
    assert Pipeline(spark, cfg).run_once() == {"kind_writer": 0, "kind_ddl": 0}
    assert spark.read.parquet(str(tmp_path / "out" / "all_kinds")).count() == 19


def test_jdbc_scan_unknown_update_column_names_table(spark, derby_url):
    from fluent_plugin_sql_spark.sources.jdbc import JdbcIncrementalScan

    scan = JdbcIncrementalScan(
        spark, derby_url, "events", "no_such_col", properties=DRIVER
    )
    with pytest.raises(ValueError, match="'events'"):
        scan.batch_plan(None)


def test_epoch_marker_store_forwards_every_connection_property(spark, tmp_path):
    """The marker store's control connection gets the same properties as
    Spark's writes: Derby's ``create`` property (not in the URL) creates
    the database, where forwarding only user/password would fail with
    'Database not found'."""
    from fluent_plugin_sql_spark.sinks.exactly_once import EpochMarkerStore

    url = f"jdbc:derby:{tmp_path / 'fresh_db'}"
    store = EpochMarkerStore(spark, url, {**DRIVER, "create": "true"})
    store.mark("t", 7)
    assert store.committed("t", 7) and not store.committed("t", 8)
