"""End-to-end round-trip (SURVEY.md §5 implication #1): config document →
incremental ingest → routed sink → golden compare — the Spark analogue of
the reference's plugin e2e tests against live PostgreSQL."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fluent_plugin_sql_spark.io import load_table
from fluent_plugin_sql_spark.pipeline import Pipeline, load_config

SF = "/root/testdata/sf0.001"


def make_config(tmp_path) -> dict:
    return {
        "source": {
            "path": SF,
            "tag_prefix": "db",
            "select_limit": 300,
            "state_file": str(tmp_path / "state.json"),
            "tables": [
                {
                    "table": "events",
                    "update_column": "event_id",
                    "time_column": "ts",
                }
            ],
        },
        "sink": {
            "path": str(tmp_path / "out"),
            "remove_tag_prefix": "db",
            "tables": [
                {
                    "table": "event_errors",
                    "pattern": "events",
                    "column_mapping": "event_id:id,event_type,value,time:event_time",
                },
                {"table": "catch_all"},
            ],
        },
        "logical_now": "2024-06-01 00:00:00",
    }


def test_round_trip_golden(spark, tmp_path):
    pipe = Pipeline(spark, make_config(tmp_path))
    emitted = pipe.run_once(drain=True)
    assert emitted == {"events": 1000}

    out = spark.read.parquet(str(tmp_path / "out" / "event_errors"))
    assert sorted(out.columns) == ["event_time", "event_type", "id", "value"]
    assert out.count() == 1000

    # golden compare against the source (order-insensitive, full payload)
    src = load_table(spark, SF, "events").select(
        F.col("event_id").alias("id"), "event_type", "value",
        F.col("ts").alias("event_time"),
    )
    assert out.exceptAll(src).count() == 0
    assert src.exceptAll(out).count() == 0

    # state advanced to last row; a fresh pipeline reads nothing
    state = json.loads((tmp_path / "state.json").read_text())
    assert state["last_records"]["events"]["event_id"] == 999
    pipe2 = Pipeline(spark, make_config(tmp_path))
    assert pipe2.run_once() == {"events": 0}


def test_yaml_config_loads(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(
        """
source:
  path: /root/testdata/sf0.001
  select_limit: 100
  tables:
    - table: events
      update_column: event_id
sink:
  path: /tmp/out
  tables:
    - table: dflt
"""
    )
    cfg = load_config(str(p))
    assert cfg["source"]["select_limit"] == 100
    assert cfg["sink"]["tables"][0]["table"] == "dflt"


def test_all_tables_discovery_pipeline(spark, tmp_path):
    cfg = {
        "source": {
            "path": SF,
            "all_tables": True,
            "update_column": None,  # would come from PK on a real DB;
            "select_limit": 10_000,
            "tables": [
                {"table": "region", "update_column": "r_regionkey"},
                {"table": "nation", "update_column": "n_nationkey"},
            ],
        },
        "sink": {
            "path": str(tmp_path / "out2"),
            "tables": [{"table": "everything"}],
        },
        "logical_now": "2024-06-01 00:00:00",
    }
    pipe = Pipeline(spark, cfg)
    got = pipe.run_once(drain=True)
    assert got == {"region": 5, "nation": 25}


def test_pool_smaller_than_write_parallelism_warns(spark, caplog):
    """Reference out_sql.rb:179-181: warn when the connection pool is
    smaller than the write parallelism (each write partition holds one
    JDBC connection, so num_partitions > pool queues on the database)."""
    import logging

    from fluent_plugin_sql_spark.pipeline import build_writer

    sink = {"url": "jdbc:derby:memory:poolwarn;create=true",
            "pool": 2, "num_partitions": 8}
    with caplog.at_level(logging.WARNING, logger="fluent_plugin_sql_spark.pipeline"):
        build_writer(spark, sink)
    assert any(
        "pool" in r.message and "Recommend to increase pool value" in r.getMessage()
        for r in caplog.records
    )

    # pool >= parallelism (and the default parallelism = pool): no warning
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="fluent_plugin_sql_spark.pipeline"):
        build_writer(spark, {"url": "jdbc:derby:memory:poolok;create=true", "pool": 4})
    assert not caplog.records


def test_jdbc_source_rejects_tiebreak_column(spark):
    """A JDBC source polls on its update column alone, so a configured
    tiebreak_column would be ignored and rows tied at a batch boundary
    skipped.  Pipeline construction fails instead, naming the table;
    building the JDBC scans and writer opens no connection."""
    url = "jdbc:derby:memory:tiebreak_rejected;create=true"
    cfg = {
        "source": {
            "url": url,
            "tables": [
                {"table": "plain", "update_column": "id"},
                {"table": "orders", "update_column": "upd", "tiebreak_column": "id"},
            ],
        },
        "sink": {"url": url, "tables": [{"table": "sink"}]},
    }
    with pytest.raises(ValueError, match="'orders'.*tiebreak_column"):
        Pipeline(spark, cfg)


class _FakeConnection:
    """The slice of java.sql.Connection that a JDBC scan's column lookup
    and the epoch-marker store use, answering as MySQL Connector/J does:
    backtick identifier quotes, empty result sets."""

    def __init__(self, columns, quote="`"):
        self.columns, self.quote, self.queries = columns, quote, []

    def getMetaData(self):
        return self

    def getIdentifierQuoteString(self):
        return self.quote

    def createStatement(self):
        return self

    def executeQuery(self, q):
        self.queries.append(q)
        return self

    def getColumnCount(self):
        return len(self.columns)

    def getColumnLabel(self, i):
        return self.columns[i - 1]

    def execute(self, q):
        self.queries.append(q)

    def next(self):
        return False  # an empty result set

    def close(self):
        pass


def test_jdbc_scan_quotes_update_column_as_the_connection_does(monkeypatch):
    """A source configured by a jdbc:mysql URL alone (no adapter, so the
    postgresql dialect) must still quote the update column with MySQL's
    backtick: a double-quoted "upd" is a string literal there, and the
    poll would order by a constant and never pass its watermark.  The
    quote character comes from the connection's metadata, the spelling
    from the table's columns."""
    from fluent_plugin_sql_spark.pipeline import build_input_config, build_jdbc_scans
    from fluent_plugin_sql_spark.sources import jdbc

    conn = _FakeConnection(["id", "UPD"])
    pushed = []
    monkeypatch.setattr(jdbc, "jdbc_connection", lambda spark, url, props: conn)
    monkeypatch.setattr(
        jdbc, "read_jdbc", lambda spark, url, dbtable, props=None: pushed.append(dbtable)
    )
    src = {
        "url": "jdbc:mysql://localhost/shop",
        "select_limit": 10,
        "tables": [{"table": "orders", "update_column": "upd"}],
    }
    scan = build_jdbc_scans(None, src, build_input_config(src))["orders"]
    scan.batch_plan(None)
    scan.batch_plan(5)
    assert conn.queries == ["SELECT * FROM orders WHERE 1=0"]  # looked up once
    assert pushed == [
        "(SELECT * FROM orders ORDER BY `UPD` ASC LIMIT 10) AS fpss_src",
        "(SELECT * FROM orders WHERE `UPD` > 5 ORDER BY `UPD` ASC LIMIT 10) AS fpss_src",
    ]
    assert scan.update_column == "upd"  # the state-file key stays as configured


def test_jdbc_mysql_url_escapes_watermark_as_mysql(monkeypatch):
    """A source set by a jdbc:mysql URL alone renders its watermark by
    MySQL's rules: the backslash is doubled, so a watermark ending in
    ``\\'`` stays one literal instead of closing it and running the
    rest as SQL."""
    from test_properties import _mysql_unquote

    from fluent_plugin_sql_spark.pipeline import build_input_config, build_jdbc_scans
    from fluent_plugin_sql_spark.sources import jdbc

    conn = _FakeConnection(["id", "sku"])
    pushed = []
    monkeypatch.setattr(jdbc, "jdbc_connection", lambda spark, url, props: conn)
    monkeypatch.setattr(
        jdbc, "read_jdbc", lambda spark, url, dbtable, props=None: pushed.append(dbtable)
    )
    src = {
        "url": "jdbc:mysql://localhost/shop",
        "select_limit": 10,
        "tables": [{"table": "orders", "update_column": "sku"}],
    }
    wm = "ab\\' OR 1=1 -- "
    build_jdbc_scans(None, src, build_input_config(src))["orders"].batch_plan(wm)
    head, lit = pushed[0].split("WHERE `sku` > ", 1)
    lit, tail = lit.rsplit(" ORDER BY ", 1)
    assert head == "(SELECT * FROM orders "
    assert tail == "`sku` ASC LIMIT 10) AS fpss_src"
    assert _mysql_unquote(lit) == wm  # one literal, the whole watermark


def test_idempotent_writer_clears_epoch_with_url_quote(spark, monkeypatch):
    """On a jdbc:mysql URL the retry cleanup names ``_epoch`` in
    backticks: a double-quoted ``"_epoch"`` is a string literal there,
    and the DELETE would leave a crashed attempt's rows in place."""
    from fluent_plugin_sql_spark.sinks import exactly_once

    conn = _FakeConnection([])
    monkeypatch.setattr(exactly_once, "jdbc_connection", lambda spark, url, props: conn)
    monkeypatch.setattr(exactly_once, "write_jdbc", lambda df, url, table, *a, **k: None)
    handle = exactly_once.idempotent_jdbc_writer(spark, "jdbc:mysql://h/shop", "t")
    handle(spark.range(1), 7)
    assert "DELETE FROM t WHERE `_epoch` = 7" in conn.queries


def test_jdbc_source_with_unknown_subprotocol_fails_before_connecting(spark, monkeypatch):
    """The JDBC URL picks the SQL dialect; a subprotocol without one
    fails at Pipeline construction, naming it, and opens no connection."""
    from fluent_plugin_sql_spark.sources import jdbc

    def no_connection(*a, **k):
        raise AssertionError("a connection was opened")

    monkeypatch.setattr(jdbc, "jdbc_connection", no_connection)
    monkeypatch.setattr(jdbc, "read_jdbc", no_connection)
    for all_tables in (False, True):
        cfg = {
            "source": {
                "url": "jdbc:h2:mem:x",
                "all_tables": all_tables,
                "tables": [] if all_tables else [{"table": "t", "update_column": "id"}],
            },
            "sink": {"path": "/nonexistent", "tables": [{"table": "out"}]},
        }
        with pytest.raises(ValueError, match="'h2'.*supported: postgresql"):
            Pipeline(spark, cfg)


def test_unknown_config_keys_warn_with_nearest_key(spark, caplog, tmp_path):
    """Every key no block reads draws one WARNING naming the nearest
    known key; known keys and stage sub-blocks draw none."""
    import logging

    cfg = {
        "source": {
            "path": str(tmp_path / "src"),
            "select_limt": 10,
            "tables": [{"table": "a", "primary_key": "id", "update_colum": "id"}],
            "exact_dedup": {"path": str(tmp_path / "x"), "anything": 1},
        },
        "sink": {"path": str(tmp_path / "out"), "tables": [{"table": "o", "patern": "x"}]},
        "logical_nwo": "2024-06-01 00:00:00",
    }
    with caplog.at_level(logging.WARNING, logger="fluent_plugin_sql_spark.pipeline"):
        Pipeline(spark, cfg)
    assert sorted(r.getMessage() for r in caplog.records) == [
        "unknown config key 'logical_nwo' is ignored; did you mean 'logical_now'?",
        "unknown config key 'sink.tables[0].patern' is ignored; did you mean 'pattern'?",
        "unknown config key 'source.select_limt' is ignored; did you mean 'select_limit'?",
        "unknown config key 'source.tables[0].update_colum' is ignored; "
        "did you mean 'update_column'?",
    ]


def test_upsert_lake_sink_mode(spark, tmp_path):
    """CDC-to-lake shape: sink mode 'upsert' MERGEs each emitted batch
    into the per-table parquet dir instead of appending — re-polled or
    re-emitted keys replace their previous version, inserts pass
    through.  (The incremental source is at-least-once by contract; the
    upsert sink absorbs the duplicates.)"""
    import pytest

    from fluent_plugin_sql_spark.pipeline import build_writer

    sink = {
        "path": str(tmp_path / "lake"),
        "mode": "upsert",
        "merge_keys": ["event_id"],
    }
    writer = build_writer(spark, sink)

    batch1 = spark.range(0, 100).selectExpr("id AS event_id", "id * 1.0D AS value")
    writer(batch1, "events")
    # batch 2 overlaps (redelivery of 90-99 with NEW values) + inserts
    batch2 = spark.range(90, 120).selectExpr("id AS event_id", "id * -1.0D AS value")
    writer(batch2, "events")

    out = spark.read.parquet(str(tmp_path / "lake" / "events"))
    got = {r["event_id"]: r["value"] for r in out.collect()}
    assert len(got) == 120            # no duplicate keys despite overlap
    assert got[50] == 50.0            # untouched
    assert got[95] == -95.0           # replaced, not appended
    assert got[119] == -119.0         # inserted

    with pytest.raises(ValueError, match="merge_keys"):
        build_writer(spark, {"path": str(tmp_path / "x"), "mode": "upsert"})
