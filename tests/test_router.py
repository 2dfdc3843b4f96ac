"""Output-side reference semantics: routing, mapping, injection, fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_plugin_sql_spark.config import SinkRoute, SQLOutputConfig
from fluent_plugin_sql_spark.sinks.router import (
    SQLOutput,
    apply_column_mapping,
    resilient_rows_writer,
)


@pytest.fixture()
def tagged_df(spark):
    rows = [
        ("db.clicks", 1, 10.0),
        ("db.clicks", 2, 20.0),
        ("db.purchases", 3, 30.0),
        ("db.other.deep", 4, 40.0),
    ]
    return spark.createDataFrame(rows, ["tag", "id", "value"])


def collect_writes():
    out = {}

    def write(df, table):
        out.setdefault(table, []).extend(sorted(r["id"] for r in df.select("id").collect()))

    return out, write


def test_first_match_wins_with_default(spark, tagged_df):
    out, write = collect_writes()
    cfg = SQLOutputConfig(
        routes=[
            SinkRoute(table="t_clicks", pattern="clicks"),
            SinkRoute(table="t_one_part", pattern="*"),  # one tag part
            SinkRoute(table="t_default"),
        ],
        remove_tag_prefix="db",
    )
    SQLOutput(cfg, write).write_batch(tagged_df)
    assert out["t_clicks"] == [1, 2]  # matched before the catch-all
    assert out["t_one_part"] == [3]  # 'purchases'
    assert out["t_default"] == [4]  # 'other.deep' has two parts → no '*' match


def test_earlier_catchall_shadows_later_pattern(spark, tagged_df):
    # README.md:140-146 caveat: '*' declared first grabs everything one-part,
    # so the later 'clicks' route never fires — first match wins.
    out, write = collect_writes()
    cfg = SQLOutputConfig(
        routes=[
            SinkRoute(table="t_all", pattern="*"),
            SinkRoute(table="t_clicks", pattern="clicks"),
            SinkRoute(table="t_default"),
        ],
        remove_tag_prefix="db",
    )
    SQLOutput(cfg, write).write_batch(tagged_df)
    assert out["t_all"] == [1, 2, 3]
    assert "t_clicks" not in out
    assert out["t_default"] == [4]


def test_column_mapping_drops_unmapped(spark, tagged_df):
    mapped = apply_column_mapping(tagged_df, [("id", "record_id"), ("value", "value")])
    assert mapped.columns == ["record_id", "value"]


def test_column_mapping_missing_source_is_null(spark, tagged_df):
    mapped = apply_column_mapping(tagged_df, [("id", "id"), ("nope", "gone")])
    assert mapped.where(F.col("gone").isNull()).count() == tagged_df.count()


def test_routed_mapping_per_table(spark, tagged_df):
    writes = {}

    def write(df, table):
        writes[table] = (df.columns, df.count())

    cfg = SQLOutputConfig(
        routes=[
            SinkRoute(table="t_clicks", pattern="clicks", column_mapping="id:click_id"),
            SinkRoute(table="t_default", column_mapping="tag,id,value:v"),
        ],
        remove_tag_prefix="db",
    )
    SQLOutput(cfg, write).write_batch(tagged_df)
    assert writes["t_clicks"][0] == ["click_id"]
    assert writes["t_default"] == (["tag", "id", "v"], 2)


def test_two_routes_same_table_keep_own_mappings(spark, tagged_df):
    """ADVICE r1: a pattern route and the default route targeting the SAME
    table must each apply their OWN column_mapping (the reference applies
    each matched <table> section's mapping) — not collapse to one."""
    writes = []

    def write(df, table):
        writes.append((table, df.columns, df.count()))

    cfg = SQLOutputConfig(
        routes=[
            SinkRoute(table="t_shared", pattern="clicks", column_mapping="id:click_id"),
            SinkRoute(table="t_shared", column_mapping="id,value:v"),
        ],
        remove_tag_prefix="db",
    )
    counts = SQLOutput(cfg, write).write_batch(tagged_df)
    assert ("t_shared", ["click_id"], 2) in writes  # clicks slice, its mapping
    assert ("t_shared", ["id", "v"], 2) in writes  # default slice, its mapping
    assert counts == {"t_shared": 4}  # per-table counts aggregate


def test_empty_route_reports_zero_and_is_not_written(spark, tagged_df):
    """A route whose slice is empty reports 0 rows for its table and never
    reaches ``write``; the routes that matched are written once each."""
    writes = []

    def write(df, table):
        writes.append((table, sorted(r["id"] for r in df.select("id").collect())))

    cfg = SQLOutputConfig(
        routes=[
            SinkRoute(table="t_refunds", pattern="refunds"),  # matches no tag
            SinkRoute(table="t_clicks", pattern="clicks"),
            SinkRoute(table="t_default"),
        ],
        remove_tag_prefix="db",
    )
    counts = SQLOutput(cfg, write).write_batch(tagged_df)
    assert counts == {"t_refunds": 0, "t_clicks": 2, "t_default": 2}
    assert sorted(writes) == [("t_clicks", [1, 2]), ("t_default", [3, 4])]


def test_resilient_writer_bulk_then_row_fallback():
    # out_sql.rb:103-136 / test_out_sql.rb:83-119: bulk raises → one-by-one,
    # poison row retried num_retries times then dropped.
    attempts = {"bulk": 0, "rows": [], "poison": 0}

    def insert_batch(rows):
        attempts["bulk"] += 1
        raise RuntimeError("MissingColumnError")

    def insert_row(row):
        if row["id"] == 2:
            attempts["poison"] += 1
            raise RuntimeError("bad row")
        attempts["rows"].append(row["id"])

    fn = resilient_rows_writer(insert_batch, insert_row, num_retries=5, retry_sleep_s=0)
    fn([{"id": 1}, {"id": 2}, {"id": 3}])
    assert attempts["bulk"] == 1
    assert attempts["rows"] == [1, 3]
    assert attempts["poison"] == 6  # 1 + 5 retries (matches reference: 2 rows × 6 = 12)


def test_resilient_writer_no_fallback_reraises():
    def insert_batch(rows):
        raise RuntimeError("boom")

    fn = resilient_rows_writer(insert_batch, lambda r: None, enable_fallback=False)
    with pytest.raises(RuntimeError):
        fn([{"id": 1}])


def test_quarantine_time_fallback_routing(spark):
    from fluent_plugin_sql_spark.sinks.router import quarantine_time_fallback
    from fluent_plugin_sql_spark.sources.incremental import resolve_event_time

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, None), (3, "garbage")], ["id", "raw"]
    )
    tagged = resolve_event_time(df, "raw", now="2024-06-01 00:00:00").withColumn(
        "tag", F.lit("db.events")
    )
    routed_src = quarantine_time_fallback(tagged)
    out, write = collect_writes()
    cfg = SQLOutputConfig(
        routes=[
            SinkRoute(table="t_quarantine", pattern="**.quarantine"),
            SinkRoute(table="t_clean"),
        ],
        remove_tag_prefix="db",
    )
    SQLOutput(cfg, write).write_batch(routed_src)
    assert out["t_quarantine"] == [2, 3]  # NULL + unparseable diverted
    assert out["t_clean"] == [1]
