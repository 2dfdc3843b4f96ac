"""Reference-semantics tests for the incremental scan + poll loop.

Mirrors the reference's e2e strategy (SURVEY.md §5): poll → events golden
checks, tie handling at the watermark, time fallback, state-file resume.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from fluent_plugin_sql_spark.config import SourceTable, SQLInputConfig
from fluent_plugin_sql_spark.sources.incremental import (
    IncrementalScan,
    SQLInput,
    discover_tables,
    resolve_event_time,
)
from fluent_plugin_sql_spark.state import MemoryStateStore, StateStore

NOW = dt.datetime(2024, 6, 1, 12, 0, 0)


def events_reader(spark, sf_dir):
    from fluent_plugin_sql_spark.io import load_table

    return lambda: load_table(spark, sf_dir, "events")


def test_scan_shape_strict_greater_and_limit(spark, sf_dir):
    scan = IncrementalScan(events_reader(spark, sf_dir), "event_id", select_limit=100)
    batch = scan.batch_plan(last_value=49)
    rows = batch.collect()
    assert len(rows) == 100
    ids = [r["event_id"] for r in rows]
    # strictly greater: id 49 itself is never re-read (T2, in_sql.rb:131-132)
    assert min(ids) == 50
    assert ids == sorted(ids)


def test_scan_no_state_reads_from_start(spark, sf_dir):
    scan = IncrementalScan(events_reader(spark, sf_dir), "event_id", select_limit=10)
    ids = [r["event_id"] for r in scan.batch_plan(None).collect()]
    assert ids == list(range(10))


def test_poll_advances_watermark_and_drains(spark, sf_dir, tmp_path):
    emitted = []
    cfg = SQLInputConfig(
        tables=[SourceTable(table="events", update_column="event_id", time_column="ts")],
        tag_prefix="db",
        select_limit=400,
        state_file=str(tmp_path / "state.json"),
    )
    inp = SQLInput(
        spark,
        cfg,
        readers={"events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: emitted.append((tag, df.count())),
        now=NOW,
    )
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = inp.run_once(drain=True)
    assert got["events"] == total
    assert all(tag == "db.events" for tag, _ in emitted)
    assert sum(n for _, n in emitted) == total
    # resume from persisted state: nothing new to read
    inp2 = SQLInput(
        spark,
        cfg,
        readers={"events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: emitted.append((tag, df.count())),
        state=StateStore(str(tmp_path / "state.json")),
        now=NOW,
    )
    assert inp2.run_once()["events"] == 0


def test_emit_before_checkpoint_ordering(spark, sf_dir, tmp_path):
    """Crash inside emit ⇒ state NOT advanced ⇒ batch re-emitted (at-least-once)."""
    state_file = str(tmp_path / "state.json")
    cfg = SQLInputConfig(
        tables=[SourceTable(table="events", update_column="event_id")],
        select_limit=50,
        state_file=state_file,
    )

    def boom(tag, df):
        raise RuntimeError("sink crashed")

    inp = SQLInput(spark, cfg, {"events": events_reader(spark, sf_dir)}, emit=boom, now=NOW)
    res = inp.run_once()
    assert res["events"] == -1  # isolated error (T7)
    assert StateStore(state_file).last_record("events") is None
    # retry with a working sink re-emits the same first batch
    seen = []
    inp2 = SQLInput(
        spark, cfg,
        {"events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: seen.append([r["event_id"] for r in df.orderBy("event_id").collect()]),
        state=StateStore(state_file), now=NOW,
    )
    inp2.run_once()
    assert seen[0] == list(range(50))


def test_error_isolation_other_tables_proceed(spark, sf_dir):
    cfg = SQLInputConfig(
        tables=[
            SourceTable(table="bad", update_column="nope"),
            SourceTable(table="events", update_column="event_id"),
        ],
        select_limit=10,
    )

    def bad_reader():
        raise RuntimeError("connection refused")

    got = SQLInput(
        spark, cfg,
        {"bad": bad_reader, "events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: None, state=MemoryStateStore(), now=NOW,
    ).run_once()
    assert got["bad"] == -1 and got["events"] == 10


def test_lenient_event_time_fallback(spark):
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00",), (None,), ("not a time",)], ["t"]
    )
    out = resolve_event_time(df, "t", now=NOW).collect()
    assert out[0]["time"] == dt.datetime(2024, 1, 1, 10, 0)
    assert not out[0]["_time_fallback"]
    assert out[1]["time"] == NOW and out[1]["_time_fallback"]
    assert out[2]["time"] == NOW and out[2]["_time_fallback"]


def test_discover_tables_skips_migrations(spark, sf_dir):
    names = discover_tables(spark, sf_dir)
    assert "events" in names and "lineitem" in names
    assert "schema_migrations" not in names


def test_state_store_tolerates_empty_file(tmp_path):
    p = tmp_path / "s.json"
    p.write_text("")
    st = StateStore(str(p))
    assert st.last_record("x") is None
    st.update("x", {"id": 7})
    assert StateStore(str(p)).last_record("x") == {"id": 7}


def test_state_store_roundtrips_watermark_types(tmp_path):
    """ADVICE r1: typed watermarks (datetime/date/Decimal) must come back
    with the SAME type after restart — a timestamp watermark reloaded as a
    string would change the scan predicate's comparison semantics on
    strict dialects."""
    import datetime as dt
    from decimal import Decimal

    p = tmp_path / "s.json"
    rec = {
        "ts": dt.datetime(2024, 3, 1, 10, 30, 0, 123456),
        "d": dt.date(2024, 3, 1),
        "amount": Decimal("12.3400"),
        "id": 7,
        "name": "x'y\\z",
        "ratio": 0.5,
        "flag": True,
        "missing": None,
    }
    StateStore(str(p)).update("t", rec)
    loaded = StateStore(str(p)).last_record("t")
    assert loaded == rec
    for k in rec:
        assert type(loaded[k]) is type(rec[k]), k


def test_composite_watermark_exact_resume_on_ties(spark, sf_dir, tmp_path):
    """Engine extension: with a non-unique update column (hour-truncated
    ts) and a unique tiebreak, draining in small batches must emit every
    row exactly once — a single-column strict `>` would skip or re-read
    the rows sharing the boundary timestamp."""
    from fluent_plugin_sql_spark.io import load_table

    def reader():
        return (
            load_table(spark, sf_dir, "events")
            .withColumn("ts_hour", F.date_trunc("hour", "ts"))
        )

    cfg = SQLInputConfig(
        tables=[
            SourceTable(
                table="events", update_column="ts_hour", tiebreak_column="event_id"
            )
        ],
        select_limit=37,  # far smaller than the ~#events per hour
        state_file=str(tmp_path / "state.json"),
    )
    seen: list[int] = []
    inp = SQLInput(
        spark, cfg, {"events": reader},
        emit=lambda tag, df: seen.extend(r["event_id"] for r in df.select("event_id").collect()),
        now=NOW,
    )
    total = reader().count()
    got = inp.run_once(drain=True)
    assert got["events"] == total
    assert len(seen) == total
    assert len(set(seen)) == total  # no row twice, none skipped
    # state holds the composite pair
    st = StateStore(str(tmp_path / "state.json")).last_record("events")
    assert set(st) == {"ts_hour", "event_id"}


@pytest.mark.parametrize(
    "schema, rows, tiebreak, limit, expected",
    [
        # asc order puts the NULL row first in the batch; the checkpoint
        # is the max non-NULL value
        ("id INT, upd INT", [(1, None), (2, 5), (3, 3), (4, 7)], None, 3,
         {"upd": 5}),
        # ties on upd: the max (upd, tie) pair; a NULL tie ranks lowest
        ("id INT, upd INT, tie INT",
         [(1, 1, 8), (2, 2, 9), (3, 2, None), (4, 2, 3), (5, 3, None)], "tie", 4,
         {"upd": 2, "tie": 9}),
        # NaN ranks above every float, as in Spark's ordering
        ("id INT, upd DOUBLE", [(1, 1.5), (2, float("nan")), (3, 0.5)], None, 10,
         {"upd": float("nan")}),
    ],
    ids=["null_update", "tiebreak_pair", "nan_update"],
)
def test_poll_checkpoints_batch_tail(spark, tmp_path, schema, rows, tiebreak, limit, expected):
    """The checkpoint a parquet poll persists is the batch's max
    (update_column[, tiebreak_column]) as Spark's ``desc`` order ranks it:
    NULLs lowest, NaN highest."""
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    state_file = str(tmp_path / "state.json")
    cfg = SQLInputConfig(
        tables=[SourceTable(table="t", update_column="upd", tiebreak_column=tiebreak)],
        select_limit=limit,
        state_file=state_file,
    )
    inp = SQLInput(
        spark, cfg, {"t": lambda: spark.read.parquet(path)},
        emit=lambda tag, df: None, now=NOW,
    )
    assert inp.poll_table("t") == min(limit, len(rows))
    got = StateStore(state_file).last_record("t")
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert type(got[k]) is type(v), k
        assert got[k] == v or (math.isnan(got[k]) and math.isnan(v)), k


def test_reset_to_replays_from_watermark(spark, sf_dir, tmp_path):
    cfg = SQLInputConfig(
        tables=[SourceTable(table="events", update_column="event_id")],
        select_limit=10_000,
        state_file=str(tmp_path / "state.json"),
    )
    counts = []
    inp = SQLInput(
        spark, cfg, {"events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: counts.append(df.count()), now=NOW,
    )
    inp.run_once(drain=True)
    assert inp.run_once() == {"events": 0}
    # replay the tail
    inp.reset_to("events", {"event_id": 899})
    assert inp.run_once() == {"events": 100}
    # full backfill
    inp.reset_to("events", None)
    assert inp.run_once(drain=True)["events"] == 1000


def test_eventtime_ns_to_us_truncation_boundary(spark, tmp_path):
    """Fidelity pin for the reference's ns-resolution EventTime
    (ChangeLog:21): Spark timestamps are µs, so sub-µs precision is LOST
    by design — this test pins the exact loss semantics: floor division
    (truncation toward zero for positive epochs), identical to DuckDB's
    ns→µs cast, never rounding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluent_plugin_sql_spark.io import load_table

    base = 1_700_000_000_000_000_000  # 2023-11-14T22:13:20Z in ns
    ns_values = [
        base,          # exact µs boundary
        base + 1,      # 1 ns past      → truncates DOWN
        base + 999,    # 999 ns past    → truncates DOWN (not rounded up)
        base + 1_000,  # next µs        → exact
        base + 1_999,  # 1.999 µs past  → 1 µs
    ]
    d = tmp_path / "ns_tbl"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array(range(5), pa.int64()),
                  "ts": pa.array(ns_values, pa.timestamp("ns"))}),
        str(d / "events.parquet"),
    )
    rows = load_table(spark, str(d), "events").orderBy("id").collect()
    micros = [r["ts"].microsecond for r in rows]
    # all five collapse onto exactly two µs values: :20.000000 and :20.000001
    assert micros == [0, 0, 0, 1, 1]
    assert rows[1]["ts"] == rows[0]["ts"]  # 1 ns past boundary == boundary
    assert rows[4]["ts"] == rows[3]["ts"]  # .999 µs truncated, not rounded


def test_snapshot_bootstrap_then_incremental_handoff(spark, sf_dir, tmp_path):
    """CDC bootstrap: one bulk snapshot emit, watermark captured FROM the
    snapshot and persisted, and the subsequent incremental poll reads
    exactly nothing until the table actually grows."""
    from fluent_plugin_sql_spark.sources.incremental import snapshot_bootstrap

    state_file = str(tmp_path / "state.json")
    emitted = []
    df_events = events_reader(spark, sf_dir)()
    total = df_events.count()
    max_id = df_events.agg(F.max("event_id")).first()[0]

    rec = snapshot_bootstrap(
        df_events, "event_id",
        emit=lambda tag, d: emitted.append((tag, d.count())),
        tag="db.events",
        state=StateStore(state_file), table="events",
    )
    assert emitted == [("db.events", total)]
    assert rec == {"event_id": max_id}

    # handoff: the poll loop resumes from the snapshot watermark
    cfg = SQLInputConfig(
        tables=[SourceTable(table="events", update_column="event_id")],
        select_limit=100, state_file=state_file,
    )
    inp = SQLInput(
        spark, cfg, {"events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: emitted.append((tag, df.count())),
        state=StateStore(state_file), now=NOW,
    )
    assert inp.run_once()["events"] == 0  # no gap, no overlap

    # the table grows → only the new rows flow
    grown = lambda: df_events.unionByName(
        df_events.limit(5).withColumn("event_id", F.col("event_id") + max_id + 1)
    )
    inp2 = SQLInput(
        spark, cfg, {"events": grown},
        emit=lambda tag, df: emitted.append((tag, df.count())),
        state=StateStore(state_file), now=NOW,
    )
    assert inp2.run_once()["events"] == 5


def test_custom_time_parse_format(spark):
    """Reference custom-time scenario (test_in_sql_with_custom_time.rb):
    ms+zone timestamps parse, NULL and garbage fall back to now — plus
    the engine extension: an explicit pattern for non-standard layouts
    that try_cast alone cannot read."""
    from fluent_plugin_sql_spark.sources.incremental import resolve_event_time

    # the reference's own fixture values (zone-offset form) parse via the
    # standard lenient cast, no pattern needed
    df = spark.createDataFrame(
        [("2020-08-27 15:00:16.100758000 -0400",), (None,), ("foo",)], ["t"]
    )
    out = resolve_event_time(df, "t", now=NOW).collect()
    assert out[0]["time"] == dt.datetime(2020, 8, 27, 19, 0, 16, 100758)  # → UTC
    assert not out[0]["_time_fallback"]
    assert out[1]["time"] == NOW and out[1]["_time_fallback"]
    assert out[2]["time"] == NOW and out[2]["_time_fallback"]

    # non-standard layout: pattern tried first, cast second, now last
    df2 = spark.createDataFrame(
        [("27/08/2020 15:00:16",), ("2024-01-01 10:00:00",), ("junk",)], ["t"]
    )
    out2 = resolve_event_time(df2, "t", now=NOW, parse_format="dd/MM/yyyy HH:mm:ss").collect()
    assert out2[0]["time"] == dt.datetime(2020, 8, 27, 15, 0, 16)
    assert not out2[0]["_time_fallback"]
    assert out2[1]["time"] == dt.datetime(2024, 1, 1, 10, 0)  # cast fallback
    assert out2[2]["time"] == NOW and out2[2]["_time_fallback"]


def test_run_forever_health_probe_backoff_and_recovery(spark, sf_dir, monkeypatch):
    """Reconnect parity (in_sql.rb:259-265): a failing health probe skips
    the whole cycle — no poll, watermark untouched — with exponentially
    backed-off sleeps, and once the probe recovers the loop resumes the
    incremental scan exactly where it left off.  The loop never crashes."""
    from fluent_plugin_sql_spark.sources import incremental as inc_mod

    sleeps: list[float] = []
    # patch the module's _time binding, NOT time.sleep itself — Spark/py4j
    # poll with time.sleep on background threads
    monkeypatch.setattr(
        inc_mod, "_time", type("T", (), {"sleep": staticmethod(sleeps.append)})
    )

    cfg = SQLInputConfig(
        tables=[SourceTable(table="events", update_column="event_id")],
        select_limit=100,
        select_interval=1.0,
    )
    emitted: list[int] = []
    state = MemoryStateStore()
    inp = SQLInput(
        spark, cfg, {"events": events_reader(spark, sf_dir)},
        emit=lambda tag, df: emitted.append(df.count()),
        state=state, now=NOW,
    )

    calls = {"n": 0}

    def flaky_probe() -> None:
        calls["n"] += 1
        if calls["n"] <= 3:
            raise ConnectionError("db down")

    # healthy cycle → 3 failed probes (no polls) → 2 healthy cycles
    inp.run_forever(max_cycles=6, health_probe=flaky_probe, max_backoff=5.0)

    # wait: first cycle has no probe failures yet → probe called 6 times
    assert calls["n"] == 6
    # polls happened only on the 3 healthy cycles; watermark advanced by
    # exactly 3 batches, nothing skipped and nothing re-read
    assert emitted == [100, 100, 100]
    assert state.last_record("events") == {"event_id": 299}
    # sleeps: base, then 2x/4x during the outage (capped at max_backoff),
    # then reset to base after recovery
    assert sleeps == [1.0, 2.0, 4.0, 5.0, 1.0, 1.0]
