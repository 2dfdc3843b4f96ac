"""ingest_jdbc: the reference's whole job against embedded Derby.

Two tagged source tables drain through ``Pipeline.run_once(drain=True)``
(select_limit 500, JSON state_file) into two Derby sink tables: one
pattern route plus the default, each with a column_mapping.  The run is
a closed loop with one client: each round appends a fresh backlog to
both source tables (outside the timed region), then drains it.
"""

from __future__ import annotations

import json
import os
import time

from gen import IngestSource
from harness import SETUP_REPS, Run, measure, median, metric, overhead_pct, percentile, timed

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
SELECT_LIMIT = 500
# (table, tag, rows per round): 1730 rows drain in 4 polls, 1270 in 3
SOURCES = (("src_orders", "orders", 1730), ("src_audit", "audit", 1270))
# source → (sink its tag routes to, the sink column holding the source id)
SINKS = {"src_orders": ("sink_orders", "order_id"), "src_audit": ("sink_events", "event_id")}
# four rounds, the most that fits the time budget next to stream_curate
# (see README.md); the traced run's p75 then has seven samples beyond it
MIN_POLLS = 28
WARM_ROUNDS = 2


class Derby:
    """One embedded Derby database, driven over a JDBC connection that
    lives in the Spark driver JVM (the same JVM the pipeline's JDBC
    reads and writes use)."""

    def __init__(self, spark, path: str):
        self.url = f"jdbc:derby:{path};create=true"
        self._path = path
        jvm = spark._jvm  # noqa: SLF001
        self._jvm = jvm
        self.conn = jvm.java.sql.DriverManager.getConnection(self.url)

    def execute(self, sql: str) -> None:
        st = self.conn.createStatement()
        try:
            st.executeUpdate(sql)
        finally:
            st.close()

    def query(self, sql: str) -> list[list]:
        st = self.conn.createStatement()
        try:
            rs = st.executeQuery(sql)
            n = rs.getMetaData().getColumnCount()
            rows = []
            while rs.next():
                rows.append([rs.getObject(i + 1) for i in range(n)])
            return rows
        finally:
            st.close()

    def insert(self, table: str, rows: list[tuple], chunk: int = 400) -> None:
        for i in range(0, len(rows), chunk):
            values = ",".join(
                f"({r[0]},{r[1]},'{r[2]}',{r[3]!r},TIMESTAMP('{r[4]:%Y-%m-%d %H:%M:%S}'))"
                for r in rows[i : i + chunk]
            )
            self.execute(f"INSERT INTO {table} VALUES {values}")

    def close(self) -> None:
        self.conn.close()
        try:
            self._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{self._path};shutdown=true"
            )
        except Exception:  # noqa: BLE001 — Derby reports shutdown as SQLException 08006
            pass


def pipeline_config(url: str, state_file: str) -> dict:
    return {
        "source": {
            "url": url,
            "driver": DRIVER,
            "dialect": "derby",
            "quote_identifiers": True,
            "tag_prefix": "shop",
            "select_limit": SELECT_LIMIT,
            "state_file": state_file,
            "tables": [
                {"table": t, "tag": tag, "update_column": "upd", "time_column": "created_at"}
                for t, tag, _ in SOURCES
            ],
        },
        "sink": {
            "url": url,
            "driver": DRIVER,
            "remove_tag_prefix": "shop",
            "tables": [
                {"table": "sink_orders", "pattern": "orders",
                 "column_mapping": "id:order_id,upd,amount,time:event_time,tag"},
                {"table": "sink_events",
                 "column_mapping": "id:event_id,upd,kind,time"},
            ],
        },
        "logical_now": "2024-06-01 00:00:00",
    }


class Ingest:
    """One set-up of the workload: a fresh database and state file."""

    def __init__(self, run: Run):
        from fluent_plugin_sql_spark.pipeline import Pipeline

        self.run = run
        self.dir = run.fresh_dir("ingest")
        self.db = Derby(run.spark, os.path.join(self.dir, "db"))
        self.state_file = os.path.join(self.dir, "state.json")
        self.sources = {t: IngestSource(run.seed, i) for i, (t, _, _) in enumerate(SOURCES)}
        for t, _, _ in SOURCES:
            self.db.execute(
                f'CREATE TABLE {t} ("id" BIGINT, "upd" BIGINT, "kind" VARCHAR(16), '
                f'"amount" DOUBLE, "created_at" TIMESTAMP, PRIMARY KEY ("id"))'
            )
        self.cfg = pipeline_config(self.db.url, self.state_file)
        self.pipe = Pipeline(run.spark, self.cfg)
        self.polls: list[float] = []
        inp = self.pipe.input

        def poll_table(name: str) -> int:
            # resolved per call, so a span wrapper on the class is seen
            t0 = time.perf_counter()
            try:
                n = type(inp).poll_table(inp, name)
            except Exception:
                self.run.op(False)
                raise
            self.polls.append(time.perf_counter() - t0)
            self.run.op(True)
            return n

        inp.poll_table = poll_table

    def round(self) -> tuple[float, int]:
        """Append one backlog per source, then drain it; returns the
        drain's wall time and the rows it emitted.  A poll that raised
        reports -1 for its table (and was tallied as failed)."""
        for t, _, n in SOURCES:
            self.db.insert(t, self.sources[t].rows(n // 4 if self.run.tiny else n))
        secs, emitted = timed(lambda: self.pipe.run_once(drain=True))
        return secs, sum(max(v, 0) for v in emitted.values())

    def verify(self) -> None:
        """Sinks hold every source row exactly once under first-match-wins
        routing, the watermark is max(upd) per table, and a pipeline
        rebuilt from the state file finds nothing new."""
        from fluent_plugin_sql_spark.pipeline import Pipeline

        run, db = self.run, self.db
        with open(self.state_file) as f:
            state = json.load(f)["last_records"]
        for src, (sink, key) in SINKS.items():
            n_src, max_upd = db.query(f'SELECT COUNT(*), MAX("upd") FROM {src}')[0]
            n_sink, n_distinct = db.query(
                f'SELECT COUNT(*), COUNT(DISTINCT "{key}") FROM {sink}'
            )[0]
            stray = db.query(
                f'SELECT COUNT(*) FROM {sink} k WHERE NOT EXISTS '
                f'(SELECT 1 FROM {src} s WHERE s."id" = k."{key}" AND s."upd" = k."upd")'
            )[0][0]
            run.check(
                n_sink == n_src == n_distinct and stray == 0,
                f"{sink}: {n_sink} rows, {n_distinct} distinct, {stray} stray; {src} has {n_src}",
            )
            run.check(
                state.get(src, {}).get("upd") == max_upd,
                f"{src}: watermark {state.get(src)} != max(upd) {max_upd}",
            )
        again = Pipeline(run.spark, self.cfg).run_once()
        run.check(all(v == 0 for v in again.values()), f"resumed pipeline polled {again}")

    def close(self) -> None:
        self.db.close()


def wrap_layers(run: Run, ing: Ingest) -> None:
    """Span wrappers around the public entry points this workload uses."""
    from fluent_plugin_sql_spark.sinks.router import SQLOutput
    from fluent_plugin_sql_spark.sources.incremental import SQLInput
    from fluent_plugin_sql_spark.sources.jdbc import JdbcIncrementalScan
    from fluent_plugin_sql_spark.state import StateStore

    rec = run.recorder
    rec.wrap(SQLInput, "poll_table", "sources.incremental.poll_table")
    rec.wrap(JdbcIncrementalScan, "batch_plan", "sources.jdbc.batch_plan")
    rec.wrap(StateStore, "update", "state.update")
    rec.wrap(SQLOutput, "write_batch", "sinks.router.write_batch")
    rec.wrap(ing.pipe.output, "write", "sinks.jdbc_write")


def main(run: Run, session_s: float) -> dict:
    setups = []
    ing = None
    for _ in range(SETUP_REPS):
        if ing is not None:
            ing.close()
            run.drop_dir(ing.dir)
        secs, ing = timed(lambda: Ingest(run))
        setups.append(secs)
    # two warm rounds: JDBC code paths, sink table creation, and the JIT
    # settling on the poll loop before anything is measured
    warm_s, _ = timed(lambda: [ing.round() for _ in range(WARM_ROUNDS)])
    ing.polls.clear()
    if run.recorder is not None:
        wrap_layers(run, ing)

    rates: list[float] = []  # rows per second of each round's drain

    def step() -> list[float]:
        start = len(ing.polls)
        secs, rows = ing.round()
        rates.append(rows / secs)
        return ing.polls[start:]

    traced, untraced = measure(run, step, 4 if run.tiny else MIN_POLLS)
    out: dict = {}
    if run.recorder is None:
        out["metrics"] = {
            "setup_s": metric(session_s + median(setups) + warm_s, "s"),
            "op_ms_p50": metric(median(untraced) * 1e3, "ms"),
            "items_per_s": metric(median(rates), "1/s"),
        }
    else:
        out["layers"] = layer_metrics(run, traced, untraced, len(ing.cfg["sink"]["tables"]))
    ing.verify()
    ing.close()
    return out


def layer_metrics(run: Run, polls: list[float], untraced: list[float], routes: int) -> dict:
    rec = run.recorder
    tot = rec.totals()
    self_ms = rec.self_ms()
    n_polls = max(tot.get("sources.incremental.poll_table", {}).get("calls", 0), 1)
    batches = tot.get("sinks.router.write_batch", {}).get("calls", 0)
    writes = tot.get("sinks.jdbc_write", {}).get("calls", 0)
    slices = batches * routes  # each write_batch slices once per route

    def per_poll(name: str, own: bool = False) -> float:
        ms = self_ms.get(name, 0.0) if own else tot.get(name, {}).get("ms", 0.0)
        return ms / n_polls

    poll = tot.get("sources.incremental.poll_table", {"jobs": 0, "tasks": 0})
    return {
        "sources.incremental.poll_self_ms": metric(per_poll("sources.incremental.poll_table", True), "ms"),
        "sources.incremental.poll_ms_p75": metric(percentile(polls, 75) * 1e3, "ms"),
        "sources.jdbc.batch_plan_ms": metric(per_poll("sources.jdbc.batch_plan"), "ms"),
        "state.update_ms": metric(per_poll("state.update"), "ms"),
        "sinks.router.write_batch_self_ms": metric(per_poll("sinks.router.write_batch", True), "ms"),
        "sinks.jdbc_write_ms": metric(per_poll("sinks.jdbc_write"), "ms"),
        "sources.incremental.spark_jobs_per_poll": metric(poll["jobs"] / n_polls, "count"),
        "sources.incremental.spark_tasks_per_poll": metric(poll["tasks"] / n_polls, "count"),
        "sinks.router.useful_slice_ratio": metric(writes / slices if slices else 0.0, "ratio"),
        "trace.overhead_pct": metric(overhead_pct(polls, untraced), "%"),
    }
