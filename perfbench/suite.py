"""analytics_suite: the 13 headline registry queries, each run to
``collect()``, over seeded star-schema, events, documents and
embeddings tables.  One pass runs every query once, in order; the
results of the last pass are checked against each query's DuckDB twin
outside the timed region."""

from __future__ import annotations

import sys
import time

import pyarrow.parquet as pq

from bench import HEADLINE
from gen import analytics_tables
from harness import SETUP_REPS, Run, measure, median, metric, overhead_pct, timed

# tables the queries read, as parquet files of the same name
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
# 3k orders, ~12k lineitem rows, 2k events: about 1/50 of bench.py's
# sf0.1 files, so a run fits the time budget (see README.md)
SCALE = 0.2
WARM_PASSES = 1
MIN_PASSES = 3


def setup_inputs(run: Run) -> str:
    d = run.fresh_dir("tables")
    scale = 0.05 if run.tiny else SCALE
    for name, table in analytics_tables(run.seed, scale).items():
        pq.write_table(table, f"{d}/{name}.parquet")
    return d


def main(run: Run, session_s: float) -> dict:
    import __spark_entry__ as entry

    queries = entry.queries()
    spark = run.spark
    setups, d = [], None
    for _ in range(SETUP_REPS):
        if d is not None:
            run.drop_dir(d)
        secs, d = timed(lambda: setup_inputs(run))
        setups.append(secs)
    results: dict[str, tuple[list, list[str]]] = {}

    def one_pass(per_query: dict[str, list[float]] | None = None) -> float:
        t0 = time.perf_counter()
        for name in HEADLINE:
            def run_query(name=name):
                df = queries[name](spark, d)
                return df, df.collect()

            q0 = time.perf_counter()
            try:
                rec = run.recorder
                df, rows = rec.call(f"plans.{name}", run_query) if rec else run_query()
            except Exception as e:  # noqa: BLE001 — a failing query is a failed op
                print(f"{name} failed: {e}", file=sys.stderr)
                run.op(False)
                continue
            run.op(True)
            if per_query is not None:
                per_query.setdefault(name, []).append(time.perf_counter() - q0)
            results[name] = (rows, df.columns)
        return time.perf_counter() - t0

    warm_s = sum(one_pass() for _ in range(1 if run.tiny else WARM_PASSES))

    per_query: dict[str, list[float]] = {}

    def step() -> list[float]:
        return [one_pass(per_query if run.recorder and run.recorder.enabled else None)]

    traced, untraced = measure(run, step, 1 if run.tiny else MIN_PASSES)
    out: dict = {}
    if run.recorder is None:
        out["metrics"] = {
            "setup_s": metric(session_s + median(setups) + warm_s, "s"),
            "op_ms_p50": metric(median(untraced) * 1e3, "ms"),
            "items_per_s": metric(len(HEADLINE) / median(untraced), "1/s"),
        }
    else:
        out["layers"] = {
            f"plans.{n}_ms": metric(median(per_query.get(n, [0.0])) * 1e3, "ms")
            for n in HEADLINE
        }
        out["layers"]["trace.overhead_pct"] = metric(overhead_pct(traced, untraced), "%")
    verify(run, d, entry.oracle_sql(), results)
    return out


def verify(run: Run, d: str, oracles: dict[str, str], results) -> None:
    """Row count, column names and order-insensitive values per query
    must match the query's DuckDB twin over the same files."""
    import duckdb

    from tools.oracle_check import rows_to_multiset

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        for name in HEADLINE:
            if name not in results:
                continue  # already counted as a failed op
            rows, cols = results[name]
            res = con.execute(oracles[name])
            want_cols = [c[0] for c in res.description]
            want = rows_to_multiset(res.fetchall(), want_cols)
            got = rows_to_multiset([tuple(r) for r in rows], cols)
            run.check(sorted(cols) == sorted(want_cols),
                      f"{name}: spark columns {sorted(cols)} != duckdb {sorted(want_cols)}")
            run.check(got == want, f"{name}: spark rows ({len(got)}) differ from duckdb's ({len(want)})")
    finally:
        con.close()
