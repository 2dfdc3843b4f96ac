"""stream_curate: ``Pipeline.run_streaming`` over a seeded document corpus.

The corpus (8% exact copies, 8% near copies, 5% junk) arrives as parquet
part files of ``select_limit`` documents each.  The stream runs the
quality filter, exact dedup, MinHash near dedup and a rollup, and writes
the survivors to a parquet sink.  The loop is closed with one client:
append one part, wait for ``processAllAvailable()``, repeat.  The first
micro-batch (empty stores) belongs to set-up, so every measured batch
probes non-empty stores.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from gen import curate_corpus
from harness import SETUP_REPS, Run, measure, median, metric, overhead_pct, timed

SELECT_LIMIT = 50
TABLE = "documents"
# measured batches per run
MIN_BATCHES = 3
# measured batches per side on a traced run: it traces the 1st after
# set-up and takes its exact counts over it; one more batch per side
# would bring a traced run in a slow spell of a shared host near the
# run time limit
TRACED_BATCHES = 1
MAX_BATCHES = 40  # corpus size; the time window ends far earlier


def pipeline_config(d: str) -> dict:
    return {
        "source": {
            "path": f"{d}/src",
            "select_limit": SELECT_LIMIT,
            "tables": [{"table": TABLE, "tag": "docs", "update_column": "doc_id"}],
            "quality_filter": {"text_col": "text", "min_tokens": 20, "min_ttr": 0.2},
            "exact_dedup": {"path": f"{d}/exact", "text_col": "text", "id_col": "doc_id"},
            "near_dedup": {"path": f"{d}/near", "text_col": "text", "id_col": "doc_id"},
            "rollup": {"path": f"{d}/rollup", "time_col": "ts", "window": "1 hour",
                       "dims": ["source"]},
        },
        "sink": {"path": f"{d}/out", "tables": [{"table": "clean_docs"}]},
    }


class Curate:
    """One set-up: fresh corpus, source, stores, checkpoint and sink,
    and the pipeline built over them; :meth:`start` runs the stream
    through its first micro-batch."""

    def __init__(self, run: Run):
        from fluent_plugin_sql_spark.pipeline import Pipeline

        self.run = run
        self.dir = run.fresh_dir("curate")
        self.batch = SELECT_LIMIT // 2 if run.tiny else SELECT_LIMIT
        self.corpus = curate_corpus(run.seed, self.batch * MAX_BATCHES)
        os.makedirs(f"{self.dir}/src/{TABLE}.parquet")
        self.parts = 0
        self.cfg = pipeline_config(self.dir)
        self.cfg["source"]["select_limit"] = self.batch
        self.pipe = Pipeline(run.spark, self.cfg)

    def start(self) -> None:
        self.feed()
        (self.query,) = self.pipe.run_streaming(f"{self.dir}/ckpt")
        self.query.processAllAvailable()
        self.progress_seen = len(self.query.recentProgress)

    def feed(self) -> None:
        """Publish the next part file atomically (write, then rename)."""
        if self.parts >= MAX_BATCHES:
            raise RuntimeError("document corpus exhausted")
        lo = self.parts * self.batch
        part = self.corpus.slice(lo, self.batch)
        tmp = f"{self.dir}/src/{TABLE}.parquet/.part-{self.parts:05d}"
        pq.write_table(part, tmp)
        os.rename(tmp, f"{self.dir}/src/{TABLE}.parquet/part-{self.parts:05d}.parquet")
        self.parts += 1

    def step(self) -> float:
        """Feed one part and wait until the stream has processed it."""
        self.feed()
        # a micro-batch that raises stops the query, and this call raises
        secs, _ = timed(self.query.processAllAvailable)
        self.run.op(True)
        return secs

    def progress(self) -> list[dict]:
        """Progress of data-carrying micro-batches since the last call."""
        rp = self.query.recentProgress
        new = rp[self.progress_seen:]
        self.progress_seen = len(rp)
        return [p for p in new if p["numInputRows"] > 0]

    def stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination(60)

    def store_files(self) -> int:
        n = 0
        for store in ("exact", "near"):
            for _, _, files in os.walk(f"{self.dir}/{store}"):
                n += sum(f.endswith(".parquet") for f in files)
        return n

    def sink_rows(self) -> int:
        return self.run.spark.read.parquet(f"{self.dir}/out/clean_docs").count()

    def verify(self) -> None:
        """Sink ids are unique and drawn from the source, no two sink rows
        share md5(text), and the rollup counts exactly the sink rows."""
        from pyspark.sql import functions as F

        from fluent_plugin_sql_spark.operators.rollup import RollupStore

        run, spark = self.run, self.run.spark
        sink = spark.read.parquet(f"{self.dir}/out/clean_docs")
        n, ids, hashes = sink.select(
            F.count("*"), F.count_distinct("doc_id"), F.count_distinct(F.md5("text"))
        ).first()
        fed = self.parts * self.batch
        src_ids = set(range(fed))
        sink_ids = {r[0] for r in sink.select("doc_id").collect()}
        run.check(n > 0 and n == ids, f"sink has {n} rows but {ids} distinct ids")
        run.check(sink_ids <= src_ids, "sink holds ids the source never had")
        run.check(n == hashes, f"sink has {n} rows but {hashes} distinct md5(text)")
        ru = self.cfg["source"]["rollup"]
        store = RollupStore(spark, f"{ru['path']}/{TABLE}", ru["time_col"],
                            window=ru["window"], dims=tuple(ru["dims"]))
        total = store.snapshot().agg(F.sum("rc")).first()[0]
        run.check(total == n, f"rollup counts {total} rows, sink holds {n}")


def wrap_layers(run: Run) -> None:
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore, MinHashDedupStore
    from fluent_plugin_sql_spark.operators.rollup import RollupStore
    from fluent_plugin_sql_spark.sinks.router import SQLOutput

    rec = run.recorder
    rec.wrap(ExactDedupStore, "probe_new", "operators.dedup.exact_probe")
    rec.wrap(ExactDedupStore, "absorb", "operators.dedup.exact_absorb")
    rec.wrap(MinHashDedupStore, "sign", "operators.dedup.minhash_sign")
    rec.wrap(MinHashDedupStore, "probe_dups", "operators.dedup.minhash_probe")
    rec.wrap(MinHashDedupStore, "absorb", "operators.dedup.minhash_absorb")
    rec.wrap(RollupStore, "absorb", "operators.rollup.absorb")
    rec.wrap(SQLOutput, "write_batch", "sinks.router.write_batch")

    # the micro-batch handler is a closure inside run_streaming; wrap it
    # where it is handed to Spark
    original = DataStreamWriter.foreachBatch

    def foreachBatch(self, func):
        def handler(df, epoch_id):
            return rec.call("pipeline.handler", func, df, epoch_id)

        return original(self, handler)

    DataStreamWriter.foreachBatch = foreachBatch


def main(run: Run, session_s: float) -> dict:
    if run.recorder is not None:
        wrap_layers(run)
    setups = []
    cur = None
    for _ in range(SETUP_REPS):
        if cur is not None:
            run.drop_dir(cur.dir)
        secs, cur = timed(lambda: Curate(run))
        setups.append(secs)
    # the first micro-batch fills the empty stores: warm-up, part of set-up
    warm_s, _ = timed(cur.start)

    need = 1 if run.tiny else TRACED_BATCHES if run.recorder else MIN_BATCHES
    snap: dict = {}

    def step() -> list[float]:
        secs = cur.step()
        if run.recorder is not None and cur.parts == 2:
            # counted after the first measured batch, untraced, so they
            # repeat per seed
            run.recorder.enabled, was = False, run.recorder.enabled
            snap.update(files=cur.store_files(), survivors=cur.sink_rows(),
                        fed=cur.parts * cur.batch)
            run.recorder.enabled = was
        return [secs]

    traced, untraced = measure(run, step, need)
    out: dict = {}
    if run.recorder is None:
        out["metrics"] = {
            "setup_s": metric(session_s + median(setups) + warm_s, "s"),
            "op_ms_p50": metric(median(untraced) * 1e3, "ms"),
            "items_per_s": metric(cur.batch / median(untraced), "1/s"),
        }
    else:
        out["layers"] = layer_metrics(run, traced, untraced, cur.progress(), snap, need)
    cur.stop()
    cur.verify()
    return out


def layer_metrics(run: Run, times, untraced, progress, snap, need: int) -> dict:
    rec = run.recorder
    handlers = [s for s in rec.closed() if s["name"] == "pipeline.handler"]
    n = max(len(handlers), 1)
    exact = handlers[:need]
    tot = rec.totals()
    self_ms = rec.self_ms()

    def per_batch(name: str) -> float:
        return tot.get(name, {}).get("ms", 0.0) / n

    def progress_ms(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in progress]) if progress else 0.0

    return {
        "sources.stream_source.latest_offset_ms": metric(progress_ms("latestOffset"), "ms"),
        "sources.stream_source.get_batch_ms": metric(progress_ms("getBatch"), "ms"),
        "operators.dedup.exact_probe_ms": metric(per_batch("operators.dedup.exact_probe"), "ms"),
        "operators.dedup.exact_absorb_ms": metric(per_batch("operators.dedup.exact_absorb"), "ms"),
        "operators.dedup.minhash_sign_ms": metric(per_batch("operators.dedup.minhash_sign"), "ms"),
        "operators.dedup.minhash_probe_ms": metric(per_batch("operators.dedup.minhash_probe"), "ms"),
        "operators.dedup.minhash_absorb_ms": metric(per_batch("operators.dedup.minhash_absorb"), "ms"),
        "operators.rollup.absorb_ms": metric(per_batch("operators.rollup.absorb"), "ms"),
        "sinks.router.write_batch_ms": metric(per_batch("sinks.router.write_batch"), "ms"),
        "pipeline.handler_self_ms": metric(self_ms.get("pipeline.handler", 0.0) / n, "ms"),
        "pipeline.spark_jobs_per_microbatch": metric(
            sum(s["jobs"] for s in exact) / max(len(exact), 1), "count"),
        "pipeline.spark_tasks_per_microbatch": metric(
            sum(s["tasks"] for s in exact) / max(len(exact), 1), "count"),
        "operators.dedup.store_files": metric(snap["files"], "count"),
        "operators.dedup.survivor_ratio": metric(snap["survivors"] / snap["fed"], "ratio"),
        "trace.overhead_pct": metric(overhead_pct(times, untraced), "%"),
    }
