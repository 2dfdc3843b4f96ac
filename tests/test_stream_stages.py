"""The streaming curation stage runner (streaming.stages) under
``Pipeline.run_streaming`` and ``near_dedup_stream``: the feature pin →
probe → pin → sink → absorb order, the Spark jobs of one micro-batch,
the compaction cadence, and crash/replay at the sink and absorb
boundaries."""

from __future__ import annotations

import datetime
import os

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore, MinHashDedupStore
from fluent_plugin_sql_spark.operators.rollup import RollupStore
from fluent_plugin_sql_spark.pipeline import Pipeline
from fluent_plugin_sql_spark.sinks.router import SQLOutput
from fluent_plugin_sql_spark.streaming.stages import QualityStage

BATCH = 6  # select_limit: doc ids [k*BATCH, (k+1)*BATCH) form micro-batch k
T0 = datetime.datetime(2024, 3, 1)


def _novel(i: int) -> str:
    return " ".join(f"w{i}t{j}" for j in range(24))


def _near(i: int) -> str:
    words = _novel(i).split()
    words[12] = "edited"
    return " ".join(words)


def _corpus(n_batches: int) -> list[tuple[int, str]]:
    """Per batch: novel docs, one junk row (quality filter), and from
    batch 1 on an exact copy and a near copy of the previous batch."""
    texts = []
    for b in range(n_batches):
        lo = b * BATCH
        batch = [_novel(lo + j) for j in range(BATCH - 1)] + ["junk"]
        if b:
            batch[1] = _novel(lo - BATCH)  # exact copy of the previous batch
            batch[2] = _near(lo - BATCH + 3)  # near copy of the previous batch
        texts += batch
    return list(enumerate(texts))


def _config(tmp, compact_every=64, retention_days=None):
    rollup = {"path": f"{tmp}/rollup", "time_col": "ts", "window": "1 hour"}
    if retention_days is not None:
        rollup["retention_days"] = retention_days
    return {
        "source": {
            "path": f"{tmp}/src",
            "select_limit": BATCH,
            "dedup_compact_every": compact_every,
            "tables": [{"table": "documents", "update_column": "doc_id"}],
            "quality_filter": {"text_col": "text", "min_tokens": 8, "min_ttr": 0.2},
            "exact_dedup": {"path": f"{tmp}/exact", "text_col": "text", "id_col": "doc_id"},
            "near_dedup": {"path": f"{tmp}/near", "text_col": "text", "id_col": "doc_id"},
            "rollup": rollup,
        },
        "sink": {"path": f"{tmp}/out", "tables": [{"table": "clean_docs"}]},
    }


def _write_source(spark, tmp, n_batches):
    rows = [(i, t, T0 + datetime.timedelta(minutes=i)) for i, t in _corpus(n_batches)]
    spark.createDataFrame(rows, "doc_id LONG, text STRING, ts TIMESTAMP").coalesce(
        1
    ).write.parquet(f"{tmp}/src/documents.parquet")


def _drain(spark, cfg, ckpt):
    """Run the stream until the source is drained; re-raises a batch failure."""
    (q,) = Pipeline(spark, cfg).run_streaming(ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)


def _sink_ids(spark, tmp) -> list[int]:
    return [r[0] for r in spark.read.parquet(f"{tmp}/out/clean_docs").select("doc_id").collect()]


def _rollup_total(spark, tmp) -> int:
    store = RollupStore(spark, f"{tmp}/rollup/documents", "ts", window="1 hour")
    return store.snapshot().agg(F.sum("rc")).first()[0]


def _spy(monkeypatch, events, owner, name):
    orig = getattr(owner, name)

    def spy(*args, **kwargs):
        events.append(f"{owner.__name__}.{name}")
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, name, spy)


BATCH_ORDER = [
    "MinHashDedupStore.sign",  # the feature pass signs before any probe
    "QualityStage.probe",
    "ExactDedupStore.probe_new",
    "MinHashDedupStore.probe_dups",
    "SQLOutput.write_batch",
    "RollupStore.absorb",
    "ExactDedupStore.absorb",
    "MinHashDedupStore.absorb",
]
COMPACTIONS = {
    "ExactDedupStore.compact",
    "MinHashDedupStore.compact",
    "RollupStore.compact",
    "RollupStore.expire",
}


@pytest.mark.parametrize("compact_every", [2, 0])
def test_run_streaming_stage_order_and_compaction_cadence(
    spark, tmp_path, monkeypatch, compact_every
):
    """Per micro-batch every probe runs before the sink write and every
    absorb after it, the rollup first; with ``dedup_compact_every: 2``
    each store compacts, and the rollup expires, once after batch 2."""
    events: list[str] = []
    _spy(monkeypatch, events, QualityStage, "probe")
    for owner, names in (
        (ExactDedupStore, ("probe_new", "absorb", "compact")),
        (MinHashDedupStore, ("sign", "probe_dups", "absorb", "compact")),
        (RollupStore, ("absorb", "compact", "expire")),
        (SQLOutput, ("write_batch",)),
    ):
        for name in names:
            _spy(monkeypatch, events, owner, name)
    _write_source(spark, tmp_path, 2)
    _drain(spark, _config(tmp_path, compact_every, retention_days=30000), f"{tmp_path}/ckpt")

    n = len(BATCH_ORDER)
    assert events[:n] == BATCH_ORDER
    assert events[n : 2 * n] == BATCH_ORDER
    tail = events[2 * n :]
    if compact_every:
        assert sorted(tail) == sorted(COMPACTIONS)
    else:
        assert tail == []
    # junk, the exact copy and the near copy never reach the sink
    assert sorted(_sink_ids(spark, tmp_path)) == [0, 1, 2, 3, 4, 6, 9, 10]


# Spark jobs of one micro-batch of the chain above once its stores hold
# data: the feature pin, the exact probe's collect and the collect of
# its survivors (the store scan broadcast, then the ids), the MinHash
# probe's three collects, the survivors pin, the sink (route collect,
# write), the rollup (3) and one append per state table (3)
MICRO_BATCH_JOBS = 16


def test_micro_batch_spark_jobs_and_sink_columns(spark, tmp_path, monkeypatch):
    """A micro-batch of quality → exact → MinHash → rollup → parquet sink
    over non-empty stores runs ``MICRO_BATCH_JOBS`` Spark jobs, give or
    take the one job of adaptive execution, and the sink and the rollup
    get exactly the batch's input columns: no feature column leaks."""
    from fluent_plugin_sql_spark.streaming import stages

    jobs: list[int] = []
    real_run = stages.run_stages

    def run_stages(filters, followers, df, sink, batch_key):
        schemas = []

        def checked_sink(out):
            schemas.append(out.schema)
            sink(out)

        with spark_jobs(spark) as c:
            real_run(filters, followers, df, checked_sink, batch_key)
        jobs.append(c.jobs)
        assert schemas == [df.schema]

    rolled = []
    real_absorb = RollupStore.absorb

    def absorb(self, df, key):
        rolled.append(df.columns)
        return real_absorb(self, df, key)

    monkeypatch.setattr(stages, "run_stages", run_stages)
    monkeypatch.setattr(RollupStore, "absorb", absorb)
    _write_source(spark, tmp_path, 3)
    _drain(spark, _config(tmp_path), f"{tmp_path}/ckpt")

    assert len(jobs) == 3
    assert all(MICRO_BATCH_JOBS - 1 <= n <= MICRO_BATCH_JOBS + 1 for n in jobs[1:]), jobs
    assert rolled == [["doc_id", "text", "ts"]] * 3
    assert sorted(_sink_ids(spark, tmp_path)) == [0, 1, 2, 3, 4, 6, 9, 10, 12, 15, 16]


def test_near_dedup_stream_signs_probes_sinks_then_absorbs(spark, tmp_path, monkeypatch):
    from fluent_plugin_sql_spark.sources.stream_source import incremental_stream
    from fluent_plugin_sql_spark.streaming.stream import near_dedup_stream

    events: list[str] = []
    for name in ("sign", "probe_dups", "absorb"):
        _spy(monkeypatch, events, MinHashDedupStore, name)
    _write_source(spark, tmp_path, 1)
    store = MinHashDedupStore(spark, f"{tmp_path}/near")
    got = []

    def sink(df, epoch_id):
        events.append("sink")
        got.extend(r[0] for r in df.select("doc_id").collect())

    df = incremental_stream(spark, f"{tmp_path}/src/documents.parquet", "doc_id", BATCH)
    q = near_dedup_stream(df, store, "text", "doc_id", sink, f"{tmp_path}/ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert events == [
        "MinHashDedupStore.sign", "MinHashDedupStore.probe_dups", "sink",
        "MinHashDedupStore.absorb",
    ]
    assert sorted(got) == list(range(BATCH))


FAULTS = {
    # the sink committed, then the handler died before any absorb
    "sink": (SQLOutput, "write_batch", True),
    # the sink committed, the rollup absorb failed
    "rollup_absorb": (RollupStore, "absorb", False),
    # sink, rollup and exact store absorbed; the MinHash absorb failed
    "minhash_absorb": (MinHashDedupStore, "absorb", False),
}
N_BATCHES = 3


@pytest.fixture(scope="module")
def uninjected(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("uninjected")
    _write_source(spark, tmp, N_BATCHES)
    cfg = _config(tmp)
    _drain(spark, cfg, f"{tmp}/ckpt")
    ids = _sink_ids(spark, tmp)
    assert len(ids) == len(set(ids)) == _rollup_total(spark, tmp)
    return set(ids)


@pytest.mark.parametrize("fault", sorted(FAULTS))
def test_run_streaming_replay_after_fault(spark, tmp_path, monkeypatch, uninjected, fault):
    """One injected failure on micro-batch 2, then a restart from the
    same checkpoint: no row the uninjected run kept is lost, at most one
    batch's rows are written twice, the rollup counts every distinct sink
    id exactly once, and replaying the last epoch again adds nothing."""
    owner, name, after = FAULTS[fault]
    orig = getattr(owner, name)
    calls = [0]

    def fail_on_second_call(*args, **kwargs):
        calls[0] += 1
        if calls[0] != 2:
            return orig(*args, **kwargs)
        if after:
            orig(*args, **kwargs)
        raise RuntimeError(f"injected {fault} failure")

    monkeypatch.setattr(owner, name, fail_on_second_call)
    _write_source(spark, tmp_path, N_BATCHES)
    cfg, ckpt = _config(tmp_path), f"{tmp_path}/ckpt"
    with pytest.raises(StreamingQueryException, match=f"injected {fault} failure"):
        _drain(spark, cfg, ckpt)
    _drain(spark, cfg, ckpt)  # restart: batch 2 replays, batch 3 runs

    ids = _sink_ids(spark, tmp_path)
    assert uninjected <= set(ids)
    twice = {i for i in set(ids) if ids.count(i) > 1}
    assert len({i // BATCH for i in twice}) <= 1
    assert all(ids.count(i) <= 2 for i in twice)
    assert _rollup_total(spark, tmp_path) == len(set(ids))

    # replay the last epoch once more: every store already holds it
    commits = f"{ckpt}/documents/commits"
    last = max(int(c) for c in os.listdir(commits) if c.isdigit())
    for f in (f"{last}", f".{last}.crc"):
        if os.path.exists(f"{commits}/{f}"):
            os.remove(f"{commits}/{f}")
    _drain(spark, cfg, ckpt)
    assert sorted(_sink_ids(spark, tmp_path)) == sorted(ids)
    assert _rollup_total(spark, tmp_path) == len(set(ids))
