"""The dedup stores' shared bucketed-table probe (``_KeyTable.scan``):
its partition-only fallback above ``_MAX_PUSHED_KEYS`` and its one
driver collect per pruned scan, pinned for the Exact, MinHash and
SimHash stores over the same store contents and probe batch."""

from __future__ import annotations

import re

import pytest

from fluent_plugin_sql_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep green forest to hide from every hunter"
)
OTHER = (
    "completely different content about spark shuffles partitions "
    "and broadcast joins at terabyte scale with adaptive execution"
)
THIRD = (
    "yet another unrelated document mentioning watermarks streaming "
    "state stores checkpoints and exactly once sinks for pipelines"
)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("key_table")
    first = spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id LONG, text STRING")
    built = {
        "exact": dedup.ExactDedupStore(spark, str(root / "exact")),
        "minhash": dedup.MinHashDedupStore(spark, str(root / "minhash")),
        "simhash": dedup.SimHashDedupStore(spark, str(root / "simhash")),
    }
    for store in built.values():
        store.process_batch(first, "text", "doc_id")
    batch = spark.createDataFrame(
        [(3, BASE), (4, BASE.replace("green", "dark")), (5, THIRD), (6, THIRD)],
        "doc_id LONG, text STRING",
    )
    return built, batch


def _probe(kind, store, batch, sig=None):
    """The store's probe call; ``sig`` is the MinHash ``sign`` handoff."""
    if kind == "exact":
        return store.probe_new(batch, "text", "doc_id")
    if kind == "minhash":
        return store.probe_dups(batch, "text", "doc_id", sig=sig)
    return store.probe_dups(batch, "text", "doc_id")


def _dup_ids(kind, store, batch):
    got = _probe(kind, store, batch)
    if kind == "exact":  # probe_new returns the survivors
        return {3, 4, 5, 6} - {r["doc_id"] for r in got.collect()}
    return {r["dup"] for r in got.collect()}


def _scan_plans(kind, store, batch):
    """(executed plan, partition column, key column) per pruned scan."""
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    if kind == "exact":
        return [(plan(store.probe_new(batch, "text", "doc_id")), "bkt", "content_hash")]
    if kind == "minhash":
        sig = store.sign(batch, "text", "doc_id")
        bk = dedup._band_key_rows(sig, store.num_hashes, store.bands)
        return [
            (plan(store._pruned_band_key_scan(bk)), "bkt", "bkh"),
            (plan(store._cross_batch_dups(bk, sig)), "sbkt", "doc"),
        ]
    sk = store._sketch(batch, "text", "doc_id").localCheckpoint(eager=True)
    return [(plan(store._pruned_block_scan(store._block_rows(sk))), "bkt", "bvh")]


def _pushes_key(plan, key):
    # scan nodes print on one line; long filter lists are cut with "..."
    return re.search(rf"PushedFilters: \[[^\n]*\b(In|EqualTo)\({key},", plan)


def _prunes_buckets(plan, part):
    return re.search(
        rf"PartitionFilters: \[[^\]\n]*\b{part}#\d+ (IN \(|INSET |= )", plan
    )


@pytest.mark.parametrize("kind", ["exact", "minhash", "simhash"])
def test_partition_only_fallback_finds_the_same_dups(stores, kind, monkeypatch):
    built, batch = stores
    store = built[kind]
    expected = _dup_ids(kind, store, batch)
    assert 3 in expected  # a cross-batch dup, so the store scan matters
    for plan, part, key in _scan_plans(kind, store, batch):
        assert _prunes_buckets(plan, part) and _pushes_key(plan, key), plan

    monkeypatch.setattr(dedup, "_MAX_PUSHED_KEYS", 0)
    assert _dup_ids(kind, store, batch) == expected
    for plan, part, key in _scan_plans(kind, store, batch):
        assert _prunes_buckets(plan, part), plan
        assert not _pushes_key(plan, key), plan


@pytest.mark.parametrize("kind, collects", [("exact", 1), ("minhash", 2), ("simhash", 1)])
def test_one_collect_per_pruned_scan(spark, stores, kind, collects, monkeypatch):
    built, batch = stores
    store = built[kind]
    sig = store.sign(batch, "text", "doc_id") if kind == "minhash" else None
    frame_cls = type(batch)  # the session's concrete DataFrame class
    calls = []
    real_collect = frame_cls.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(frame_cls, "collect", counting_collect)
    _probe(kind, store, batch, sig)
    assert len(calls) == collects
