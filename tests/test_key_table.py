"""The dedup stores' shared state-table format (``_KeyTable``): its
bucket-only fallback above ``_MAX_PUSHED_KEYS``, its one driver collect
per pruned scan, one appended file per table per absorb (none for no
rows), the pages a probe of many buckets reads, and the layout-1
(directory-bucketed) stores it still reads and rewrites once, pinned
for the Exact, MinHash and SimHash stores over the same store contents
and probe batch."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
from conftest import full_plan, scan_rows

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
NOVEL = (
    "an unrelated note on tide tables harbour cranes and container "
    "ships unloading grain before the autumn storms reach the coast"
)
STORES = {
    "exact": dedup.ExactDedupStore,
    "minhash": dedup.MinHashDedupStore,
    "simhash": dedup.SimHashDedupStore,
}
# a layout-1 table's bucket directory column, per table
V1_PARTS = {"band_keys": "bkt", "signatures": "sbkt", "hashes": "bkt", "blocks": "bkt"}


def write_v1_copy(spark, src: str, dst: str) -> None:
    """A layout-1 copy of the store at ``src``: every state table
    rewritten with ``partitionBy`` into ``{part}=<id>`` directories, and
    ``_meta.json`` without a ``layout`` key."""
    for sub, part in V1_PARTS.items():
        if os.path.isdir(f"{src}/{sub}"):
            spark.read.parquet(f"{src}/{sub}").write.partitionBy(part).parquet(f"{dst}/{sub}")
    with open(f"{src}/_meta.json") as f:
        meta = json.load(f)
    del meta["layout"]
    with open(f"{dst}/_meta.json", "w") as f:
        json.dump(meta, f)


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


def _data_files(path: str, sub: str) -> int:
    return len(glob.glob(f"{path}/{sub}/**/*.parquet", recursive=True))


def _scan_plans(kind, store, batch):
    """(executed plan, partition column, key column) per pruned scan."""
    plan = full_plan
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
    """Each run of touched buckets pushes as ``EqualTo`` or as an
    ``And(GreaterThanOrEqual, LessThanOrEqual)`` range (``_in_runs``)."""
    return re.search(
        rf"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\({part},", plan
    )


def _prunes_bucket_dirs(plan, part):
    """The layout-1 form: the bucket is a directory partition filter."""
    return re.search(
        rf"PartitionFilters: \[[^\]\n]*\b{part}#\d+ (IN \(|INSET |= |>= )", plan
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


@pytest.mark.parametrize("kind", ["exact", "minhash", "simhash"])
def test_v1_store_probes_unchanged_and_first_absorb_rewrites_it(
    spark, stores, kind, tmp_path
):
    built, batch = stores
    expected = _dup_ids(kind, built[kind], batch)
    path = str(tmp_path / kind)
    write_v1_copy(spark, built[kind].path, path)

    store = STORES[kind](spark, path)
    assert store.layout == 1
    assert _dup_ids(kind, store, batch) == expected
    for plan, part, key in _scan_plans(kind, store, batch):
        assert _prunes_bucket_dirs(plan, part) and _pushes_key(plan, key), plan

    store.absorb(
        spark.createDataFrame([(100, NOVEL)], "doc_id LONG, text STRING"), "text", "doc_id"
    )
    assert not [d for _, dirs, _ in os.walk(path) for d in dirs if "=" in d]
    with open(f"{path}/_meta.json") as f:
        assert json.load(f)["layout"] == 2
    reopened = STORES[kind](spark, path)
    assert reopened.layout == 2
    assert _dup_ids(kind, reopened, batch) == expected
    for plan, part, key in _scan_plans(kind, reopened, batch):
        assert _prunes_buckets(plan, part) and _pushes_key(plan, key), plan


@pytest.mark.parametrize("kind", ["exact", "minhash", "simhash"])
def test_absorb_appends_one_file_per_table(spark, kind, tmp_path):
    path = str(tmp_path / kind)
    store = STORES[kind](spark, path)
    store.process_batch(
        spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id LONG, text STRING"),
        "text", "doc_id",
    )
    subs = [t.sub for t in store._tables]
    before = {sub: _data_files(path, sub) for sub in subs}
    store.absorb(
        spark.createDataFrame(
            [(3, THIRD), (4, NOVEL), (5, BASE.replace("fox", "cat"))],
            "doc_id LONG, text STRING",
        ),
        "text", "doc_id",
    )
    assert {sub: _data_files(path, sub) - before[sub] for sub in subs} == dict.fromkeys(subs, 1)


@pytest.mark.parametrize("kind", ["exact", "minhash", "simhash"])
def test_empty_absorb_adds_no_file(spark, kind, tmp_path):
    path = str(tmp_path / kind)
    store = STORES[kind](spark, path)
    store.process_batch(
        spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id LONG, text STRING"),
        "text", "doc_id",
    )
    subs = [t.sub for t in store._tables]
    before = {sub: _data_files(path, sub) for sub in subs}
    store.absorb(spark.createDataFrame([], "doc_id LONG, text STRING"), "text", "doc_id")
    # a batch of nothing but dups: process_batch absorbs no survivor
    store.process_batch(
        spark.createDataFrame([(3, BASE), (4, OTHER)], "doc_id LONG, text STRING"),
        "text", "doc_id",
    )
    assert {sub: _data_files(path, sub) for sub in subs} == before


def test_probe_of_many_buckets_reads_only_their_pages(spark, tmp_path):
    """Past ``spark.sql.parquet.pushdown.inFilterThreshold`` (10 values)
    Spark hands an ``isin`` to parquet as one min-max range, so an
    ``isin`` of buckets 0 and 60 would keep every page between them.
    A probe of 13 scattered buckets must still read only about their
    share of a compacted table, at page granularity."""
    n, rows, page = 64, 128_000, dedup._COMPACT_PAGE_ROWS
    table = dedup._KeyTable(
        dedup._StoreFS(spark, str(tmp_path)), "t", "bkt", "k", n, hash_key=False
    )
    table.append(spark.range(rows).withColumnRenamed("id", "k"))
    table.compact()  # a bucket of 2,000 rows spans 2-3 pages
    touched = list(range(0, n, 5))
    # the first and last key of each bucket: one key list over all
    # buckets would span the whole table as a min-max range
    keys = [k for b in touched for k in (b, rows - n + b)]
    scan = table.scan(spark.createDataFrame([(k,) for k in keys], "k LONG"))
    assert sorted(r["k"] for r in scan.collect()) == sorted(keys)
    read = scan_rows(scan)
    # each touched bucket: its own rows plus at most a page on each side
    assert read <= len(touched) * (rows // n + 2 * page), (read, rows)
