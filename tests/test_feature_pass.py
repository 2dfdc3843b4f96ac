"""The streaming feature pass and the store code it reads: MinHash
signatures as feature columns (bit-identical to ``minhash_signatures``
on the dirty documents), the MinHash store's driver-side matching of a
small batch against its Spark plan and its fallback to that plan past
the stored-row cap, the py4j round trips of one probe,
and the candidate count of ``minhash_lsh_dup_pairs`` taken from its pin
(no count job)."""

from __future__ import annotations

import threading

import pytest
from conftest import SF_DIR_001, spark_jobs
from py4j.clientserver import ClientServerConnection

from fluent_plugin_sql_spark.io import load_table
from fluent_plugin_sql_spark.operators import dedup
from fluent_plugin_sql_spark.operators.dedup import (
    ExactDedupStore,
    MinHashDedupStore,
    minhash_lsh_dup_pairs,
    minhash_signatures,
    with_minhash_signature,
)
from fluent_plugin_sql_spark.streaming.stages import (
    ExactStage,
    MinHashStage,
    QualityStage,
    Stage,
    run_stages,
)

H = [f"h{i}" for i in range(24)]
BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep green forest to hide from every hunter"
)


@pytest.fixture(scope="module")
def dirty_docs(spark):
    """30 documents of the test corpus plus the dirty texts: NULL, empty,
    one long non-ASCII token run and whitespace only."""
    base = load_table(spark, SF_DIR_001, "documents").limit(30).select("doc_id", "text")
    dirty = spark.createDataFrame(
        [
            (-1, None),
            (-2, ""),
            (-3, "\N{UNICORN FACE} " + "x" * 2000),
            (-4, "\t\n  \r "),
        ],
        "doc_id LONG, text STRING",
    )
    return base.unionByName(dirty).localCheckpoint(eager=True)


def test_feature_signatures_equal_minhash_signatures(spark, dirty_docs):
    """``sign(keep_columns=True)`` keeps every input column and signs
    each row exactly as ``minhash_signatures`` does."""
    store = MinHashDedupStore(spark, "unused-path-never-written")
    features = store.sign(dirty_docs, "text", "doc_id", keep_columns=True)
    assert features.columns == ["doc_id", "text", *H]
    got = {r[0]: tuple(r[1:]) for r in features.select("doc_id", *H).collect()}
    want = {
        r[0]: tuple(r[1:])
        for r in minhash_signatures(dirty_docs, "text", "doc_id", 24, 3).collect()
    }
    assert len(got) == 34 and got == want
    # the store's own sign is the same map
    signed = {r[0]: tuple(r[1:]) for r in store.sign(dirty_docs, "text", "doc_id").collect()}
    assert signed == want


def test_with_minhash_signature_keeps_columns_named_like_staging(spark):
    """Input columns named like the staging columns ride through."""
    df = spark.createDataFrame([(1, BASE, 7, "x")], "doc_id LONG, text STRING, r0 INT, shs STRING")
    out = with_minhash_signature(df, "text", 24, 3)
    assert out.columns == ["doc_id", "text", "r0", "shs", *H]
    row = out.first()
    assert (row["r0"], row["shs"]) == (7, "x")


def _store_with_history(spark, path):
    store = MinHashDedupStore(spark, path, sig_match_frac=0.5)
    first = spark.createDataFrame(
        [(1, BASE), (2, BASE.replace("fox", "cat")), (3, "unrelated words " * 6)],
        "doc_id LONG, text STRING",
    )
    store.process_batch(first, "text", "doc_id")
    return store


def _batch(spark):
    words = BASE.split()
    rows = [(10, BASE.replace("green", "dark"))]  # near copy of the store's doc 1
    for i in range(11, 16):  # a bucket of five near copies of each other
        w = list(words)
        w[-1] = f"hunter{i % 2}"
        rows.append((i, " ".join(w).replace("quick", "slow")))
    rows.append((20, "a novel note about tide tables and harbour cranes " * 2))
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


@pytest.mark.parametrize("star_bucket", [1024, 2])
def test_small_batch_matching_equals_the_spark_plan(spark, tmp_path, monkeypatch, star_bucket):
    """The driver-side match of a small batch finds exactly the dups of
    the Spark plan, with all-pairs and with star-paired buckets."""
    store = _store_with_history(spark, str(tmp_path / "near"))
    monkeypatch.setattr(MinHashDedupStore, "_STAR_BUCKET", star_bucket)
    sig = store.sign(_batch(spark), "text", "doc_id").localCheckpoint(eager=True)
    small = {r[0] for r in store._dup_ids(sig).collect()}
    assert store._dup_ids_small(sig) is not None
    monkeypatch.setattr(dedup, "_MAX_PUSHED_KEYS", 0)  # forces the Spark plan
    assert store._dup_ids_small(sig) is None
    spark_plan = {r[0] for r in store._dup_ids(sig).collect()}
    assert small == spark_plan
    assert 10 in small and 20 not in small
    assert len(small & {11, 12, 13, 14, 15}) >= 3


def test_small_batch_matching_caps_the_store_rows_it_collects(spark, tmp_path, monkeypatch):
    """Past ``_MAX_PUSHED_KEYS`` stored band-key rows colliding with the
    batch (templated text), the driver-side match gives up and the Spark
    plan finds the same dups."""
    store = MinHashDedupStore(spark, str(tmp_path / "near"), sig_match_frac=0.5)
    copies = spark.createDataFrame([(i, BASE) for i in range(1, 13)], "doc_id LONG, text STRING")
    store.absorb(copies, "text", "doc_id")  # 12 copies share every band key
    batch = _batch(spark).unionByName(
        spark.createDataFrame([(30, BASE)], "doc_id LONG, text STRING")
    ).where("doc_id IN (10, 20, 30)")
    sig = store.sign(batch, "text", "doc_id").localCheckpoint(eager=True)
    want = {r[0] for r in store._dup_ids(sig).collect()}
    assert store._dup_ids_small(sig) is not None and want == {10, 30}
    # the batch's 18 band keys fit; the 72+ stored rows they hit do not
    monkeypatch.setattr(dedup, "_MAX_PUSHED_KEYS", 20)
    assert store._dup_ids_small(sig) is None
    assert {r[0] for r in store._dup_ids(sig).collect()} == want


def test_probe_dups_py4j_round_trips_are_bounded(spark, tmp_path):
    """One ``probe_dups`` over a pinned feature frame builds its plans as
    SQL text (161 round trips when written): a Column tree per signature
    slot cost ~3,000 per micro-batch.  Counted on this thread only (py4j's garbage
    collection of JVM handles runs on its own thread)."""
    store = _store_with_history(spark, str(tmp_path / "near"))
    features = store.sign(_batch(spark), "text", "doc_id", keep_columns=True).localCheckpoint(
        eager=True
    )
    me = threading.get_ident()
    calls = [0]
    real = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return real(self, command)

    ClientServerConnection.send_command = counting
    try:
        dups = {r[0] for r in store.probe_dups(features, "text", "doc_id", features=True).collect()}
    finally:
        ClientServerConnection.send_command = real
    assert 10 in dups
    assert calls[0] <= 250, calls[0]


def test_lsh_dup_pairs_counts_candidates_in_the_pin(spark):
    """``minhash_lsh_dup_pairs`` takes the candidate count for its
    broadcast guard from the candidates pin's own job: building the
    pairs runs the two pins and no count job, and the output stays the
    same with the guard's broadcast hints dropped."""
    rows = [(i, f"{BASE} tail{i % 3}") for i in range(6)] + [
        (100 + i, " ".join(f"solo{i}w{j}" for j in range(15))) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").localCheckpoint(eager=True)
    with spark_jobs(spark) as built:
        pairs = minhash_lsh_dup_pairs(df, "text", "doc_id", threshold=0.7)
    got = sorted(tuple(r) for r in pairs.collect())
    # every pair of the six base copies; same-tail copies are exact
    assert got == [
        (a, b, 1.0 if a % 3 == b % 3 else 0.9167) for a in range(6) for b in range(a + 1, 6)
    ]
    # the candidates pin (its band-key and pair shuffles, then the pin)
    # and the verify sets' pin (candidate ids, their broadcast, the
    # distinct, the pin); counting the pinned candidates took two more
    assert built.jobs <= 6, built.jobs
    forced = minhash_lsh_dup_pairs(
        df, "text", "doc_id", threshold=0.7, broadcast_verify_threshold=0
    )
    assert sorted(tuple(r) for r in forced.collect()) == got


def test_input_column_named_like_a_feature_fails_the_batch(spark, tmp_path):
    """A source column named like a feature column would be read as the
    feature, or shadow it: the batch fails with the column's name."""
    stage = ExactStage(ExactDedupStore(spark, str(tmp_path / "exact")), "text", "doc_id")
    df = spark.createDataFrame([(1, BASE, "mine")], "doc_id LONG, text STRING, content_hash STRING")
    with pytest.raises(ValueError, match="content_hash"):
        run_stages([stage], [], df, lambda out: None, 0)


@pytest.mark.parametrize("rows", [[], [(1, "junk")]], ids=["no-rows", "all-junk"])
def test_batch_without_survivors_sinks_empty_and_absorbs_nothing(spark, tmp_path, rows):
    """A batch of no rows, or of none that pass the quality filter: the
    feature pin's own job observes 0 rows, so no probe runs and nothing
    waits on an unfilled observation.  The sink and the followers get
    an empty frame with the input columns, and no store writes a file."""
    followed = []

    class Follower(Stage):
        def absorb(self, pinned, handoff, batch_key):
            followed.append(pinned.columns)

    filters = [
        QualityStage({"text_col": "text", "min_tokens": 8}),
        ExactStage(ExactDedupStore(spark, str(tmp_path / "exact")), "text", "doc_id"),
        MinHashStage(MinHashDedupStore(spark, str(tmp_path / "near")), "text", "doc_id"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sunk = []
    with spark_jobs(spark) as c:
        run_stages(filters, [Follower()], df, sunk.append, 0)
    assert c.jobs <= 1, c.jobs  # the feature pin
    assert [s.schema for s in sunk] == [df.schema] and sunk[0].count() == 0
    assert followed == [["doc_id", "text"]]
    assert list(tmp_path.rglob("*.parquet")) == []
