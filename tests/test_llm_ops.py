"""LLM-pipeline operator semantics: dedup families, similarity search,
text functions — including the properties the oracle can't check
(LSH recall, planted-duplicate detection)."""

from __future__ import annotations

import pytest
from conftest import full_plan, scan_rows
from pyspark.sql import functions as F

from fluent_plugin_sql_spark.io import load_table
from fluent_plugin_sql_spark.operators.dedup import (
    exact_dedup,
    jaccard_dup_pairs,
    minhash_lsh_dup_pairs,
    simhash_dup_pairs,
)
from fluent_plugin_sql_spark.operators.similarity import brute_force_topk, lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """Planted duplicates: exact copy and near copy of doc 0."""
    base = load_table(spark, SF, "documents").limit(50)
    first = base.where(F.col("doc_id") == 0).select("doc_id", "text").first()
    extra = spark.createDataFrame(
        [
            (9001, first["text"]),  # exact dup
            (9002, first["text"] + " tail token"),  # near dup
            (9003, "completely different content here entirely"),
        ],
        ["doc_id", "text"],
    )
    return base.select("doc_id", "text").unionByName(extra)


def test_exact_dedup_groups_identical_texts(spark, docs_with_dups):
    out = exact_dedup(docs_with_dups, "text", "doc_id")
    dup_group = out.where(F.col("n_copies") > 1).collect()
    assert len(dup_group) == 1
    assert dup_group[0]["keep_id"] == 0 and dup_group[0]["n_copies"] == 2


def test_jaccard_finds_planted_near_dup(spark, docs_with_dups):
    pairs = jaccard_dup_pairs(docs_with_dups, "text", "doc_id", threshold=0.8).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 9001) in got  # exact dup: jaccard 1.0
    assert (0, 9002) in got  # near dup
    assert all(9003 not in p for p in got)


def test_minhash_lsh_matches_exact_jaccard(spark, docs_with_dups):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_dup_pairs(docs_with_dups, "text", "doc_id", 0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dup_pairs(docs_with_dups, "text", "doc_id", 0.8).collect()
    }
    # verification makes precision exact; banding at J>=0.8 has ~1 recall
    assert lsh == exact and len(lsh) >= 2


def test_simhash_pairs_have_small_hamming(spark, docs_with_dups):
    pairs = simhash_dup_pairs(docs_with_dups, "text", "doc_id", max_hamming=6).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert got[(0, 9001)] == 0  # identical text -> identical sketch
    assert (0, 9002) in got  # near dup within hamming 6


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = lsh_topk(emb, queries, k=5, num_planes=4).collect()
    exact_set = {(r["query_id"], r["match_id"]) for r in exact}
    approx_set = {(r["query_id"], r["match_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 hyperplanes -> 16 buckets over 500 vectors; recall is partial by
    # design but must be well above random (5/499 ~ 1%)
    assert recall > 0.2, f"recall {recall}"
    # every returned neighbor must come from the query's own bucket and
    # carry a real cosine score
    assert all(r["cos"] is not None for r in approx)


def test_bruteforce_topk_is_sorted_and_excludes_self(spark):
    emb = load_table(spark, SF, "embeddings")
    out = brute_force_topk(emb, emb.where(F.col("vec_id") == 3), k=5).collect()
    assert len(out) == 5
    assert all(r["match_id"] != 3 for r in out)
    scores = [r["cos"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_ivf_topk_recall_vs_bruteforce(spark):
    from fluent_plugin_sql_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["match_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx_rows = ivf_topk(emb, queries, k=5, num_centroids=16, nprobe=3).collect()
    approx = {(r["query_id"], r["match_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # nprobe=3 of 16 centroids scans ~19% of the corpus; recall must be
    # far above that random floor
    assert recall > 0.3, f"recall {recall}"
    # results are deterministic across runs (stable centroid pick)
    again = {(r["query_id"], r["match_id"]) for r in ivf_topk(emb, queries, k=5, num_centroids=16, nprobe=3).collect()}
    assert approx == again


def test_dup_clusters_connected_components(spark):
    """Min-label propagation must find full components, not just direct
    neighbors: a 4-chain (1-2, 2-3, 3-4) all labels to 1; disjoint pair
    keeps its own min; triangle converges in one round."""
    from fluent_plugin_sql_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_ivf_index_persistence_matches_inline(spark, tmp_path):
    """A persisted IVF index must return the same results as the inline
    build (same deterministic centroids), and the probe scan must prune
    to the probed bucket partitions."""
    from fluent_plugin_sql_spark.io import load_table
    from fluent_plugin_sql_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    inline = {
        (r["query_id"], r["rank"]): r["match_id"]
        for r in ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=2).collect()
    }
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, num_centroids=8)
    from_index = ivf_topk_from_index(spark, idx, queries, k=5, nprobe=2)
    got = {
        (r["query_id"], r["rank"]): r["match_id"] for r in from_index.collect()
    }
    assert got == inline
    # partition pruning: the postings scan carries a bucket filter
    plan = from_index._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_minhash_short_docs_densification_collides(spark):
    """OPH densification edge: documents far shorter than the slot count
    (most buckets empty) must still produce defined signatures, and
    identical short docs must collide in every band (content-derived
    fills are equal for equal shingle sets)."""
    from fluent_plugin_sql_spark.operators.dedup import (
        minhash_lsh_dup_pairs,
        minhash_signatures,
    )

    rows = [
        (1, "alpha beta gamma delta"),        # 2 shingles << 24 slots
        (2, "alpha beta gamma delta"),        # identical → must pair
        (3, "omega psi chi phi upsilon tau"),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df, "text", "doc_id", num_hashes=24, k=3).collect()
    assert len(sig) == 3
    for r in sig:
        assert all(r[f"h{i}"] is not None for i in range(24))  # densified
    by_doc = {r["doc"]: tuple(r[f"h{i}"] for i in range(24)) for r in sig}
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]

    pairs = minhash_lsh_dup_pairs(df, "text", "doc_id", threshold=0.8).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]


def test_minhash_dedup_store_incremental(spark, tmp_path):
    """Continuous-ingestion near-dedup: batch 2's near-copy of a batch-1
    doc is dropped via the PERSISTED signature store (no access to batch
    1's text), within-batch near-dups keep the lowest id, and a fresh
    store instance on the same path keeps filtering (state durability)."""
    from fluent_plugin_sql_spark.operators.dedup import MinHashDedupStore

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter"
    )
    variant = base.replace("green", "dark")  # near-dup of base
    other = (
        "completely different content about spark shuffles partitions "
        "and broadcast joins at terabyte scale with adaptive execution"
    )
    third = (
        "yet another unrelated document mentioning watermarks streaming "
        "state stores checkpoints and exactly once sinks for pipelines"
    )

    path = str(tmp_path / "dedup_store")
    store = MinHashDedupStore(spark, path, sig_match_frac=0.5)

    b1 = spark.createDataFrame([(1, base), (2, other)], "doc_id LONG, text STRING")
    s1 = store.process_batch(b1, "text", "doc_id")
    assert {r["doc_id"] for r in s1.collect()} == {1, 2}

    # batch 2: near-copy of doc 1 (cross-batch dup), a new doc, and an
    # exact within-batch duplicate pair (10, 11) -> keep 10
    b2 = spark.createDataFrame(
        [(10, third), (11, third), (12, variant)],
        "doc_id LONG, text STRING",
    )
    s2 = store.process_batch(b2, "text", "doc_id")
    assert {r["doc_id"] for r in s2.collect()} == {10}

    # durability: a NEW instance on the same path still knows everything
    store2 = MinHashDedupStore(spark, path, sig_match_frac=0.5)
    b3 = spark.createDataFrame(
        [(20, base), (21, third), (22, "totally novel text about nothing seen before with many fresh words")],
        "doc_id LONG, text STRING",
    )
    s3 = store2.process_batch(b3, "text", "doc_id")
    assert {r["doc_id"] for r in s3.collect()} == {22}


def test_dedup_store_probe_never_shuffles_store_side(spark, tmp_path):
    """Scale contract of the incremental store (VERDICT r3/r4 item):
    the per-batch probe must (a) join the store only via BroadcastHashJoin
    (batch side broadcast — the store side streams, no Exchange under it)
    and (b) push the probe's bucket ids as PARTITION filters on both store
    scans so directory pruning skips non-matching buckets."""
    import re

    from fluent_plugin_sql_spark.operators.dedup import (
        MinHashDedupStore,
        _band_key_rows,
        minhash_signatures,
    )

    path = str(tmp_path / "store_plan")
    store = MinHashDedupStore(spark, path, sig_match_frac=0.5)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten eleven")],
        "doc_id LONG, text STRING",
    )
    store.process_batch(b1, "text", "doc_id")

    b2 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (4, "fresh words never stored before anywhere in any batch yet")],
        "doc_id LONG, text STRING",
    )
    sig = minhash_signatures(b2, "text", "doc_id", store.num_hashes, store.k)
    bk = _band_key_rows(sig, store.num_hashes, store.bands)

    # stage 1: band-key collision lookup (the O(store)-risk join)
    cand_plan = (
        full_plan(store._candidate_pairs(bk))
    )
    assert "SortMergeJoin" not in cand_plan
    assert "ShuffledHashJoin" not in cand_plan
    assert "BroadcastHashJoin" in cand_plan
    assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(bkt,", cand_plan), cand_plan

    # stage 2: signature verification against the store
    probe = store._cross_batch_dups(bk, sig)
    assert probe is not None
    plan = full_plan(probe)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(sbkt,", plan), plan

    # and the probe still finds the cross-batch dup
    assert {r["dup"] for r in probe.collect()} == {3}


def test_minhash_signatures_plan_is_shuffle_free(spark):
    """Signing a corpus must be a MAP, not an aggregation: the per-row
    HOF formulation keeps the whole signature inside the scan stage —
    any Exchange here would re-introduce the O(corpus) shuffle the
    row-wise rewrite removed."""
    from fluent_plugin_sql_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y z w v u t s")], "doc_id LONG, text STRING"
    )
    plan = (
        minhash_signatures(df, "text", "doc_id", 24, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_dedup_store_compact_preserves_probes(spark, tmp_path):
    """compact() must shrink the per-bucket file count without changing
    any probe decision (bucket ids are preserved across the rewrite)."""
    import glob

    from fluent_plugin_sql_spark.operators.dedup import MinHashDedupStore

    path = str(tmp_path / "store_c")
    # few buckets on purpose: every append then hits the SAME bucket
    # dirs, accumulating one file per append — the decay compact() fixes
    store = MinHashDedupStore(spark, path, sig_match_frac=0.5, num_buckets=4)
    texts = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "completely different content about spark shuffles and broadcasts",
        "yet another unrelated document mentioning watermarks and state",
    ]
    for i, t in enumerate(texts):
        store.process_batch(
            spark.createDataFrame([(i, t)], "doc_id LONG, text STRING"),
            "text",
            "doc_id",
        )
    before = len(glob.glob(f"{path}/band_keys/**/*.parquet", recursive=True))
    store.compact()
    after = len(glob.glob(f"{path}/band_keys/**/*.parquet", recursive=True))
    assert after < before

    # probe decisions identical post-compact: near-copy of doc 0 dropped,
    # novel doc kept — through a FRESH instance (on-disk state only)
    store2 = MinHashDedupStore(spark, path, sig_match_frac=0.5, num_buckets=4)
    b = spark.createDataFrame(
        [
            (10, texts[0].replace("river", "ocean")),
            (11, "totally novel words never seen in any earlier batch here"),
        ],
        "doc_id LONG, text STRING",
    )
    s = store2.process_batch(b, "text", "doc_id")
    assert {r["doc_id"] for r in s.collect()} == {11}


def test_exact_dedup_store_incremental_and_replay(spark, tmp_path):
    """ExactDedupStore: cross-batch exact dups dropped, within-batch
    keeps lowest id, durable across instances, and a REPLAYED batch
    yields zero survivors (self-healing at-least-once)."""
    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    path = str(tmp_path / "xstore")
    store = ExactDedupStore(spark, path)

    b1 = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id LONG, text STRING"
    )
    s1 = store.process_batch(b1, "text", "doc_id")
    assert {r["doc_id"] for r in s1.collect()} == {1, 2}
    assert s1.columns == ["doc_id", "text"]  # original columns only

    # replay of batch 1: everything already absorbed -> no survivors
    s1r = store.process_batch(b1, "text", "doc_id")
    assert s1r.count() == 0

    # fresh instance on the same path: state is on disk, not in memory
    store2 = ExactDedupStore(spark, path)
    b2 = spark.createDataFrame(
        [(10, "bbb"), (11, "ccc"), (12, "ccc")], "doc_id LONG, text STRING"
    )
    s2 = store2.process_batch(b2, "text", "doc_id")
    assert {r["doc_id"] for r in s2.collect()} == {11}

    # compact preserves decisions
    store2.compact()
    b3 = spark.createDataFrame(
        [(20, "ccc"), (21, "ddd")], "doc_id LONG, text STRING"
    )
    s3 = ExactDedupStore(spark, path).process_batch(b3, "text", "doc_id")
    assert {r["doc_id"] for r in s3.collect()} == {21}


def test_exact_dedup_store_probe_never_shuffles_store_side(spark, tmp_path):
    """Same scale contract as the MinHash store: the content-hash probe
    broadcasts the batch side (store streams through a BroadcastHashJoin)
    and pushes bucket ids as an In filter into the store scan."""
    import re

    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    path = str(tmp_path / "xstore_plan")
    store = ExactDedupStore(spark, path)
    store.process_batch(
        spark.createDataFrame([(1, "aaa"), (2, "bbb")], "doc_id LONG, text STRING"),
        "text",
        "doc_id",
    )
    probe = store.probe_new(
        spark.createDataFrame([(3, "aaa"), (4, "ccc")], "doc_id LONG, text STRING"),
        "text",
        "doc_id",
    )
    plan = full_plan(probe)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(bkt,", plan), plan
    assert {r["doc_id"] for r in probe.collect()} == {4}


def test_lsh_star_pairing_caps_mega_bucket_fanout(spark):
    """A bucket of n near-identical docs must not expand to n^2/2 pairs:
    above star_bucket_threshold each doc pairs only with the bucket min
    (O(n)), every copy is still detected, and strict mode (None) keeps
    exhaustive semantics."""
    from fluent_plugin_sql_spark.operators.dedup import minhash_lsh_dup_pairs

    n = 60
    same = "identical boilerplate page text repeated across many mirrors here"
    rows = [(i, same) for i in range(n)] + [
        (1000, "one entirely different document to keep the corpus honest")
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    starred = minhash_lsh_dup_pairs(
        df, "text", "doc_id", threshold=0.8, star_bucket_threshold=10
    ).collect()
    # star mode: exactly one pair per non-min copy, all anchored at doc 0
    assert len(starred) == n - 1
    assert {r["doc_a"] for r in starred} == {0}
    assert {r["doc_b"] for r in starred} == set(range(1, n))

    exhaustive = minhash_lsh_dup_pairs(
        df, "text", "doc_id", threshold=0.8, star_bucket_threshold=None
    ).count()
    assert exhaustive == n * (n - 1) // 2


def test_embedding_dedup_store_incremental(spark, tmp_path):
    """EmbeddingDedupStore: a later batch's near-parallel vector is
    dropped, novel directions survive, state is durable across
    instances, and replays converge."""
    from fluent_plugin_sql_spark.operators.dedup import EmbeddingDedupStore

    def vec(*xs):
        return [float(x) for x in xs]

    path = str(tmp_path / "estore")
    store = EmbeddingDedupStore(spark, path, threshold=0.95, num_centroids=4, nprobe=2)

    b1 = spark.createDataFrame(
        [(1, vec(1, 0, 0, 0)), (2, vec(0, 1, 0, 0)), (3, vec(0, 0, 1, 0))],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    s1 = store.process_batch(b1, "embedding", "vec_id")
    assert {r["vec_id"] for r in s1.collect()} == {1, 2, 3}

    b2 = spark.createDataFrame(
        [
            (10, vec(0.99, 0.01, 0, 0)),  # near-parallel to 1 -> dropped
            (11, vec(0, 0, 0, 1)),        # novel direction -> kept
            (12, vec(0, 0, 0, 0.98)),     # near-parallel to 11 (same batch) -> dropped
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    s2 = store.process_batch(b2, "embedding", "vec_id")
    assert {r["vec_id"] for r in s2.collect()} == {11}

    # durable + replay-convergent through a fresh instance
    store2 = EmbeddingDedupStore(spark, path, threshold=0.95, num_centroids=4, nprobe=2)
    assert store2.process_batch(b2, "embedding", "vec_id").count() == 0


def test_exact_dedup_store_equals_first_occurrence_reference(spark, tmp_path):
    """Property: for ANY batch sequence, ExactDedupStore survivors ==
    the trivial Python first-occurrence reference (per-text minimum
    (batch, id), processed in order).  Hypothesis drives the batch
    shapes; a single store path accumulates across batches exactly like
    a poll loop."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    texts = st.sampled_from(["aa", "bb", "cc", "dd"])  # force collisions
    batches_strategy = st.lists(
        st.lists(texts, min_size=1, max_size=5), min_size=1, max_size=3
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(batches=batches_strategy)
    def run(batches):
        path = str(tmp_path / f"prop_{abs(hash(str(batches)))}")
        store = ExactDedupStore(spark, path)
        seen: set[str] = set()
        next_id = 0
        for batch in batches:
            rows = [(next_id + i, t) for i, t in enumerate(batch)]
            next_id += len(batch)
            expect = set()
            batch_seen: set[str] = set()
            for i, t in rows:
                if t not in seen and t not in batch_seen:
                    expect.add(i)
                    batch_seen.add(t)
            got = {
                r["doc_id"]
                for r in store.process_batch(
                    spark.createDataFrame(rows, "doc_id LONG, text STRING"),
                    "text",
                    "doc_id",
                ).collect()
            }
            assert got == expect, (batches, rows, got, expect)
            seen |= batch_seen

    run()


def test_embedding_dedup_store_probe_never_shuffles_store_side(spark, tmp_path):
    """Third store, same contract: the vector probe broadcasts the batch
    side and prunes the postings scan to the probed centroid buckets."""
    import re

    from fluent_plugin_sql_spark.operators.dedup import EmbeddingDedupStore

    path = str(tmp_path / "estore_plan")
    store = EmbeddingDedupStore(spark, path, threshold=0.95, num_centroids=4, nprobe=2)
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    store.process_batch(b1, "embedding", "vec_id")
    probe = store.probe_dups(
        spark.createDataFrame(
            [(10, [0.99, 0.01, 0.0]), (11, [0.5, 0.5, 0.7])],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        ),
        "embedding",
        "vec_id",
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("bucket" in p for p in pfs), plan
    assert {r["dup"] for r in probe.collect()} == {10}


# --------------------------------------------------------------------------
# round 6: store hardening — bounded probe I/O, crash recovery, writer lock,
# probe purity, recluster maintenance


def _scan_num_files(df) -> int:
    """Execute ``df`` and sum the ``numFiles`` metric over its file-scan
    nodes — the files actually selected after partition pruning (the
    planning-time inputFiles() does NOT reflect pruning)."""
    df.collect()
    total = {"n": 0}

    def walk(node):
        if "Scan" in node.nodeName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numFiles":
                    total["n"] += int(kv._2().value())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total["n"]


def test_dedup_store_probe_io_bounded_as_store_grows(spark, tmp_path):
    """The probe's store read must be o(store): growing the store by
    more batches must NOT grow the files a (compacted) probe reads, and
    a probe of more than 10 buckets (past Spark's parquet In threshold,
    where an isin pushes as one min-max range) reads only about its
    touched buckets' share of the rows — each run of buckets pushes as
    its own page filter, and each bucket's pushed bkh keys bound the
    rows within it."""
    import re

    from fluent_plugin_sql_spark.operators.dedup import (
        _COMPACT_PAGE_ROWS,
        MinHashDedupStore,
        _band_key_rows,
        minhash_signatures,
    )

    path = str(tmp_path / "store_growth")
    store = MinHashDedupStore(spark, path, sig_match_frac=0.5)

    def grow(start, n):
        # every doc's token set is disjoint from every other's, so each
        # batch genuinely grows the store (no cross-doc near-dups)
        b = spark.range(start, start + n).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(0, 11), "
            "j -> concat('w', id, 'x', j))) AS text",
        )
        store.process_batch(b, "text", "doc_id")

    def band_keys(texts):
        batch = spark.createDataFrame(
            [(10**9 + i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
        )
        sig = minhash_signatures(batch, "text", "doc_id", store.num_hashes, store.k)
        return _band_key_rows(sig, store.num_hashes, store.bands).localCheckpoint()

    bk = band_keys(["totally novel probe words qq ww ee rr tt yy uu ii oo pp"])
    bk_multi = band_keys(
        [f"novel probe number {i} words qq ww ee rr tt yy uu ii" for i in range(4)]
    )
    touched = (
        bk_multi.selectExpr(store._band_keys.bucket_sql(store._BKH)).distinct().count()
    )
    assert touched > 10

    def measure():
        store.compact()
        files = _scan_num_files(store._pruned_band_key_scan(bk))
        total = spark.read.parquet(f"{path}/band_keys").count()
        read = scan_rows(store._pruned_band_key_scan(bk_multi))
        # each touched bucket: its own rows plus at most a page each side
        page = _COMPACT_PAGE_ROWS
        assert read <= touched * (total // store.num_buckets + 2 * page), (
            read, touched, total,
        )
        return files, total, read

    grow(0, 2_000)
    files_small, total_small, read_small = measure()
    grow(2_000, 8_000)
    files_large, total_large, read_large = measure()

    # the store grew (more band-key rows) but the probe's file count did
    # not grow beyond its own touched-bucket bound
    assert total_large > total_small
    assert files_large <= max(files_small, 6)  # ≤ bands buckets for 1 doc
    # the many-bucket probe read a touched-bucket share, not the store
    assert read_large < total_large / 2, (read_large, total_large)
    # and both pruning levels are visible in the plan
    plan = full_plan(store._pruned_band_key_scan(bk))
    assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(bkt,", plan), plan
    assert re.search(r"PushedFilters: \[[^\n]*\b(In|EqualTo)\(bkh,", plan), plan


def test_exact_store_probe_pushes_hash_filter(spark, tmp_path):
    """ExactDedupStore's probe must push both the bkt bucket filter and
    the content_hash data filter into the store scan."""
    import re

    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    path = str(tmp_path / "xstore_push")
    store = ExactDedupStore(spark, path)
    b1 = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "ccc")], "doc_id LONG, text STRING"
    )
    store.process_batch(b1, "text", "doc_id")
    b2 = spark.createDataFrame([(4, "aaa"), (5, "new")], "doc_id LONG, text STRING")
    plan = full_plan(store.probe_new(b2, "text", "doc_id"))
    assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(bkt,", plan), plan
    assert re.search(r"PushedFilters: \[[^\n]*\b(In|EqualTo)\(content_hash,", plan), plan
    surv = store.probe_new(b2, "text", "doc_id")
    assert {r["doc_id"] for r in surv.collect()} == {5}


def test_store_compact_crash_recovery(spark, tmp_path):
    """A crash at ANY point of the compaction swap must leave (or
    restore) a complete live table on the next store open — the three
    interrupted states are staged manually and each must heal."""
    import shutil

    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    path = tmp_path / "xstore_crash"
    store = ExactDedupStore(spark, str(path))
    b = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id LONG, text STRING"
    )
    store.process_batch(b, "text", "doc_id")
    live = path / "hashes"

    # state 1: crash BEFORE the swap — partial staging dir, live intact
    shutil.copytree(live, path / "_compact_hashes")
    (path / "_compact_hashes" / "_SUCCESS").unlink(missing_ok=True)  # partial
    s2 = ExactDedupStore(spark, str(path))
    assert live.exists() and not (path / "_compact_hashes").exists()

    # state 2: crash MID-swap — live renamed away, staged complete
    shutil.copytree(live, path / "_compact_hashes")
    (path / "_compact_hashes" / "_SUCCESS").touch()
    live.rename(path / "_old_hashes")
    s3 = ExactDedupStore(spark, str(path))
    assert live.exists()
    assert not (path / "_old_hashes").exists()
    assert not (path / "_compact_hashes").exists()

    # state 3: crash AFTER the swap, before cleanup — stale _old_ left
    shutil.copytree(live, path / "_old_hashes")
    s4 = ExactDedupStore(spark, str(path))
    assert live.exists() and not (path / "_old_hashes").exists()

    # the healed store still dedups: all 8 hashes are present
    replay = s4.probe_new(b, "text", "doc_id")
    assert replay.count() == 0

    # and a compact interrupted mid-swap heals even when rename would
    # have silently failed before (leftover _old_ dir): recovery runs at
    # compact start too
    shutil.copytree(live, path / "_old_hashes")
    s4.compact()
    assert s4.probe_new(b, "text", "doc_id").count() == 0


def test_store_single_writer_lock(spark, tmp_path):
    """Mutations fail FAST when another writer holds the lock, and the
    lock is released afterwards (no deadlock on the happy path)."""
    import pytest

    from fluent_plugin_sql_spark.operators.dedup import (
        ConcurrentStoreWriterError,
        ExactDedupStore,
    )

    path = str(tmp_path / "xstore_lock")
    store = ExactDedupStore(spark, path)
    b = spark.createDataFrame([(1, "x")], "doc_id LONG, text STRING")
    with store._store_fs.lock("other-writer"):
        with pytest.raises(ConcurrentStoreWriterError):
            store.process_batch(b, "text", "doc_id")
    # lock released by the context manager: mutation now succeeds
    store.process_batch(b, "text", "doc_id")
    assert not (tmp_path / "xstore_lock" / "_writer.lock").exists()


def test_embedding_probe_dups_is_read_only(spark, tmp_path):
    """probe_dups against an EMPTY store must detect batch-internal dups
    and write NOTHING — probing a batch that is never absorbed must not
    freeze centroids from it."""
    from fluent_plugin_sql_spark.operators.dedup import EmbeddingDedupStore

    path = tmp_path / "estore_pure"
    store = EmbeddingDedupStore(spark, str(path), threshold=0.9)
    b = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),  # near-parallel to 1 → internal dup
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    dups = store.probe_dups(b, "embedding", "vec_id")
    assert {r["dup"] for r in dups.collect()} == {2}
    assert not (path / "centroids").exists()
    assert not (path / "postings").exists()


def test_embedding_store_recluster_after_skewed_first_batch(spark, tmp_path):
    """recluster() re-picks centroids over ALL accepted vectors and
    re-homes postings: after a tiny skewed first batch froze a
    2-centroid universe, recall must still hold post-recluster (near-dup
    of an accepted vector detected), the store row set is preserved, and
    num_centroids can be raised in place."""
    import math

    from fluent_plugin_sql_spark.operators.dedup import EmbeddingDedupStore

    path = str(tmp_path / "estore_rc")
    store = EmbeddingDedupStore(
        spark, path, threshold=0.95, num_centroids=2, nprobe=1, store_replicas=1
    )
    # skewed first batch: both vectors in one tight cone
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.01, 0.0]), (2, [1.0, 0.0, 0.01])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    store.process_batch(b1, "embedding", "vec_id")
    # broader corpus afterwards: 16 directions on a circle
    rows = [
        (10 + i, [math.cos(i * math.pi / 8), math.sin(i * math.pi / 8), 0.0])
        for i in range(16)
    ]
    b2 = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    accepted = store.process_batch(b2, "embedding", "vec_id")
    n_accepted = accepted.count() + 2

    store.recluster(num_centroids=6)
    assert store.num_centroids == 6
    # row set preserved (replicas collapse to one posting per doc here)
    post = spark.read.parquet(f"{path}/postings")
    assert post.select("doc").distinct().count() == n_accepted
    assert spark.read.parquet(f"{path}/centroids").count() == 6

    # recall after recluster THROUGH A FRESH INSTANCE: a near-copy of an
    # accepted vector is caught, a novel orthogonal one is not
    store2 = EmbeddingDedupStore(
        spark, path, threshold=0.95, num_centroids=6, nprobe=2, store_replicas=1
    )
    probe = spark.createDataFrame(
        [(100, [1.0, 0.005, 0.005]), (101, [0.0, 0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    dups = {r["dup"] for r in store2.probe_dups(probe, "embedding", "vec_id").collect()}
    assert 100 in dups and 101 not in dups


def test_near_dedup_probe_then_absorb_survives_sink_failure(spark, tmp_path):
    """The streaming order is probe → sink → absorb: if the sink fails,
    the store must be UNCHANGED so the replayed batch still reaches the
    sink (true at-least-once; absorb-first would silently drop it)."""
    from fluent_plugin_sql_spark.operators.dedup import MinHashDedupStore

    path = tmp_path / "store_alo"
    store = MinHashDedupStore(spark, str(path), sig_match_frac=0.5, num_buckets=8)
    b = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river")],
        "doc_id LONG, text STRING",
    )
    # attempt 1: probe succeeds, sink "crashes" BEFORE absorb
    dups = store.probe_dups(b, "text", "doc_id")
    survivors = b.join(dups.withColumnRenamed("dup", "doc_id"), "doc_id", "left_anti")
    survivors.localCheckpoint(eager=True)
    assert not (path / "band_keys").exists()  # probe wrote nothing

    # attempt 2 (replay): full probe → sink → absorb; row reaches sink
    dups2 = store.probe_dups(b, "text", "doc_id")
    survivors2 = b.join(
        dups2.withColumnRenamed("dup", "doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=True)
    assert survivors2.count() == 1  # NOT swallowed as a dup of itself
    store.absorb(survivors2, "text", "doc_id")

    # attempt 3 (replay AFTER absorb): converges — row filtered as dup
    dups3 = store.probe_dups(b, "text", "doc_id")
    assert {r["dup"] for r in dups3.collect()} == {1}


# round 6: incremental IVF index maintenance


def test_append_ivf_index_equals_full_build(spark, tmp_path):
    """Frozen centroids make assignment batch-independent: an index grown
    by appends must hold exactly the postings of a one-shot full build,
    and searches over both must agree row-for-row."""
    from fluent_plugin_sql_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_from_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    full_idx, grown_idx = str(tmp_path / "full"), str(tmp_path / "grown")

    build_ivf_index(emb, full_idx, num_centroids=8)
    # grown index: built from the EVEN half only — but centroids are
    # picked by global hash-min of ids, so seed the build with the same
    # centroid set by building on the full corpus's centroid rows first
    build_ivf_index(half_a, grown_idx, num_centroids=8)
    # force-identical centroids (hash-min over half_a differs from the
    # full corpus): overwrite with the full build's, then re-home half_a
    spark.read.parquet(f"{full_idx}/centroids").write.mode("overwrite").parquet(
        f"{grown_idx}/centroids"
    )
    import shutil

    shutil.rmtree(f"{grown_idx}/postings")
    append_ivf_index(spark, grown_idx, half_a, skip_existing_ids=False)
    append_ivf_index(spark, grown_idx, half_b)

    def postings(p):
        return sorted(
            (r["bucket"], r["match_id"])
            for r in spark.read.parquet(f"{p}/postings").collect()
        )

    assert postings(grown_idx) == postings(full_idx)

    queries = emb.where(F.col("vec_id") < 10)
    full_res = sorted(
        map(tuple, ivf_topk_from_index(spark, full_idx, queries, k=5).collect())
    )
    grown_res = sorted(
        map(tuple, ivf_topk_from_index(spark, grown_idx, queries, k=5).collect())
    )
    assert grown_res == full_res

    # replayed append (at-least-once upstream) must be a no-op
    n_before = len(postings(grown_idx))
    append_ivf_index(spark, grown_idx, half_b)
    assert len(postings(grown_idx)) == n_before

    # compaction preserves content and bounds files
    import glob

    files_before = glob.glob(f"{grown_idx}/postings/**/*.parquet", recursive=True)
    compact_ivf_index(spark, grown_idx)
    assert postings(grown_idx) == postings(full_idx)
    files_after = glob.glob(f"{grown_idx}/postings/**/*.parquet", recursive=True)
    assert len(files_after) <= len(files_before)


# round-6 review fixes: store metadata, guarded open-healing


def test_store_bucket_count_is_pinned_by_metadata(spark, tmp_path):
    """Probe pruning uses pmod(hash, num_buckets) against directories
    written with the CREATION-time modulus — reopening with a different
    num_buckets must adopt the persisted value, or every partition
    filter prunes away the real state and dups are silently missed."""
    from fluent_plugin_sql_spark.operators.dedup import (
        ExactDedupStore,
        MinHashDedupStore,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta content one"),
         (1, "totally different filler text here")],
        "doc_id LONG, text STRING",
    )
    dup = spark.createDataFrame(
        [(2, "alpha beta gamma delta content one")], "doc_id LONG, text STRING"
    )

    xpath = str(tmp_path / "xd")
    ExactDedupStore(spark, xpath, num_buckets=8).process_batch(
        docs, "text", "doc_id"
    )
    reopened = ExactDedupStore(spark, xpath)  # default 256 requested
    assert reopened.num_buckets == 8  # metadata wins
    assert reopened.probe_new(dup, "text", "doc_id").count() == 0

    mpath = str(tmp_path / "md")
    MinHashDedupStore(spark, mpath, num_buckets=8, sig_match_frac=0.5
                      ).process_batch(docs, "text", "doc_id")
    reopened_m = MinHashDedupStore(spark, mpath, sig_match_frac=0.5)
    assert reopened_m.num_buckets == 8
    assert reopened_m.probe_dups(dup, "text", "doc_id").count() == 1


def test_pre_bkh_store_layout_is_rejected_loudly(spark, tmp_path):
    """A band_keys table from before the bkh probe column must fail at
    OPEN with a rebuild instruction, not at first probe (or silently)."""
    import pytest as _pytest

    from fluent_plugin_sql_spark.operators.dedup import MinHashDedupStore

    path = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, 0, "k1", 3)], "doc LONG, band INT, band_key STRING, bkt INT"
    ).write.partitionBy("bkt").parquet(f"{path}/band_keys")
    with _pytest.raises(ValueError, match="pre-bkh"):
        MinHashDedupStore(spark, path)


def test_open_does_not_heal_while_writer_lock_held(spark, tmp_path):
    """Opening a store is read-only when another session's writer lock
    is present: its in-flight compact staging must survive the open."""
    import os

    from fluent_plugin_sql_spark.operators.dedup import MinHashDedupStore

    path = str(tmp_path / "locked")
    docs = spark.createDataFrame(
        [(0, "some words for the store here")], "doc_id LONG, text STRING"
    )
    MinHashDedupStore(spark, path, sig_match_frac=0.5).process_batch(
        docs, "text", "doc_id"
    )
    ghost = f"{path}/_compact_band_keys"
    os.makedirs(ghost)
    open(f"{path}/_writer.lock", "w").close()
    MinHashDedupStore(spark, path, sig_match_frac=0.5)  # must not sweep
    assert os.path.isdir(ghost)
    os.remove(f"{path}/_writer.lock")
    MinHashDedupStore(spark, path, sig_match_frac=0.5)  # heals now
    assert not os.path.isdir(ghost)


# ---------------------------------------------------------------- span dedup
class TestDuplicateSpans:
    """Substring-level dedup on handcrafted docs where the expected
    intervals are known by construction (n=3 keeps the examples small)."""

    @pytest.fixture(scope="class")
    def span_docs(self, spark):
        shared = "alpha beta gamma delta"  # 4-token span shared by docs 1+2
        return spark.createDataFrame(
            [
                (1, f"one two {shared} three four"),
                (2, f"{shared} five six seven eight nine"),
                (3, "unique tokens only nothing repeats here at all"),
                (4, "x y"),  # shorter than n: no grams, never duplicated
                (5, "loop loop loop loop loop loop"),  # self-repetition
            ],
            ["doc_id", "text"],
        )

    def test_stats_finds_shared_span(self, spark, span_docs):
        from fluent_plugin_sql_spark.operators.dedup import duplicate_span_stats

        out = {
            r["doc_id"]: r
            for r in duplicate_span_stats(
                span_docs, "text", "doc_id", n=3, min_count=2
            ).collect()
        }
        assert len(out) == 5
        # docs 1 and 2 share the 4-token run -> one merged 4-token span each
        for d in (1, 2):
            assert out[d]["dup_tokens"] == 4
            assert out[d]["n_spans"] == 1
        assert out[3]["dup_tokens"] == 0 and out[3]["n_spans"] == 0
        assert out[4]["dup_tokens"] == 0 and out[4]["n_tokens"] == 2
        # "loop"*6: every trigram is "loop loop loop" (4 occurrences
        # globally) -> whole doc is one duplicated span
        assert out[5]["dup_tokens"] == 6 and out[5]["n_spans"] == 1

    def test_removal_rewrites_only_covered_tokens(self, spark, span_docs):
        from fluent_plugin_sql_spark.operators.dedup import remove_duplicate_spans

        out = {
            r["doc_id"]: r
            for r in remove_duplicate_spans(
                span_docs, "text", "doc_id", n=3, min_count=2
            ).collect()
        }
        assert out[1]["clean_text"] == "one two three four"
        assert out[2]["clean_text"] == "five six seven eight nine"
        assert (
            out[3]["clean_text"] == "unique tokens only nothing repeats here at all"
        )  # untouched
        assert out[3]["clean_tokens"] == out[3]["n_tokens"]
        assert out[4]["clean_text"] == "x y"
        assert out[5]["clean_text"] == ""  # fully duplicated doc vanishes
        assert out[5]["clean_tokens"] == 0

    def test_min_count_three_ignores_pairwise_repeats(self, spark, span_docs):
        from fluent_plugin_sql_spark.operators.dedup import duplicate_span_stats

        out = {
            r["doc_id"]: r
            for r in duplicate_span_stats(
                span_docs, "text", "doc_id", n=3, min_count=3
            ).collect()
        }
        # the shared span occurs only twice -> below threshold now
        assert out[1]["dup_tokens"] == 0 and out[2]["dup_tokens"] == 0
        # but the self-repeating trigram occurs 4 times -> still caught
        assert out[5]["dup_tokens"] == 6

    def test_overlapping_hits_merge_into_one_interval(self, spark):
        from fluent_plugin_sql_spark.operators.dedup import duplicate_span_stats

        # two docs sharing a 5-token run: three overlapping trigram hits
        # per doc must merge to a single 5-token interval, not 9 tokens
        df = spark.createDataFrame(
            [(1, "a b c d e tail1"), (2, "head a b c d e")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in duplicate_span_stats(df, "text", "doc_id", n=3, min_count=2)
            .collect()
        }
        for d in (1, 2):
            assert out[d]["dup_tokens"] == 5
            assert out[d]["n_spans"] == 1


# ----------------------------------------------------------- simhash store
class TestSimHashDedupStore:
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

    def test_incremental_and_durability(self, spark, tmp_path):
        """Cross-batch near-dup dropped via the persisted block store,
        within-batch dups keep the lowest id, and a fresh instance on
        the same path keeps filtering."""
        from fluent_plugin_sql_spark.operators.dedup import SimHashDedupStore

        variant = self.BASE.replace("green", "dark")
        path = str(tmp_path / "shstore")
        store = SimHashDedupStore(spark, path)

        b1 = spark.createDataFrame(
            [(1, self.BASE), (2, self.OTHER)], "doc_id LONG, text STRING"
        )
        assert {r["doc_id"] for r in store.process_batch(b1, "text", "doc_id").collect()} == {1, 2}

        b2 = spark.createDataFrame(
            [(10, self.THIRD), (11, self.THIRD), (12, variant)],
            "doc_id LONG, text STRING",
        )
        assert {r["doc_id"] for r in store.process_batch(b2, "text", "doc_id").collect()} == {10}

        store2 = SimHashDedupStore(spark, path)
        b3 = spark.createDataFrame(
            [(20, self.BASE), (21, self.THIRD),
             (22, "totally novel text about nothing seen before with many fresh words")],
            "doc_id LONG, text STRING",
        )
        assert {r["doc_id"] for r in store2.process_batch(b3, "text", "doc_id").collect()} == {22}

    def test_probe_never_shuffles_store_side(self, spark, tmp_path):
        """Same scale contract as the sibling stores: store side streams
        through a BroadcastHashJoin, bucket ids push as In
        filters, block-key hashes push as an In data filter."""
        import re

        from fluent_plugin_sql_spark.operators.dedup import SimHashDedupStore

        path = str(tmp_path / "shstore_plan")
        store = SimHashDedupStore(spark, path)
        b1 = spark.createDataFrame(
            [(1, self.BASE), (2, self.OTHER)], "doc_id LONG, text STRING"
        )
        store.process_batch(b1, "text", "doc_id")

        b2 = spark.createDataFrame(
            [(3, self.BASE), (4, self.THIRD)], "doc_id LONG, text STRING"
        )
        sk = store._sketch(b2, "text", "doc_id").localCheckpoint(eager=True)
        blocks = store._block_rows(sk)

        scan = store._pruned_block_scan(blocks)
        scan_plan = full_plan(scan)
        assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(bkt,", scan_plan), scan_plan
        assert "bvh" in scan_plan  # pushed In filter reaches the scan

        probe = store._dup_ids(blocks)
        plan = full_plan(probe)
        # the store-side join must be broadcast (batch side broadcast);
        # the batch-internal self-join is tiny either way
        assert "BroadcastHashJoin" in plan
        assert re.search(r"PushedFilters: \[[^\n]*\b(EqualTo|GreaterThanOrEqual)\(bkt,", plan), plan
        assert {r["dup"] for r in probe.collect()} == {3}

    def test_replay_converges(self, spark, tmp_path):
        """At-least-once self-healing: reprocessing an absorbed batch
        yields zero survivors (its rows look like dups of themselves)."""
        from fluent_plugin_sql_spark.operators.dedup import SimHashDedupStore

        path = str(tmp_path / "shstore_replay")
        store = SimHashDedupStore(spark, path)
        b = spark.createDataFrame(
            [(1, self.BASE), (2, self.OTHER)], "doc_id LONG, text STRING"
        )
        assert store.process_batch(b, "text", "doc_id").count() == 2
        assert store.process_batch(b, "text", "doc_id").count() == 0

    def test_split_probe_absorb_contract(self, spark, tmp_path):
        """probe_dups is strictly read-only; absorb makes state durable."""
        from fluent_plugin_sql_spark.operators.dedup import SimHashDedupStore

        path = str(tmp_path / "shstore_split")
        store = SimHashDedupStore(spark, path)
        b = spark.createDataFrame(
            [(1, self.BASE), (2, self.OTHER)], "doc_id LONG, text STRING"
        )
        assert store.probe_dups(b, "text", "doc_id").count() == 0
        assert not store._exists()  # probe did not mutate
        store.absorb(b, "text", "doc_id")
        # now a near-copy probes as dup
        b2 = spark.createDataFrame(
            [(3, self.BASE.replace("green", "dark"))], "doc_id LONG, text STRING"
        )
        assert {r["dup"] for r in store.probe_dups(b2, "text", "doc_id").collect()} == {3}

    def test_compact_preserves_probes_and_meta_pins_layout(self, spark, tmp_path):
        from fluent_plugin_sql_spark.operators.dedup import SimHashDedupStore

        path = str(tmp_path / "shstore_compact")
        store = SimHashDedupStore(spark, path, num_buckets=8)
        for i, txt in enumerate((self.BASE, self.OTHER, self.THIRD)):
            store.process_batch(
                spark.createDataFrame([(i, txt)], "doc_id LONG, text STRING"),
                "text", "doc_id",
            )
        store.compact()
        # reopening with different layout params adopts the stored ones
        store2 = SimHashDedupStore(spark, path, max_hamming=3, num_buckets=64)
        assert store2.num_buckets == 8 and store2.max_hamming == 6
        b = spark.createDataFrame(
            [(9, self.BASE.replace("green", "dark")), (10, "fresh unseen words only here")],
            "doc_id LONG, text STRING",
        )
        assert {r["dup"] for r in store2.probe_dups(b, "text", "doc_id").collect()} == {9}


def test_stores_survive_empty_first_absorb(spark, tmp_path):
    """Absorbing an EMPTY batch into a fresh store creates the state
    directory with only _SUCCESS; the next probe must treat that as
    'no state' (has_data), not route spark.read.parquet into a
    schema-less dir (UNABLE_TO_INFER_SCHEMA wedging every later batch)."""
    from fluent_plugin_sql_spark.operators.dedup import (
        ExactDedupStore,
        MinHashDedupStore,
        SimHashDedupStore,
    )

    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id LONG, text STRING",
    )
    for cls, sub in (
        (SimHashDedupStore, "blocks"),
        (ExactDedupStore, "hashes"),
        (MinHashDedupStore, "band_keys"),
    ):
        store = cls(spark, str(tmp_path / cls.__name__))
        store.absorb(empty, "text", "doc_id")
        # probe + absorb still work after the data-less first append
        out = store.process_batch(batch, "text", "doc_id")
        assert out.count() == 2, cls.__name__
        # and a REOPEN adopts the now-real state cleanly (exact store's
        # read-only probe returns survivors; the others return dup ids)
        store2 = cls(spark, str(tmp_path / cls.__name__))
        if hasattr(store2, "probe_dups"):
            assert store2.probe_dups(batch, "text", "doc_id").count() == 2, (
                cls.__name__
            )
        else:
            assert store2.probe_new(batch, "text", "doc_id").count() == 0, (
                cls.__name__
            )


class TestDupClustersStar:
    def test_matches_min_label_on_mixed_topologies(self, spark):
        """Chain, triangle, isolated pair, singleton-free star: both CC
        implementations must produce identical component labels."""
        from fluent_plugin_sql_spark.operators.dedup import (
            dup_clusters,
            dup_clusters_star,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),     # 6-chain
             (10, 11), (11, 12), (10, 12),               # triangle
             (20, 21),                                   # pair
             (30, 31), (30, 32), (30, 33)],              # star
            "doc_a long, doc_b long",
        )
        a = {(r["doc"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
        b = {(r["doc"], r["cluster_id"]) for r in dup_clusters_star(pairs).collect()}
        assert a == b
        assert (6, 1) in b  # chain end reaches the chain min
        assert (33, 30) in b
        # one seed of the (slow-tier) randomized cross-check: a 40-node
        # random graph needs several contraction rounds, so the
        # observe()-carried convergence checksum is exercised
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
        pairs = spark.createDataFrame(
            [(x, y) for x, y in edges if x != y], "doc_a long, doc_b long"
        )
        a = {(r["doc"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
        b = {(r["doc"], r["cluster_id"]) for r in dup_clusters_star(pairs).collect()}
        assert a == b

    def test_long_chain_converges_in_logarithmic_rounds(self, spark):
        """A 64-node chain needs ~63 label-propagation rounds but must
        finish well within 16 star-contraction rounds (O(log D))."""
        from fluent_plugin_sql_spark.operators.dedup import dup_clusters_star

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
        )
        got = {r["doc"]: r["cluster_id"] for r in dup_clusters_star(pairs, max_rounds=16).collect()}
        assert got == {i: 0 for i in range(65)}

    def test_random_graphs_match_min_label(self, spark):
        """Randomized cross-check on a few seeds (kept deterministic)."""
        import random

        from fluent_plugin_sql_spark.operators.dedup import (
            dup_clusters,
            dup_clusters_star,
        )

        for seed in (7, 23, 99):
            rng = random.Random(seed)
            n = 40
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(50)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
            a = {(r["doc"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
            b = {(r["doc"], r["cluster_id"]) for r in dup_clusters_star(pairs).collect()}
            assert a == b, f"seed {seed}"


def test_compression_ratio_orders_repetitive_above_natural(spark):
    """zlib compressibility must rank: pathological repetition >
    word-soup corpus text > high-entropy junk; and be deterministic.
    The registered gate query is the CONTRACT projection (hash-oracled
    since r8); the full per-doc stats come from compression_stats()."""
    import random

    from fluent_plugin_sql_spark.plans.llm_pipeline import compression_stats
    from fluent_plugin_sql_spark.plans.registry import REGISTRY

    fn, oracle = REGISTRY["text_compression_ratio"]
    assert oracle is not None  # contract-hash-oracled since r8

    rng = random.Random(13)
    junk = " ".join(
        "".join(chr(rng.randrange(33, 127)) for _ in range(8)) for _ in range(60)
    )
    rows = [
        (1, "spam " * 300),
        (2, "the quick brown fox jumps over the lazy dog " * 2),
        (3, junk),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in compression_stats(df).collect()}
    again = {r["doc_id"]: r for r in compression_stats(df).collect()}
    assert got.keys() == again.keys() and all(
        got[k]["n_compressed"] == again[k]["n_compressed"] for k in got
    )
    r1, r2, r3 = (got[i]["compression_ratio"] for i in (1, 2, 3))
    assert r1 > r2 > r3
    assert r1 > 10  # 300x repetition compresses enormously
    assert all(got[i]["n_bytes"] == len(rows[i - 1][1]) for i in (1, 2, 3))

    # the registered contract query over the same rows as a scratch table:
    # every doc must satisfy the deflate bounds, incl. an empty string
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    try:
        extra = spark.createDataFrame([(4, "")], "doc_id long, text string")
        (df.union(extra)
           .withColumn("lang", F.lit("en")).withColumn("source", F.lit("t"))
           .withColumn("n_chars", F.length("text"))
           .write.parquet(os.path.join(tmp, "documents.parquet")))
        contract = fn(spark, tmp).collect()
        assert len(contract) == 4
        assert all(r["compression_contract_ok"] for r in contract)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dup_clusters_star_keeps_self_paired_docs(spark):
    """A doc appearing only as a self-pair must keep its singleton row
    in BOTH implementations (identical output contract)."""
    from fluent_plugin_sql_spark.operators.dedup import (
        dup_clusters,
        dup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2)], "doc_a long, doc_b long"
    )
    a = {(r["doc"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
    b = {(r["doc"], r["cluster_id"]) for r in dup_clusters_star(pairs).collect()}
    assert a == b
    assert (7, 7) in b


def test_brute_force_topk_partial_window_group_limit(spark):
    """The scale guarantee of brute_force_topk: Catalyst's
    WindowGroupLimit rewrite must prune per-partition to <= k rows per
    query BEFORE the rank exchange (Partial mode under the shuffle), so
    the exchange is O(tasks x queries x k) — the JVM-native replacement
    for the removed mapInPandas partition-top-k stage.  Also covers the
    degenerate NULL-query-id row (dropped at the join, never an
    error)."""
    import numpy as np

    from fluent_plugin_sql_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(5)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(40)
    ]
    rows.append((None, [1.0] * 8))  # null-keyed query vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.limit(6)
    out = brute_force_topk(df, queries, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pos_partial = plan.find("Partial")
    assert "WindowGroupLimit" in plan and pos_partial != -1
    # the Partial group-limit sits BELOW the exchange (later in the
    # printed tree = earlier in execution)
    assert pos_partial > plan.find("Exchange hashpartitioning(query_id")
    rows_out = out.collect()
    assert len(rows_out) > 0
    per_q: dict = {}
    for r in rows_out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= 3 for v in per_q.values())


def test_minhash_store_sig_handoff_identical(spark, tmp_path):
    """The sign-once handoff (``sign(keep_columns=True)`` pinned →
    ``probe_dups(features=True)`` → ``absorb(features=True)``) must
    leave the store in EXACTLY the state the re-sign path does —
    signing is deterministic per row, so both the probe decisions and
    the appended band_keys/signatures rows must match row-for-row."""
    from fluent_plugin_sql_spark.operators.dedup import MinHashDedupStore

    docs = [
        (1, "the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to hide from hunters"),
        (2, "completely different content about spark shuffles partitions "
            "and broadcast joins at terabyte scale with adaptive execution"),
        (3, "the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest to hide from hunters"),
    ]
    batch = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    # path A: classic re-sign absorb
    pa = str(tmp_path / "a")
    sa = MinHashDedupStore(spark, pa, sig_match_frac=0.5)
    dups_a = {r[0] for r in sa.probe_dups(batch, "text", "doc_id").collect()}
    surv_a = batch.join(
        spark.createDataFrame([(d,) for d in dups_a] or [(None,)], "doc_id LONG"),
        "doc_id", "left_anti",
    ).localCheckpoint(eager=True)
    sa.absorb(surv_a, "text", "doc_id")

    # path B: sign-once handoff
    pb = str(tmp_path / "b")
    sb = MinHashDedupStore(spark, pb, sig_match_frac=0.5)
    signed = sb.sign(batch, "text", "doc_id", keep_columns=True).localCheckpoint(eager=True)
    dups_b = {r[0] for r in sb.probe_dups(signed, "text", "doc_id", features=True).collect()}
    surv_b = signed.join(
        spark.createDataFrame([(d,) for d in dups_b] or [(None,)], "doc_id LONG"),
        "doc_id", "left_anti",
    ).localCheckpoint(eager=True)
    sb.absorb(surv_b, "text", "doc_id", features=True)

    assert dups_a == dups_b == {3}
    for sub in ("band_keys", "signatures"):
        ra = sorted(map(tuple, spark.read.parquet(f"{pa}/{sub}").collect()))
        rb = sorted(map(tuple, spark.read.parquet(f"{pb}/{sub}").collect()))
        assert ra == rb, f"{sub} state differs between handoff and re-sign"

    # and a follow-up batch probes identically against both stores
    nxt = spark.createDataFrame(
        [(10, docs[0][1]), (11, "novel words never seen in any batch before now")],
        "doc_id LONG, text STRING",
    )
    da = {r[0] for r in sa.probe_dups(nxt, "text", "doc_id").collect()}
    db = {r[0] for r in sb.probe_dups(nxt, "text", "doc_id").collect()}
    assert da == db == {10}


def test_embedding_store_assign_handoff_identical(spark, tmp_path):
    """assign_probes → probe_dups(probes=) → absorb(assigned=) must
    match the unassisted path exactly: same dup decisions, identical
    postings state, identical drift state — assignment against frozen
    centroids is deterministic per row.  First batch: assign_probes
    returns None (no centroids yet) and the fallback paths run."""
    from fluent_plugin_sql_spark.operators.dedup import EmbeddingDedupStore

    def vec(seed, dim=8):
        return [float((seed * 31 + i * 7) % 13) - 6.0 for i in range(dim)]

    b1 = spark.createDataFrame(
        [(i, vec(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    near2 = [v + 0.001 for v in vec(2)]
    b2 = spark.createDataFrame(
        [(20, vec(20)), (22, near2), (23, vec(23))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )

    stores = {}
    for tag in ("a", "b"):
        st = EmbeddingDedupStore(
            spark, str(tmp_path / tag), threshold=0.95, num_centroids=4,
            nprobe=3, store_replicas=2, track_drift=True,
        )
        stores[tag] = st
        for batch in (b1, b2):
            if tag == "a":  # unassisted path
                dups = st.probe_dups(batch, "embedding", "vec_id")
                surv = batch.join(
                    dups.withColumnRenamed("dup", "vec_id"), "vec_id", "left_anti"
                ).localCheckpoint(eager=True)
                st.absorb(surv, "embedding", "vec_id")
            else:  # handoff path (None on batch 1 → fallback)
                assigned = st.assign_probes(batch, "embedding", "vec_id")
                if batch is b1:
                    assert assigned is None
                else:
                    assert assigned is not None
                dups = st.probe_dups(batch, "embedding", "vec_id", probes=assigned)
                surv = batch.join(
                    dups.withColumnRenamed("dup", "vec_id"), "vec_id", "left_anti"
                ).localCheckpoint(eager=True)
                st.absorb(surv, "embedding", "vec_id", assigned=assigned)

    for sub in ("postings", "centroids", "drift"):
        ra = sorted(map(tuple, spark.read.parquet(str(tmp_path / "a" / sub)).collect()))
        rb = sorted(map(tuple, spark.read.parquet(str(tmp_path / "b" / sub)).collect()))
        assert ra == rb, f"{sub} differs between handoff and unassisted paths"

    # follow-up probe agrees (near-dup of an absorbed vector is caught)
    b3 = spark.createDataFrame(
        [(30, [v + 0.001 for v in vec(23)]), (31, vec(31))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    da = {r[0] for r in stores["a"].probe_dups(b3, "embedding", "vec_id").collect()}
    db = {r[0] for r in stores["b"].probe_dups(b3, "embedding", "vec_id").collect()}
    assert da == db
    assert 30 in da  # the planted near-dup of an absorbed vector is caught
