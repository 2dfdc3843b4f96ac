"""LLM-data-pipeline operator queries (north star: dedup, similarity
search, text analysis — BASELINE.json) over `documents` / `embeddings`.

Every Spark implementation composes built-in expressions (operators/ and
functions/text) — no UDFs; DuckDB oracles re-derive the identical math
from scratch in SQL (the md5-based 60-bit hash is bit-identical across
engines), so value-hash matches prove the algorithms, not just plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..io import load_table
from ..operators.dedup import (
    duplicate_span_stats,
    embedding_dup_pairs,
    exact_dedup,
    jaccard_dup_pairs,
    minhash_lsh_dup_pairs,
    remove_duplicate_spans,
    simhash_dup_pairs,
)
from ..operators.similarity import ann_candidate_stats, brute_force_topk, lsh_topk
from .registry import query

# shared DuckDB SQL fragments (oracle side of the portable hash primitive)
_H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_SHINGLES = """
  SELECT DISTINCT doc_id AS doc,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 1))) AS i) t
"""
_PAIR_JACCARD = f"""
  WITH sh AS ({_SHINGLES}),
  sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
  shared AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
  )
  SELECT doc_a, doc_b,
         round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
"""


# --- DuckDB replication of the engine's vector math (ANN oracles) ---
# Spark evaluates dot/norm as SEQUENTIAL left folds over double-cast
# elements (operators/similarity.py).  These emit the same fold in
# DuckDB lambda SQL — same products, same addition order — so cosine is
# BIT-IDENTICAL across engines (verified: 0 mismatches over 1,500 pairs
# at sf0.01), which is what lets the approximate ANN queries carry full
# value-hash oracles: the oracle re-runs the same LSH / IVF algorithm
# from scratch in SQL, not just a recall bound.


def _dd_seq_sum(terms: str) -> str:
    """Left-fold sum of a DuckDB list expression — the order-exact
    mirror of Spark's ``aggregate(…, 0.0D, (acc, x) -> acc + x)``."""
    return f"list_reduce(list_prepend(0.0::DOUBLE, {terms}), (acc, x) -> acc + x)"


def _dd_dot(a: str, b: str, dim: int) -> str:
    return _dd_seq_sum(
        f"list_transform(range(1, {dim + 1}), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)"
    )


def _dd_norm(v: str) -> str:
    return f"sqrt({_dd_seq_sum(f'list_transform({v}, x -> x::DOUBLE * x::DOUBLE)')})"


def _dd_cosine(a: str, b: str, dim: int) -> str:
    """Mirror of similarity.cosine(): NULL (never an error) on zero
    norm, exactly like Spark's ``try_divide``."""
    na, nb = _dd_norm(a), _dd_norm(b)
    return (
        f"CASE WHEN {na} * {nb} = 0 THEN NULL"
        f" ELSE {_dd_dot(a, b, dim)} / ({na} * {nb}) END"
    )


def _dd_lsh_buckets(vec: str, num_planes: int, num_tables: int, dim: int) -> str:
    """DuckDB mirror of ``_hyperplane_buckets_sql``: the per-table
    ``'t:bits'`` LSH bucket array over the SAME md5-derived literal
    hyperplanes (``_plane_components`` is pure Python, shared verbatim),
    with the projection as the same sequential fold — the sign bits, and
    therefore the buckets, match Spark bit-for-bit."""
    from ..operators.similarity import _plane_components

    tables = []
    for t in range(num_tables):
        ps = ",".join(
            "[" + ",".join(repr(c) for c in _plane_components(t, p, dim)) + "]"
            for p in range(num_planes)
        )
        tables.append(f"[{ps}]")
    planes = "[" + ",".join(tables) + "]"
    proj = _dd_seq_sum(
        f"list_transform(range(1, {dim + 1}), i -> {vec}[i]::DOUBLE * pl[i])"
    )
    return (
        f"list_transform(list_zip({planes}, range(0, {num_tables})), tz -> "
        f"tz[2]::VARCHAR || ':' || list_aggregate(list_transform(tz[1], pl -> "
        f"CASE WHEN {proj} >= 0.0 THEN '1' ELSE '0' END), 'string_agg', ''))"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------------------- dedup
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=f"{_PAIR_JACCARD} WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via shared-shingle
    inverted-index join (candidates) + exact verification."""
    return jaccard_dup_pairs(_docs(spark, sf_dir), "text", "doc_id", threshold=0.8)


@query(
    "dedup_minhash_lsh",
    # LSH banding (r=4, b=6) has collision prob ≈0.996 at J=0.8 and the
    # corpus separates J≥0.97 vs J≤0.07, so LSH+verify ≡ exhaustive pairs.
    oracle=f"{_PAIR_JACCARD} WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(24) + LSH(6 bands × 4 rows) + exact-Jaccard verification."""
    return minhash_lsh_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold=0.8, num_hashes=24, bands=6
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS doc,
             list_transform(string_split(text, ' '), s -> {_H.format(x='s')}) AS hs
      FROM documents
    ),
    sk AS (
      SELECT doc,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(0, 60), b ->
                 CASE WHEN list_reduce(list_prepend(0::BIGINT,
                        list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)),
                      (acc, x) -> acc + x) > 0
                      THEN 1::BIGINT ELSE 0::BIGINT END)),
               (acc, x) -> acc * 2 + x) AS sk
      FROM t
    )
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.sk, b.sk)) AS hamming
    FROM sk a JOIN sk b ON a.doc < b.doc
    WHERE bit_count(xor(a.sk, b.sk)) <= 6
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 near-dup pairs at hamming ≤ 6."""
    return simhash_dup_pairs(_docs(spark, sf_dir), "text", "doc_id", max_hamming=6)


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 4) >= 0.48
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (double-precision zip_with math)."""
    return embedding_dup_pairs(_emb(spark, sf_dir), "embedding", "vec_id", threshold=0.48)


@query(
    "near_dedup_two_batches",
    # The corpus separates J≥0.97 (planted near-dup groups) from J≤0.07
    # (everything else), so dup groups are CLIQUES and the store's
    # estimated-Jaccard acceptances coincide with exact-Jaccard ones for
    # any threshold inside the gap.  First-acceptance over (batch, id)
    # then reduces to: a doc survives iff no neighbor precedes it
    # lexicographically — SQL-expressible without connected components.
    oracle=f"""
    WITH pj AS ({_PAIR_JACCARD}),
    dup AS (SELECT doc_a, doc_b FROM pj WHERE jaccard >= 0.8),
    sym AS (SELECT doc_a AS me, doc_b AS other FROM dup
            UNION ALL
            SELECT doc_b AS me, doc_a AS other FROM dup)
    SELECT d.doc_id, d.doc_id % 2 AS batch
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM sym s
      WHERE s.me = d.doc_id
        AND (s.other % 2 < d.doc_id % 2
             OR (s.other % 2 = d.doc_id % 2 AND s.other < d.doc_id))
    )
    """,
)
def near_dedup_two_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup through the persisted signature store
    (operators/dedup.MinHashDedupStore): documents split by ``doc_id % 2``
    into batch 0 then batch 1, each run through ``process_batch`` —
    batch-1 docs are filtered against batch-0 SURVIVORS via the
    bucket-pruned LSH probe, exactly the continuous-ingest path
    (streaming/stream.near_dedup_stream) the reference's poll loop feeds
    (in_sql.rb:136-161)."""
    import shutil
    import tempfile

    from ..operators.dedup import MinHashDedupStore

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="near_dedup_gate_")
    try:
        store = MinHashDedupStore(spark, f"{path}/store", sig_match_frac=0.5)
        out = None
        for batch in (0, 1):
            b = docs.where(F.col("doc_id") % 2 == batch)
            s = (
                store.process_batch(b, "text", "doc_id")
                .select("doc_id", (F.col("doc_id") % 2).alias("batch"))
            )
            out = s if out is None else out.unionByName(s)
        # survivors are localCheckpoint-pinned by process_batch, so the
        # scratch store can be reclaimed as soon as the plan is returned
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "exact_dedup_two_batches",
    # True first-occurrence semantics — unlike the MinHash store there is
    # no estimator, so the oracle is plain SQL with no corpus caveats:
    # survivor = the (batch, id)-lexicographic minimum of each text group.
    oracle="""
    SELECT doc_id, batch FROM (
      SELECT doc_id, doc_id % 2 AS batch,
             row_number() OVER (
               PARTITION BY text ORDER BY doc_id % 2, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def exact_dedup_two_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT dedup through the persisted content-hash store
    (operators/dedup.ExactDedupStore): documents split by ``doc_id % 2``
    into batch 0 then batch 1; batch-1 rows whose text was accepted in
    batch 0 are dropped via the bucket-pruned hash probe — the durable
    form of the at-least-once re-delivery absorption in
    streaming/stream.dedup_stream (in_sql.rb:136-161 emits raw rows with
    no dedup)."""
    import shutil
    import tempfile

    from ..operators.dedup import ExactDedupStore

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="exact_dedup_gate_")
    try:
        store = ExactDedupStore(spark, f"{path}/store")
        out = None
        for batch in (0, 1):
            b = docs.where(F.col("doc_id") % 2 == batch)
            s = (
                store.process_batch(b, "text", "doc_id")
                .select("doc_id", (F.col("doc_id") % 2).alias("batch"))
            )
            out = s if out is None else out.unionByName(s)
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "embedding_dedup_two_batches",
    # Exact first-acceptance over cosine neighbors: valid because the
    # embedding corpus separates planted near-dups (cos ≥ 0.48) from
    # background pairs, and the store's high-recall configuration
    # (nprobe=6 of 16 centroids, 3 redundant postings) empirically
    # reaches every true neighbor at sf0.001/0.01/0.1 (verified during
    # development; IVF recall is the documented trade at leaner settings).
    oracle="""
    SELECT vec_id, vec_id % 2 AS batch FROM embeddings e
    WHERE NOT EXISTS (
      SELECT 1 FROM embeddings o
      WHERE o.vec_id != e.vec_id
        AND round(list_cosine_similarity(o.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[]), 4) >= 0.48
        AND (o.vec_id % 2 < e.vec_id % 2
             OR (o.vec_id % 2 = e.vec_id % 2 AND o.vec_id < e.vec_id))
    )
    """,
)
def embedding_dedup_two_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup through the persisted IVF vector store
    (operators/dedup.EmbeddingDedupStore): embeddings split by
    ``vec_id % 2`` into two batches; batch-1 vectors whose cosine against
    an accepted vector reaches the threshold are dropped via the
    bucket-pruned centroid probe.  Completes the store family: exact
    (content hash), near-text (MinHash), semantic (embedding)."""
    import shutil
    import tempfile

    from ..operators.dedup import EmbeddingDedupStore

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="embedding_dedup_gate_")
    try:
        store = EmbeddingDedupStore(
            spark,
            f"{path}/store",
            threshold=0.48,
            num_centroids=16,
            nprobe=6,
            store_replicas=3,
        )
        out = None
        for batch in (0, 1):
            b = emb.where(F.col("vec_id") % 2 == batch)
            s = (
                store.process_batch(b, "embedding", "vec_id")
                .select("vec_id", (F.col("vec_id") % 2).alias("batch"))
            )
            out = s if out is None else out.unionByName(s)
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "embedding_dedup_recluster",
    # Same first-acceptance contract as embedding_dedup_two_batches: the
    # recluster between the batches re-homes state but must not change
    # ACCEPTANCE decisions (recall holds on this corpus both before and
    # after — the maintenance path is behavior-preserving, which is the
    # point of gating it).
    oracle="""
    SELECT vec_id, vec_id % 2 AS batch FROM embeddings e
    WHERE NOT EXISTS (
      SELECT 1 FROM embeddings o
      WHERE o.vec_id != e.vec_id
        AND round(list_cosine_similarity(o.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[]), 4) >= 0.48
        AND (o.vec_id % 2 < e.vec_id % 2
             OR (o.vec_id % 2 = e.vec_id % 2 AND o.vec_id < e.vec_id))
    )
    """,
)
def embedding_dedup_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EmbeddingDedupStore.recluster() under gate scrutiny: the store is
    DELIBERATELY mis-sized at creation (4 centroids frozen from batch 0 —
    the skewed-first-batch hazard the maintenance path exists for), then
    reclustered to 16 rebalanced centroids before batch 1 probes.  The
    oracle is the exact first-acceptance relation, so any recall lost to
    the skewed pre-recluster state OR any state corrupted by the re-home
    swap shows up as a hash mismatch."""
    import shutil
    import tempfile

    from ..operators.dedup import EmbeddingDedupStore

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="embedding_reclus_gate_")
    try:
        store = EmbeddingDedupStore(
            spark,
            f"{path}/store",
            threshold=0.48,
            num_centroids=4,
            nprobe=4,  # pre-recluster: probe ALL 4 buckets (full recall)
            store_replicas=3,
        )
        b0 = emb.where(F.col("vec_id") % 2 == 0)
        s0 = (
            store.process_batch(b0, "embedding", "vec_id")
            .select("vec_id", (F.col("vec_id") % 2).alias("batch"))
        )
        store.recluster(num_centroids=16)
        store.nprobe = 6  # post-recluster: the sibling gate's settings
        b1 = emb.where(F.col("vec_id") % 2 == 1)
        s1 = (
            store.process_batch(b1, "embedding", "vec_id")
            .select("vec_id", (F.col("vec_id") % 2).alias("batch"))
        )
        return s0.unionByName(s1)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "simhash_dedup_two_batches",
    # Exact oracle, no estimator OR clique caveat: the store's
    # acceptance test IS hamming <= 6 on the engine-portable md5-derived
    # sketch (pigeonhole blocking has exact recall, unlike MinHash
    # banding), and the SQL recomputes identical sketches bit-for-bit
    # (same construction as the dedup_simhash pair oracle).  The CTEs
    # encode the store's STAGED decision procedure exactly — batch 0:
    # reject on any lower-id in-batch neighbor; batch 1: reject on any
    # lower-id in-batch neighbor OR any batch-0 SURVIVOR neighbor (the
    # store only ever absorbs survivors) — so hamming chains, which this
    # low-entropy corpus is full of at distance 6, are handled
    # correctly, where a flat "no lexicographically-earlier neighbor"
    # NOT EXISTS would over-reject (it mismatched by 12 docs at sf0.01).
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS doc,
             list_transform(string_split(text, ' '), s -> {_H.format(x='s')}) AS hs
      FROM documents
    ),
    sk AS (
      SELECT doc,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(0, 60), b ->
                 CASE WHEN list_reduce(list_prepend(0::BIGINT,
                        list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)),
                      (acc, x) -> acc + x) > 0
                      THEN 1::BIGINT ELSE 0::BIGINT END)),
               (acc, x) -> acc * 2 + x) AS sk
      FROM t
    ),
    b0 AS (SELECT doc, sk FROM sk WHERE doc % 2 = 0),
    b1 AS (SELECT doc, sk FROM sk WHERE doc % 2 = 1),
    acc0 AS (
      SELECT doc, sk FROM b0 d
      WHERE NOT EXISTS (
        SELECT 1 FROM b0 o
        WHERE o.doc < d.doc AND bit_count(xor(o.sk, d.sk)) <= 6)
    ),
    acc1 AS (
      SELECT doc FROM b1 d
      WHERE NOT EXISTS (
        SELECT 1 FROM b1 o
        WHERE o.doc < d.doc AND bit_count(xor(o.sk, d.sk)) <= 6)
      AND NOT EXISTS (
        SELECT 1 FROM acc0 a
        WHERE bit_count(xor(a.sk, d.sk)) <= 6)
    )
    SELECT doc, 0 AS batch FROM acc0
    UNION ALL
    SELECT doc, 1 AS batch FROM acc1
    """,
)
def simhash_dedup_two_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-dedup through the persisted block store
    (operators/dedup.SimHashDedupStore): documents split by ``doc_id %
    2`` into batch 0 then batch 1, each run through ``process_batch`` —
    batch-1 docs are checked against accepted sketches via the
    bucket-pruned pigeonhole probe.  Completes the store-family gate
    coverage (exact / MinHash / SimHash / embedding)."""
    import shutil
    import tempfile

    from ..operators.dedup import SimHashDedupStore

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="simhash_dedup_gate_")
    try:
        store = SimHashDedupStore(spark, f"{path}/store", max_hamming=6)
        out = None
        for batch in (0, 1):
            b = docs.where(F.col("doc_id") % 2 == batch)
            s = (
                store.process_batch(b, "text", "doc_id")
                .select(
                    F.col("doc_id").alias("doc"),
                    (F.col("doc_id") % 2).alias("batch"),
                )
            )
            out = s if out is None else out.unionByName(s)
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "chained_dedup_stores",
    # The oracle encodes the PIPELINE's staged semantics exactly — for
    # each batch: exact first-per-text, then near-dedup against (a)
    # batch-0 FINAL survivors (all three stores absorb only the final
    # survivor set) and (b) lower-id neighbors in the near stage's own
    # input, then embedding-dedup the same way.  This is deliberately
    # NOT "greedy first-acceptance over the union relation": when dup
    # relations chain across kinds (a text-dups b, b embedding-dups c),
    # the staged pipeline's decisions differ from the one-relation
    # greedy set, and at sf0.1 the corpus contains such chains — the
    # staged CTE chain below is the true contract.  Estimator caveats as
    # in the single-store gates: est-J ≈ exact-J and full IVF recall
    # hold on this corpus by construction.
    oracle=f"""
    WITH corpus AS (
      SELECT d.doc_id AS id, d.text, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    pj AS ({_PAIR_JACCARD}),
    tsym AS (
      SELECT doc_a AS me, doc_b AS other FROM pj WHERE jaccard >= 0.8
      UNION ALL
      SELECT doc_b AS me, doc_a AS other FROM pj WHERE jaccard >= 0.8
    ),
    esym AS (
      SELECT a.id AS me, b.id AS other
      FROM corpus a JOIN corpus b ON a.id != b.id
      WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 4) >= 0.48
    ),
    b0 AS (SELECT id, text FROM corpus WHERE id % 2 = 0),
    x0 AS (SELECT id FROM (SELECT id, row_number() OVER (
             PARTITION BY text ORDER BY id) AS rn FROM b0) WHERE rn = 1),
    n0 AS (SELECT id FROM x0 d WHERE NOT EXISTS (
             SELECT 1 FROM tsym s JOIN x0 e ON e.id = s.other
             WHERE s.me = d.id AND e.id < d.id)),
    e0 AS (SELECT id FROM n0 d WHERE NOT EXISTS (
             SELECT 1 FROM esym s JOIN n0 e ON e.id = s.other
             WHERE s.me = d.id AND e.id < d.id)),
    b1 AS (SELECT id, text FROM corpus WHERE id % 2 = 1),
    x1 AS (SELECT id FROM (
             SELECT b.id, row_number() OVER (
               PARTITION BY b.text ORDER BY b.id) AS rn
             FROM b1 b
             WHERE NOT EXISTS (SELECT 1 FROM e0 a JOIN corpus c ON c.id = a.id
                               WHERE c.text = b.text)
           ) WHERE rn = 1),
    n1 AS (SELECT id FROM x1 d
           WHERE NOT EXISTS (SELECT 1 FROM tsym s WHERE s.me = d.id
                             AND s.other IN (SELECT id FROM e0))
             AND NOT EXISTS (SELECT 1 FROM tsym s JOIN x1 e ON e.id = s.other
                             WHERE s.me = d.id AND e.id < d.id)),
    e1 AS (SELECT id FROM n1 d
           WHERE NOT EXISTS (SELECT 1 FROM esym s WHERE s.me = d.id
                             AND s.other IN (SELECT id FROM e0))
             AND NOT EXISTS (SELECT 1 FROM esym s JOIN n1 e ON e.id = s.other
                             WHERE s.me = d.id AND e.id < d.id))
    SELECT id AS doc_id, 0 AS batch FROM e0
    UNION ALL
    SELECT id AS doc_id, 1 AS batch FROM e1
    """,
)
def chained_dedup_stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full store family composed end-to-end the way
    ``pipeline.Pipeline.run_streaming`` interposes them (exact →
    MinHash-near → embedding), over one corpus (documents ⋈ embeddings
    on id) split into two batches — using the at-least-once split API
    (read-only probes, pin, then absorb the FINAL survivor set into all
    three stores), exactly the streaming contract.  Survivor = novel by
    content hash AND by estimated Jaccard AND by embedding cosine."""
    import shutil
    import tempfile

    from ..operators.dedup import (
        EmbeddingDedupStore,
        ExactDedupStore,
        MinHashDedupStore,
    )
    from ..streaming.stages import EmbeddingStage, ExactStage, MinHashStage, run_stages

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    corpus = docs.join(
        emb, docs["doc_id"] == emb["vec_id"], "inner"
    ).select("doc_id", "text", "embedding")
    path = tempfile.mkdtemp(prefix="chained_dedup_gate_")
    try:
        stages = [
            ExactStage(ExactDedupStore(spark, f"{path}/exact"), "text", "doc_id"),
            MinHashStage(
                MinHashDedupStore(spark, f"{path}/near", sig_match_frac=0.5),
                "text", "doc_id",
            ),
            EmbeddingStage(
                EmbeddingDedupStore(
                    spark, f"{path}/emb", threshold=0.48, num_centroids=16,
                    nprobe=6, store_replicas=3,
                ),
                "embedding", "doc_id",
            ),
        ]
        out = None
        for batch in (0, 1):
            b = corpus.where(F.col("doc_id") % 2 == batch)
            surv = run_stages(stages, [], b, lambda _: None, batch)
            s = surv.select("doc_id", (F.col("doc_id") % 2).alias("batch"))
            out = s if out is None else out.unionByName(s)
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------------- similarity search
@query(
    "ann_bruteforce_top5",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, match_id,
             round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS cos
      FROM q JOIN c ON query_id != match_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, match_id ASC) AS rank FROM scored)
    SELECT query_id, match_id, cos, rank FROM r WHERE rank <= 5
    """,
)
def ann_bruteforce_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors — broadcast queries, scan
    corpus once, window-rank per query."""
    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


@query(
    "ann_lsh_top5",
    # full value-hash oracle: DuckDB re-runs the SAME LSH algorithm from
    # scratch — identical literal hyperplanes, order-exact fold
    # projections (bit-identical sign bits), same candidate join, same
    # rounded cosine ranking.  Approximate vs brute force, but fully
    # deterministic — so the approximate RESULT is hash-verified, not
    # just a recall bound.
    oracle=f"""
    WITH cb AS (SELECT vec_id AS match_id, embedding AS cv,
                       unnest({_dd_lsh_buckets("embedding", 6, 8, 64)}) AS bucket
                FROM embeddings),
    qb AS (SELECT vec_id AS query_id, embedding AS qv,
                  unnest({_dd_lsh_buckets("embedding", 6, 8, 64)}) AS bucket
           FROM embeddings WHERE vec_id < 10),
    cand AS (SELECT DISTINCT query_id, match_id, qv, cv
             FROM cb JOIN qb ON cb.bucket = qb.bucket AND query_id != match_id),
    scored AS (SELECT query_id, match_id, round(c, 4) AS cos
               FROM (SELECT query_id, match_id,
                            {_dd_cosine("qv", "cv", 64)} AS c FROM cand)
               WHERE c IS NOT NULL),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, match_id ASC) AS rank FROM scored)
    SELECT query_id, match_id, cos, rank FROM r WHERE rank <= 5
    """,
)
def ann_lsh_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed top-5 — the sublinear scale path; recall
    vs brute force is asserted in tests/test_llm_ops.py, and the exact
    approximate result is hash-verified against a from-scratch DuckDB
    replication of the bucketing (the planes are portable md5-derived
    literals and the projections order-exact folds, so buckets match
    bit-for-bit across engines)."""
    emb = _emb(spark, sf_dir)
    return lsh_topk(emb, emb.where(F.col("vec_id") < 10), k=5, num_planes=6, num_tables=8)


# ------------------------------------------------------------ text analysis
@query(
    "text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio,
           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0
                 / len(toks), 6) AS avg_token_len,
           round(len(list_filter(toks, x -> list_contains(
                 {TX.STOPWORDS!r}::VARCHAR[], x))) * 1.0 / len(toks), 6)
                 AS stopword_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical stats, all codegen'd expressions."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.word_token_count("text").alias("n_word_tokens"),
        TX.distinct_token_count("text").alias("n_distinct_tokens"),
        TX.type_token_ratio("text").alias("type_token_ratio"),
        TX.avg_token_length("text").alias("avg_token_len"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n,
             len(list_distinct(toks)) * 1.0 / len(toks) AS diversity,
             len(list_filter(toks, x -> list_contains(
                 {TX.STOPWORDS!r}::VARCHAR[], x))) * 1.0 / len(toks) AS stop_ratio
      FROM t
    )
    SELECT doc_id,
           round((least(n / 50.0, 1.0) + diversity
                  + (1.0 - least(round(stop_ratio, 6) * 2, 1.0))) / 3.0, 6)
                 AS quality
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.quality_score("text").alias("quality"))


@query(
    "text_lang_id",
    oracle="""
    SELECT doc_id,
      CASE
        WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
        WHEN contains(' '||text||' ',' der ') OR contains(' '||text||' ',' und ')
          OR contains(' '||text||' ',' nicht ') OR contains(' '||text||' ',' ich ')
          OR contains(' '||text||' ',' das ') THEN 'de'
        WHEN contains(' '||text||' ',' le ') OR contains(' '||text||' ',' les ')
          OR contains(' '||text||' ',' une ') OR contains(' '||text||' ',' est ')
          OR contains(' '||text||' ',' et ') THEN 'fr'
        WHEN contains(' '||text||' ',' el ') OR contains(' '||text||' ',' los ')
          OR contains(' '||text||' ',' una ') OR contains(' '||text||' ',' es ')
          OR contains(' '||text||' ',' y ') THEN 'es'
        WHEN contains(' '||text||' ',' the ') OR contains(' '||text||' ',' a ')
          OR contains(' '||text||' ',' is ') OR contains(' '||text||' ',' and ')
          OR contains(' '||text||' ',' of ') THEN 'en'
        ELSE 'unknown'
      END AS lang_guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.lang_id("text").alias("lang_guess"))


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(text, ' '), s -> {_H.format(x='s')})),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (polynomial fold of token hashes)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.doc_fingerprint("text").alias("fingerprint"))


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tfc AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
    dlen AS (SELECT doc_id, sum(c) AS len FROM tfc GROUP BY 1),
    dfq AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    sc AS (
      -- rank on the ROUNDED score: ln() may differ by final-bit ULPs
      -- between engines, and ranking on full precision would let
      -- near-tied terms order differently in Spark vs here
      SELECT t.doc_id, t.term,
             round((t.c * 1.0 / l.len)
               * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS score
      FROM tfc t JOIN dlen l USING (doc_id) JOIN dfq d USING (term), n
    ),
    r AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM sc
    )
    SELECT doc_id, term, rank::BIGINT AS rank, score
    FROM r WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))
    + 1, the sklearn convention) — the keyword-extraction primitive of a
    text pipeline (salient-term indexing, boilerplate spotting).

    Shape at scale: token explode → (doc, term) count with map-side
    combine; document frequency is a second keyed agg over the ALREADY
    collapsed (doc, term) rows (never the raw token stream); the corpus
    size N joins in as a broadcast 1-row aggregate so the plan stays
    fully declarative; final top-k is one window per doc.  Ranking uses
    the ROUNDED score (ln() can differ by final-bit ULPs across
    engines; full-precision ordering would let near-tied terms flip)
    with the term itself as tiebreak, so ordering is deterministic and
    engine-stable."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tfc = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    dlen = tfc.groupBy("doc_id").agg(F.sum("c").alias("len"))
    dfq = tfc.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    sc = (
        tfc.join(dlen, "doc_id")
        .join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("c") / F.col("len"))
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id", "term", F.col("rank").cast("long").alias("rank"), "score",
        )
    )


# Shared by all three IVF gate queries: the in-memory ivf_topk, the
# persisted-index search and the incrementally-grown index are proven
# bit-identical by pytest (index/append parity tests), so one oracle
# verifies all three.  DuckDB re-runs the SAME IVF algorithm from
# scratch: centroid pick by the portable md5 id-hash (the reason
# ivf_topk uses portable_id_hash, not xxhash64), nearest-centroid
# assignment and probing via the order-exact fold cosine (bit-identical
# to Spark's), then rounded-cosine top-5.  NULLS LAST is explicit where
# a zero-norm vector could score NULL (Spark's desc is nulls-last).
_ANN_IVF_CTES = f"""
WITH c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 10),
cent AS (SELECT match_id AS centroid_id, cv AS centvec FROM c
         ORDER BY {_H.format(x="match_id::VARCHAR")} LIMIT 16),
passign AS (
  SELECT match_id, cv, centroid_id AS bucket FROM (
    SELECT c.match_id, c.cv, cent.centroid_id,
           row_number() OVER (PARTITION BY c.match_id
                ORDER BY {_dd_cosine("cv", "centvec", 64)} DESC NULLS LAST,
                         cent.centroid_id ASC) AS rn
    FROM c, cent) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, centroid_id AS bucket FROM (
    SELECT q.query_id, q.qv, cent.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                ORDER BY {_dd_cosine("qv", "centvec", 64)} DESC NULLS LAST,
                         cent.centroid_id ASC) AS rn
    FROM q, cent) WHERE rn <= 3)"""

_ANN_IVF_ORACLE = f"""
{_ANN_IVF_CTES},
scored AS (SELECT query_id, match_id, round(cc, 4) AS cos FROM (
    SELECT p.query_id, a.match_id, {_dd_cosine("qv", "cv", 64)} AS cc
    FROM passign a JOIN probes p
      ON a.bucket = p.bucket AND p.query_id != a.match_id)
  WHERE cc IS NOT NULL),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, match_id ASC) AS rank FROM scored)
SELECT query_id, match_id, cos, rank FROM r WHERE rank <= 5
"""


@query("ann_ivf_top5", oracle=_ANN_IVF_ORACLE)
def ann_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5 (deterministic centroid pick,
    nprobe=3) — the clustering scale path beside hyperplane LSH; recall
    vs brute force asserted in tests/test_llm_ops.py, and the exact
    approximate result is hash-verified against ``_ANN_IVF_ORACLE``'s
    from-scratch DuckDB replication (portable centroid hash +
    order-exact fold cosine make every step engine-independent)."""
    from ..operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, num_centroids=16, nprobe=3
    )


@query("ann_ivf_from_index_top5", oracle=_ANN_IVF_ORACLE)
# bit-identical to the in-memory IVF (asserted in tests/test_llm_ops.py)
# → shares its full value-hash oracle
def ann_ivf_from_index_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search a PERSISTED IVF index: build centroids + bucket-PARTITIONED
    posting lists on parquet, then probe nprobe=3 buckets per query —
    partition pruning does the posting-list lookup on disk, so a probe
    batch reads only its buckets' directories.  This is the amortized
    production shape (nightly index, many query batches); here the build
    runs into a scratch dir each call so the query is self-contained.
    Deterministic centroid pick (min xxhash of id) makes the result
    byte-identical to the in-memory :func:`ivf_topk`."""
    import tempfile

    from ..operators.similarity import build_ivf_index, ivf_topk_from_index

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_idx_")
    build_ivf_index(emb, path, num_centroids=16)
    return ivf_topk_from_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=3
    )


@query("ann_ivf_append_top5", oracle=_ANN_IVF_ORACLE)
# append≡full-build≡in-memory parity asserted exactly in
# tests/test_llm_ops.py → shares the in-memory IVF's value-hash oracle
def ann_ivf_append_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search an IVF index grown INCREMENTALLY: built on half the corpus,
    the other half folded in with ``append_ivf_index`` (frozen centroids
    → assignment is batch-independent, so the grown index carries exactly
    the postings a one-shot build would).  This is the continuous-ingest
    ANN shape: per-batch cost is one broadcast-assign map + one
    bucket-partitioned append — the corpus-sized rebuild disappears from
    the ingest path."""
    import tempfile

    from ..operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk_from_index,
    )

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_app_")
    # seed: full-corpus centroid pick (frozen), postings from the even half
    build_ivf_index(emb, path, num_centroids=16)
    import shutil

    shutil.rmtree(f"{path}/postings")
    append_ivf_index(
        spark, path, emb.where(F.col("vec_id") % 2 == 0), skip_existing_ids=False
    )
    append_ivf_index(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    return ivf_topk_from_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=3
    )


@query(
    "ann_lsh_candidate_stats",
    # oracle recounts the LSH comparison set from scratch: same literal
    # hyperplanes, same bit-identical fold projections, distinct
    # (query, match) pairs sharing >= 1 bucket
    oracle=f"""
    WITH cb AS (SELECT vec_id AS match_id,
                       unnest({_dd_lsh_buckets("embedding", 6, 8, 64)}) AS bucket
                FROM embeddings),
    qb AS (SELECT vec_id AS query_id,
                  unnest({_dd_lsh_buckets("embedding", 6, 8, 64)}) AS bucket
           FROM embeddings WHERE vec_id < 10)
    SELECT query_id, count(DISTINCT match_id) AS n_candidates
    FROM cb JOIN qb ON cb.bucket = qb.bucket AND query_id != match_id
    GROUP BY query_id
    """,
)
def ann_lsh_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query LSH comparison cost at `ann_lsh_top5`'s parameters —
    the capacity-planning diagnostic (`ann_candidate_stats`): what a
    bucketed search actually scans, for tuning num_planes/num_tables
    before committing a corpus-scale pass."""
    emb = _emb(spark, sf_dir)
    return ann_candidate_stats(
        emb,
        emb.where(F.col("vec_id") < 10),
        "lsh",
        num_planes=6,
        num_tables=8,
    )


@query(
    "ann_ivf_candidate_stats",
    # oracle recounts the IVF comparison set from the shared centroid /
    # posting / probe CTEs (portable centroid hash, fold cosine)
    oracle=f"""
    {_ANN_IVF_CTES}
    SELECT query_id, count(DISTINCT a.match_id) AS n_candidates
    FROM passign a JOIN probes p
      ON a.bucket = p.bucket AND p.query_id != a.match_id
    GROUP BY query_id
    """,
)
def ann_ivf_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF comparison cost at `ann_ivf_top5`'s parameters —
    the posting-list fraction (≈ nprobe/num_centroids of the corpus)
    each query actually scans, measured not assumed."""
    emb = _emb(spark, sf_dir)
    return ann_candidate_stats(
        emb,
        emb.where(F.col("vec_id") < 10),
        "ivf",
        num_centroids=16,
        nprobe=3,
    )


def _dd_kmeans_ctes(
    k: int,
    iters: int,
    dim: int,
    init: str = "hash",
    final_update: bool = False,
) -> str:
    """DuckDB CTE chain re-running operators/cluster.kmeans_embeddings
    from scratch: md5-ordered (or greedy farthest-point) init, then per
    iteration an order-exact fold squared-L2 argmin (dist, cid) and a
    1e-6-rounded element-wise mean update (empty clusters keep their
    centroid).  Distances are bit-identical across engines because
    every centroid either IS an input vector (iter 1 / all seeds) or is
    rounded to the shared 1e-6 grid — the same determinism contract the
    operator documents."""
    h = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"

    def dist(c: str) -> str:
        return _dd_seq_sum(
            f"list_transform(range(1, {dim + 1}),"
            f" i -> (v[i] - {c}[i]) * (v[i] - {c}[i]))"
        )

    mean_list = ", ".join(
        f"round(avg(v[{i + 1}]), 6)" for i in range(dim)
    )
    parts = [
        f"""e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = {dim})"""
    ]
    if init == "farthest":
        # greedy k-center chain: seed_j = argmax of min-dist to chosen
        # seeds (ties by id), mirroring cluster._farthest_seeds — seeds
        # are exact input vectors, so the chain is bit-exact.  Each
        # 1-row seed CTE joins in via CROSS JOIN (DuckDB forbids
        # subqueries inside lambda expressions)
        parts.append(
            f"""seed1 AS (
      SELECT v AS sv FROM e ORDER BY {h}, vec_id, v LIMIT 1),
    d1 AS (
      SELECT e.vec_id, e.v, {dist('s.sv')} AS mind
      FROM e CROSS JOIN seed1 s)"""
        )
        for j in range(2, k + 1):
            parts.append(
                f"""seed{j} AS (
      SELECT v AS sv FROM d{j - 1} ORDER BY mind DESC, vec_id, v LIMIT 1)"""
            )
            if j < k:
                parts.append(
                    f"""d{j} AS (
      SELECT d.vec_id, d.v, least(d.mind, {dist('s.sv')}) AS mind
      FROM d{j - 1} d CROSS JOIN seed{j} s)"""
                )
        union = " UNION ALL ".join(
            f"SELECT {j - 1} AS cid, sv AS c FROM seed{j}"
            for j in range(1, k + 1)
        )
        parts.append(f"c0 AS ({union})")
    else:
        parts.append(
            f"""c0 AS (
      SELECT row_number() OVER (ORDER BY {h}, vec_id, v) - 1 AS cid, v AS c
      FROM e QUALIFY row_number() OVER (ORDER BY {h}, vec_id, v) <= {k})"""
        )
    for n in range(1, iters + 1):
        parts.append(
            f"""s{n} AS (
      SELECT e.vec_id, e.v, c.cid, {dist('c.c')} AS dist
      FROM e CROSS JOIN c{n - 1} c),
    a{n} AS (
      SELECT vec_id, v, cid, dist FROM s{n}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid, v) = 1)"""
        )
        if n < iters or final_update:
            parts.append(
                f"""m{n} AS (
      SELECT cid, [{mean_list}] AS m FROM a{n} GROUP BY cid),
    c{n} AS (
      SELECT c.cid, COALESCE(m.m, c.c) AS c
      FROM c{n - 1} c LEFT JOIN m{n} m USING (cid))"""
            )
    return "WITH " + ",\n    ".join(parts)


def _dd_kmeans_parallel_ctes(
    k: int, dim: int, l: int, rounds: int, refine_iters: int
) -> tuple[str, str]:
    """DuckDB CTE chain re-running operators/cluster.
    kmeans_parallel_centroids from scratch — the k-means|| pipeline:
    md5-priority oversampling rounds (exactly-l weighted priority
    sampling, no global cost φ), candidate weighting by nearest-corpus
    mass, the deterministic weighted k-means++ seed chain (distances on
    the 1e-6 grid so the driver-side numpy walk and this SQL agree),
    and the weighted Lloyd refine on the 1e-6 centroid grid.  Returns
    ``(cte_sql, final_centroid_cte)`` where the final CTE is
    ``(cid, c)``."""
    hid = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"

    def h(expr: str) -> str:
        return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"

    def dist(a: str, b: str) -> str:
        return _dd_seq_sum(
            f"list_transform(range(1, {dim + 1}),"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
        )

    two40 = 1 << 40
    parts = [
        f"""e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = {dim})""",
        # dup-id dedup (min vector per id) mirrors the Spark side's
        # groupBy(vec_id).agg(min(v)) — one selection slot and one
        # weighting vote per DISTINCT id on both engines
        """fin AS MATERIALIZED (
      SELECT vec_id, min(v) AS v FROM e
      WHERE len(list_filter(v, x -> NOT isfinite(x))) = 0
      GROUP BY vec_id)""",
        f"""pc0 AS MATERIALIZED (
      SELECT vec_id, v FROM fin ORDER BY {hid}, vec_id LIMIT 1),
    pd0 AS MATERIALIZED (
      SELECT f.vec_id, f.v, min({dist('f.v', 's.v')}) AS dmin
      FROM fin f CROSS JOIN pc0 s GROUP BY f.vec_id, f.v)""",
    ]
    sel_names = ["pc0"]
    for r in range(1, rounds + 1):
        uh = (
            f"(({h('CAST(vec_id AS VARCHAR) || ' + repr(':' + str(r)))})"
            f" % {two40} + 1)::DOUBLE"
        )
        parts.append(
            f"""ps{r} AS MATERIALIZED (
      SELECT vec_id, v FROM pd{r - 1} WHERE dmin != 0
      ORDER BY {uh} / dmin, vec_id LIMIT {l})"""
        )
        sel_names.append(f"ps{r}")
        if r < rounds:
            parts.append(
                f"""px{r} AS MATERIALIZED (
      SELECT d.vec_id, min({dist('d.v', 's.v')}) AS md
      FROM pd{r - 1} d CROSS JOIN ps{r} s GROUP BY d.vec_id),
    pd{r} AS MATERIALIZED (
      SELECT d.vec_id, d.v,
             least(d.dmin, COALESCE(x.md, 'Infinity'::DOUBLE)) AS dmin
      FROM pd{r - 1} d LEFT JOIN px{r} x USING (vec_id))"""
            )
    union = " UNION ALL ".join(
        f"SELECT vec_id, v FROM {n}" for n in sel_names
    )
    parts.append(
        f"""pcand AS MATERIALIZED (
      SELECT vec_id, min(v) AS v FROM ({union}) GROUP BY vec_id),
    pnear AS MATERIALIZED (
      SELECT f.vec_id AS pid, c.vec_id AS cand_id,
             {dist('f.v', 'c.v')} AS d
      FROM fin f CROSS JOIN pcand c),
    pnr AS MATERIALIZED (
      SELECT pid, cand_id FROM pnear
      QUALIFY row_number() OVER (PARTITION BY pid
                                 ORDER BY d, cand_id) = 1),
    pwt AS MATERIALIZED (SELECT cand_id, count(*)::DOUBLE AS w FROM pnr GROUP BY cand_id),
    pcw AS MATERIALIZED (
      SELECT c.vec_id, c.v, COALESCE(w.w, 0.0) AS w
      FROM pcand c LEFT JOIN pwt w ON c.vec_id = w.cand_id),
    pk AS MATERIALIZED (SELECT vec_id, v, w FROM pcw WHERE w > 0),
    sp1 AS MATERIALIZED (SELECT vec_id, v FROM pk ORDER BY {hid}, vec_id LIMIT 1),
    pe1 AS MATERIALIZED (
      SELECT p.vec_id, p.v, p.w, round(min({dist('p.v', 's.v')}), 6) AS d2
      FROM pk p CROSS JOIN sp1 s GROUP BY p.vec_id, p.v, p.w)"""
    )
    for j in range(2, k + 1):
        # u(id, j) = (h40(id)*(2j+1) + j) mod 2^40 + 1 — the seeding
        # draw _pp_seeds vectorizes (one md5 per candidate, exact
        # integer arithmetic per step; every intermediate < 2^53)
        uh = (
            f"((({hid} % {two40}) * {2 * (j - 1) + 1} + {j - 1})"
            f" % {two40} + 1)::DOUBLE"
        )
        parts.append(
            f"""sp{j} AS MATERIALIZED (
      SELECT vec_id, v FROM pe{j - 1} WHERE w * d2 > 0
      ORDER BY {uh} / (w * d2), vec_id LIMIT 1)"""
        )
        if j < k:
            parts.append(
                f"""pe{j} AS MATERIALIZED (
      SELECT e.vec_id, e.v, e.w,
             least(e.d2, COALESCE(round({dist('e.v', 's.v')}, 6),
                                  'Infinity'::DOUBLE)) AS d2
      FROM pe{j - 1} e LEFT JOIN sp{j} s ON TRUE)"""
            )
    seed_union = " UNION ALL ".join(
        f"SELECT {j - 1} AS cid, v AS c FROM sp{j}" for j in range(1, k + 1)
    )
    parts.append(f"prc0 AS MATERIALIZED ({seed_union})")
    wmean = ", ".join(
        f"round(CASE WHEN sum(w) = 0 THEN NULL"
        f" ELSE sum(w * v[{i + 1}]) / sum(w) END, 6)"
        for i in range(dim)
    )
    for n in range(1, refine_iters + 1):
        parts.append(
            f"""pws{n} AS MATERIALIZED (
      SELECT c.vec_id, c.v, c.w, r.cid, {dist('c.v', 'r.c')} AS dist
      FROM pcw c CROSS JOIN prc{n - 1} r),
    pwa{n} AS MATERIALIZED (
      SELECT vec_id, v, w, cid FROM pws{n}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) = 1),
    pwm{n} AS MATERIALIZED (
      SELECT cid, [{wmean}] AS m FROM pwa{n} GROUP BY cid),
    prc{n} AS MATERIALIZED (
      SELECT r.cid,
             CASE WHEN m.m IS NULL
                    OR len(list_filter(m.m, x -> x IS NULL)) > 0
                  THEN r.c ELSE m.m END AS c
      FROM prc{n - 1} r LEFT JOIN pwm{n} m USING (cid))"""
        )
    return "WITH " + ",\n    ".join(parts), f"prc{refine_iters}"


def _dd_two_level_tail(
    cents: str,
    dim: int,
    coarse_k: int,
    coarse_iters: int,
    nprobe: int,
    fine_replicas: int = 2,
) -> str:
    """Further CTEs replicating operators/cluster.assign_two_level on
    top of a ``(cid, c)`` centroid CTE: grid-rounded coarse k-means
    over the centroid table, fine→cell map, nearest-coarse probing
    restricted to occupied cells, and the within-probe argmin.  Ends
    with ``tl AS (vec_id, cluster, dist)``."""
    hcid = "('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 15))::BIGINT"

    def dist(a: str, b: str) -> str:
        return _dd_seq_sum(
            f"list_transform(range(1, {dim + 1}),"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
        )

    mean_list = ", ".join(f"round(avg(cv[{i + 1}]), 6)" for i in range(dim))
    parts = [
        f"""gtab AS MATERIALIZED (
      SELECT cid, c FROM {cents}
      WHERE cid IS NOT NULL AND c IS NOT NULL AND len(c) = {dim}),
    gc0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {hcid}, cid) - 1 AS gid, c AS g
      FROM gtab QUALIFY row_number() OVER (ORDER BY {hcid}, cid)
                <= {coarse_k})"""
    ]
    for n in range(1, coarse_iters + 1):
        parts.append(
            f"""gs{n} AS MATERIALIZED (
      SELECT t.cid, t.c AS cv, g.gid, {dist('t.c', 'g.g')} AS d
      FROM gtab t CROSS JOIN gc{n - 1} g),
    ga{n} AS MATERIALIZED (
      SELECT cid, cv, gid FROM gs{n}
      QUALIFY row_number() OVER (PARTITION BY cid ORDER BY d, gid) = 1),
    gm{n} AS MATERIALIZED (SELECT gid, [{mean_list}] AS m FROM ga{n} GROUP BY gid),
    gc{n} AS MATERIALIZED (
      SELECT g.gid, COALESCE(m.m, g.g) AS g
      FROM gc{n - 1} g LEFT JOIN gm{n} m USING (gid))"""
        )
    parts.append(
        f"""f2s AS MATERIALIZED (
      SELECT t.cid AS fcid, t.c AS fc, g.gid, {dist('t.c', 'g.g')} AS d
      FROM gtab t CROSS JOIN gc{coarse_iters} g),
    f2c AS MATERIALIZED (
      SELECT fcid, fc, gid FROM f2s
      QUALIFY row_number() OVER (PARTITION BY fcid ORDER BY d, gid)
              <= {max(1, fine_replicas)}),
    occ AS MATERIALIZED (SELECT DISTINCT gid FROM f2c),
    tlprobe AS MATERIALIZED (
      SELECT e.vec_id, e.v, g.gid
      FROM e CROSS JOIN (SELECT c.gid, c.g FROM gc{coarse_iters} c
                         JOIN occ USING (gid)) g
      QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {dist('e.v', 'g.g')}, g.gid) <= {nprobe}),
    tl AS MATERIALIZED (
      SELECT vec_id, fcid AS cluster, d AS dist FROM (
        SELECT p.vec_id, f.fcid, {dist('p.v', 'f.fc')} AS d
        FROM tlprobe p JOIN f2c f USING (gid))
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, fcid) = 1)"""
    )
    return ",\n    ".join(parts)


_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM = 8, 2, 64


@query(
    "kmeans_embeddings_assign",
    # full value-hash oracle: DuckDB re-runs BOTH Lloyd iterations from
    # scratch (init pick, assign, centroid update, re-assign) — every
    # cluster label and distance is hash-verified, not bounds-checked
    oracle=f"""
    {_dd_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM)}
    SELECT vec_id, cid AS cluster, round(dist, 4) AS dist_r
    FROM a{_KMEANS_ITERS}
    """,
)
def kmeans_embeddings_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=8, two
    assign/update rounds) — the SemDeDup-style clustering primitive.
    Plan shape per iteration: broadcast k×dim centroids (corpus never
    shuffles for the join), codegen fold distances, one map-side-partial
    argmin shuffle of one row per vector, one k×dim partial-agg update
    shuffle.  See operators/cluster.py for the cross-engine determinism
    contract (md5 init + 1e-6 centroid grid) that makes every assignment
    hash-verifiable."""
    from ..operators.cluster import kmeans_embeddings

    emb = _emb(spark, sf_dir)
    a = kmeans_embeddings(
        emb, k=_KMEANS_K, iters=_KMEANS_ITERS, dim=_KMEANS_DIM
    )
    return a.select(
        "vec_id", "cluster", F.round("dist", 4).alias("dist_r")
    )


@query(
    "kmeans_cluster_profile",
    oracle=f"""
    {_dd_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM)}
    SELECT cid AS cluster, count(*) AS size,
           round(avg(dist), 4) AS mean_dist,
           round(max(dist), 4) AS max_dist
    FROM a{_KMEANS_ITERS} GROUP BY cid
    """,
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster curation profile (size, mean/max within-cluster
    squared-L2) over the same k-means run — the numbers that set
    SemDeDup per-cluster dedup thresholds and mixture sampling rates."""
    from ..operators.cluster import kmeans_cluster_profile as profile

    emb = _emb(spark, sf_dir)
    return profile(emb, k=_KMEANS_K, iters=_KMEANS_ITERS, dim=_KMEANS_DIM)


@query(
    "kmeans_farthest_init_assign",
    # the greedy k-center init chain is replicated seed by seed in SQL
    # (argmax-of-min-dist with id tie-breaks), then the same Lloyd
    # rounds — assignments hash-verified end to end
    oracle=f"""
    {_dd_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM, init="farthest")}
    SELECT vec_id, cid AS cluster, round(dist, 4) AS dist_r
    FROM a{_KMEANS_ITERS}
    """,
)
def kmeans_farthest_init_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-means with the greedy farthest-point (k-center) init — the
    mode-recovering variant (hash init can seed two centroids inside
    one dense mode; the k-center sweep cannot).  Costs k-1 extra
    one-pass top-1 scans before the same broadcast-Lloyd rounds; the
    driver collects exactly one k×dim seed list (bounded)."""
    from ..operators.cluster import kmeans_embeddings

    emb = _emb(spark, sf_dir)
    a = kmeans_embeddings(
        emb,
        k=_KMEANS_K,
        iters=_KMEANS_ITERS,
        dim=_KMEANS_DIM,
        init="farthest",
    )
    return a.select(
        "vec_id", "cluster", F.round("dist", 4).alias("dist_r")
    )


@query(
    "semdedup_cap_stats",
    # oracle recomputes the auto-cap policy from the same k-means
    # sizes: cap = max(1000, 10*ceil(N/k)), shards = ceil(size/cap)
    # where engaged — the in-plan guard the SemDeDup default ships with
    oracle=f"""
    {_dd_kmeans_ctes(12, 2, 64)},
    sz AS (SELECT cid AS cluster, count(*) AS size FROM a2 GROUP BY cid),
    tot AS (SELECT sum(size) AS n FROM sz)
    SELECT s.cluster, s.size,
           greatest(1000, 10 * CAST(ceil(t.n / 12.0) AS BIGINT)) AS cap,
           CASE WHEN s.size > greatest(1000,
                    10 * CAST(ceil(t.n / 12.0) AS BIGINT))
                THEN CAST(ceil(s.size * 1.0 / greatest(1000,
                    10 * CAST(ceil(t.n / 12.0) AS BIGINT))) AS BIGINT)
                ELSE 1 END AS shards,
           s.size > greatest(1000,
                    10 * CAST(ceil(t.n / 12.0) AS BIGINT)) AS capped
    FROM sz s CROSS JOIN tot t
    """,
)
def semdedup_cap_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster diagnostics of semdedup_prune's default mega-cluster
    salt cap (cluster, size, cap, shards, capped) — the execution-time
    engagement report the curation runner logs; hash-oracled so the
    auto-cap arithmetic itself is cross-engine verified, not just the
    prune output it guards."""
    from ..operators.cluster import semdedup_cap_stats

    emb = _emb(spark, sf_dir)
    return semdedup_cap_stats(emb, k=12, iters=2, dim=64)


_KMPAR_CTES, _KMPAR_FINAL = _dd_kmeans_parallel_ctes(
    k=8, dim=64, l=12, rounds=2, refine_iters=2
)


@query(
    "kmeans_parallel_centroids",
    # full value-hash oracle: DuckDB re-runs the ENTIRE k-means||
    # pipeline from scratch — oversampling rounds (md5-priority
    # exactly-l sampling), candidate weighting, the weighted k-means++
    # seed chain, and both weighted Lloyd refine rounds — so every
    # trained centroid coordinate is hash-verified
    oracle=f"""
    {_KMPAR_CTES}
    SELECT cid, c FROM {_KMPAR_FINAL}
    """,
)
def kmeans_parallel_centroids_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-means|| centroid training (Bahmani et al. 2012) — the
    large-k init path: the greedy farthest init is k−1 sequential
    driver scans, structurally infeasible at the k ≈ 10⁴-10⁵ a
    production IVF wants; k-means|| oversamples spread candidates in
    ``rounds`` passes (no corpus shuffle, no per-round driver action —
    deterministic md5 priorities replace the paper's coin flips and
    its global-cost φ), weights them by nearest-corpus mass, and
    refines with weighted k-means++ + weighted Lloyd on the small
    candidate table.  See operators/cluster.py for the engine-exactness
    argument that makes the whole pipeline hash-verifiable."""
    from ..operators.cluster import kmeans_parallel_centroids

    emb = _emb(spark, sf_dir)
    return kmeans_parallel_centroids(
        emb, k=8, dim=64, l=12, rounds=2, refine_iters=2
    )


@query(
    "kmeans_two_level_assign",
    # composed oracle: the k-means|| chain above, then the two-level
    # assignment replicated exactly — grid-rounded coarse k-means over
    # the trained centroids, fine->cell map, occupied-cell probing,
    # within-probe argmin.  The assignment is APPROXIMATE by design,
    # but deterministic — so the approximate result itself is
    # hash-verified, not recall-bounded
    oracle=f"""
    {_KMPAR_CTES},
    {_dd_two_level_tail(_KMPAR_FINAL, dim=64, coarse_k=3,
                        coarse_iters=2, nprobe=2)}
    SELECT vec_id, cluster, round(dist, 4) AS dist_r FROM tl
    """,
)
def kmeans_two_level_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (coarse→fine) assignment over k-means||-trained
    centroids — the large-k assignment shape: route through ≈√k coarse
    cells (a per-row literal-fold expression, zero joins), then argmin
    only among the fine centroids of the ``nprobe`` nearest occupied
    cells — O(m + nprobe·k/m) distance folds per vector instead of the
    flat O(k), with the corpus's only shuffle being the final argmin."""
    from ..operators.cluster import (
        assign_two_level,
        kmeans_parallel_centroids,
    )

    emb = _emb(spark, sf_dir)
    cents = kmeans_parallel_centroids(
        emb, k=8, dim=64, l=12, rounds=2, refine_iters=2
    )
    a = assign_two_level(
        emb, cents, dim=64, coarse_k=3, nprobe=2, coarse_iters=2
    )
    return a.select(
        "vec_id", "cluster", F.round("dist", 4).alias("dist_r")
    )


@query(
    "ann_ivf_kmeans_top5",
    # the trained-centroid IVF: the oracle re-trains the centroids from
    # scratch (kmeans CTEs incl. the final update), re-assigns postings
    # and probes by the same fold cosine, and re-ranks — the entire
    # index build + search is hash-verified, not just the top-k shape
    oracle=f"""
    {_dd_kmeans_ctes(16, 2, 64, final_update=True)},
    cent AS (SELECT cid AS centroid_id, c AS centvec FROM c2),
    call AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
    passign AS (
      SELECT match_id, cv, centroid_id AS bucket FROM (
        SELECT c.match_id, c.cv, cent.centroid_id,
               row_number() OVER (PARTITION BY c.match_id
                    ORDER BY {_dd_cosine("cv", "centvec", 64)} DESC NULLS LAST,
                             cent.centroid_id ASC) AS rn
        FROM call c, cent) WHERE rn = 1),
    probes AS (
      SELECT query_id, qv, centroid_id AS bucket FROM (
        SELECT q.query_id, q.qv, cent.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                    ORDER BY {_dd_cosine("qv", "centvec", 64)} DESC NULLS LAST,
                             cent.centroid_id ASC) AS rn
        FROM q, cent) WHERE rn <= 3),
    scored AS (SELECT query_id, match_id, round(cc, 4) AS cos FROM (
        SELECT p.query_id, a.match_id, {_dd_cosine("qv", "cv", 64)} AS cc
        FROM passign a JOIN probes p
          ON a.bucket = p.bucket AND p.query_id != a.match_id)
      WHERE cc IS NOT NULL),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, match_id ASC) AS rank FROM scored)
    SELECT query_id, match_id, cos, rank FROM r WHERE rank <= 5
    """,
)
def ann_ivf_kmeans_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over an index whose centroids are TRAINED (2 Lloyd
    rounds via operators/cluster.kmeans_centroids) instead of arbitrary
    hash-picked corpus vectors — the production IVF build: centroids
    move to density modes, balancing posting lists and raising recall
    at the same nprobe (lift measured in tests/test_kmeans.py).  Build
    runs into a scratch dir each call so the query is self-contained;
    the 1e-6 centroid grid keeps the trained index engine-replicable,
    so even this composed build+search is fully hash-verified."""
    import tempfile

    from ..operators.similarity import build_ivf_index, ivf_topk_from_index

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_km_")
    build_ivf_index(
        emb, path, num_centroids=16, centroid_mode="kmeans", dim=64
    )
    return ivf_topk_from_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=3
    )


_KMPAR16_CTES, _KMPAR16_FINAL = _dd_kmeans_parallel_ctes(
    k=8, dim=64, l=16, rounds=2, refine_iters=2
)


@query(
    "ann_ivf_parallel_top5",
    # composed oracle: the k-means|| chain (build_ivf_index's default
    # l=2k, rounds=2) trains the centroids from scratch, then the same
    # IVF assign/probe/rank as ann_ivf_kmeans_top5 — the large-k
    # trainer's IVF integration is hash-verified end to end
    oracle=f"""
    {_KMPAR16_CTES},
    cent AS MATERIALIZED (
      SELECT cid AS centroid_id, c AS centvec FROM {_KMPAR16_FINAL}),
    call AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 10),
    passign AS (
      SELECT match_id, cv, centroid_id AS bucket FROM (
        SELECT c.match_id, c.cv, cent.centroid_id,
               row_number() OVER (PARTITION BY c.match_id
                    ORDER BY {_dd_cosine("cv", "centvec", 64)} DESC NULLS LAST,
                             cent.centroid_id ASC) AS rn
        FROM call c, cent) WHERE rn = 1),
    probes AS (
      SELECT query_id, qv, centroid_id AS bucket FROM (
        SELECT q.query_id, q.qv, cent.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                    ORDER BY {_dd_cosine("qv", "centvec", 64)} DESC NULLS LAST,
                             cent.centroid_id ASC) AS rn
        FROM q, cent) WHERE rn <= 3),
    scored AS (SELECT query_id, match_id, round(cc, 4) AS cos FROM (
        SELECT p.query_id, a.match_id, {_dd_cosine("qv", "cv", 64)} AS cc
        FROM passign a JOIN probes p
          ON a.bucket = p.bucket AND p.query_id != a.match_id)
      WHERE cc IS NOT NULL),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, match_id ASC) AS rank FROM scored)
    SELECT query_id, match_id, cos, rank FROM r WHERE rank <= 5
    """,
)
def ann_ivf_parallel_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over an index whose centroids come from the k-means||
    trainer (build_ivf_index(centroid_mode="kmeans_parallel")) — the
    build that still works when num_centroids reaches the 10⁴-10⁵
    production range.  Same self-contained scratch-dir build as the
    Lloyd-trained variant; the whole pipeline (oversampling, weighting,
    weighted refine, posting assignment, probe, rank) is deterministic,
    so the composed result is value-hash verified."""
    import tempfile

    from ..operators.similarity import build_ivf_index, ivf_topk_from_index

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_par_")
    build_ivf_index(
        emb, path, num_centroids=8, centroid_mode="kmeans_parallel", dim=64
    )
    return ivf_topk_from_index(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, nprobe=3
    )


@query(
    "semdedup_prune_embeddings",
    # oracle composes the from-scratch k-means CTEs with the same
    # within-cluster cosine prune (order-exact folds → bit-identical
    # cosines → identical keep decisions)
    oracle=f"""
    {_dd_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM)},
    av AS (SELECT vec_id, cid, v FROM a{_KMEANS_ITERS}),
    pruned AS (
      SELECT DISTINCT y.vec_id
      FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE {_dd_cosine("x.v", "y.v", _KMEANS_DIM)} >= 0.25)
    SELECT a.vec_id, a.cid AS cluster,
           (p.vec_id IS NULL) AS keep
    FROM av a LEFT JOIN pruned p USING (vec_id)
    """,
)
def semdedup_prune_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (k=8 Lloyd clusters, then
    within-cluster cosine ≥ 0.25 keep-first prune) — the
    cluster-then-curate composition the k-means operator exists for.
    Pairs exist only within clusters, so the prune join shuffles once
    on the cluster key; see operators/cluster.semdedup_prune for the
    skew story."""
    from ..operators.cluster import semdedup_prune

    emb = _emb(spark, sf_dir)
    return semdedup_prune(
        emb, k=_KMEANS_K, iters=_KMEANS_ITERS, dim=_KMEANS_DIM, tau=0.25
    )


def _ngram_strings(text_col: str, n: int):
    """Non-distinct word n-grams as strings (repetition analysis needs
    multiplicity, unlike dedup shingles)."""
    toks = TX.tokens(text_col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "text_repetition_signals",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g2 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) x),
    c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
    s2 AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
           FROM c2 GROUP BY 1),
    g3 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) x),
    c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
    s3 AS (SELECT doc_id,
                  round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
                    AS dup_trigram_frac
           FROM c3 GROUP BY 1)
    SELECT s2.doc_id, top_bigram_frac, dup_trigram_frac
    FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: most-frequent-bigram mass
    and duplicated-trigram mass per document.  Shape: explode n-grams →
    two map-side-combined aggregations (per (doc, gram), then per doc) —
    both shuffles are on keys, nothing is quadratic, and the gram counts
    shrink to one row per doc before the join."""
    d = _docs(spark, sf_dir)
    g2 = d.select("doc_id", F.explode(_ngram_strings("text", 2)).alias("g"))
    s2 = (
        g2.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"))
    )
    g3 = d.select("doc_id", F.explode(_ngram_strings("text", 3)).alias("g"))
    s3 = (
        g3.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"), 6
            ).alias("dup_trigram_frac")
        )
    )
    return s2.join(s3, "doc_id").select("doc_id", "top_bigram_frac", "dup_trigram_frac")


@query(
    "quality_filter_verdicts",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n,
             round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS ttr,
             round(len(list_filter(toks, x -> list_contains(
                 {TX.STOPWORDS!r}::VARCHAR[], x))) * 1.0 / len(toks), 6) AS stop_ratio
      FROM t
    )
    SELECT doc_id, n AS n_tokens, ttr, stop_ratio,
           concat_ws(',',
             CASE WHEN n < 30 THEN 'too_short' END,
             CASE WHEN ttr < 0.4 THEN 'low_diversity' END,
             CASE WHEN stop_ratio > 0.35 THEN 'stopword_heavy' END
           ) AS reasons,
           (n >= 30 AND ttr >= 0.4 AND stop_ratio <= 0.35) AS keep
    FROM s
    """,
)
def quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style document filter: deterministic per-row rules over
    cheap lexical signals, emitting keep + comma-joined reasons — one
    codegen projection, no shuffle, trivially 100 TB-safe."""
    d = _docs(spark, sf_dir)
    n = TX.token_count("text")
    ttr = TX.type_token_ratio("text")
    stop = TX.stopword_ratio("text")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        ttr.alias("ttr"),
        stop.alias("stop_ratio"),
        F.concat_ws(
            ",",
            F.when(n < 30, "too_short"),
            F.when(ttr < 0.4, "low_diversity"),
            F.when(stop > 0.35, "stopword_heavy"),
        ).alias("reasons"),
        ((n >= 30) & (ttr >= 0.4) & (stop <= 0.35)).alias("keep"),
    )


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g5 AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  || ' ' || toks[i+3] || ' ' || toks[i+4] AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) x),
    bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id < 20),
    corpus AS (SELECT doc_id, g FROM g5 WHERE doc_id >= 20),
    sizes AS (SELECT doc_id, count(*) AS n FROM corpus GROUP BY 1),
    hits AS (SELECT c.doc_id, count(*) AS n_hits
             FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1)
    SELECT h.doc_id, n_hits, round(n_hits * 1.0 / s.n, 6) AS contaminated_frac
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing 5-gram
    spans with a benchmark set (here: doc_id < 20 stands in for the
    benchmark suite).  Scale shape: the benchmark's distinct n-gram set
    is SMALL → broadcast to the corpus-side inverted index; the corpus
    never self-joins and never shuffles beyond its per-doc aggregation."""
    from ..operators.dedup import shingle_sets

    d = _docs(spark, sf_dir)
    g5 = shingle_sets(d, "text", "doc_id", k=5)
    bench = g5.where(F.col("doc") < 20).select("shingle").distinct()
    corpus = g5.where(F.col("doc") >= 20)
    sizes = corpus.groupBy("doc").agg(F.count("*").alias("n"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        hits.join(sizes, "doc")
        .select(
            F.col("doc").alias("doc_id"),
            "n_hits",
            F.round(F.col("n_hits") / F.col("n"), 6).alias("contaminated_frac"),
        )
    )


@query(
    "llm_prep_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    quality AS (
      SELECT doc_id, text FROM t
      WHERE len(toks) >= 30
        AND round(len(list_distinct(toks)) * 1.0 / len(toks), 6) >= 0.4
    ),
    deduped AS (
      SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    split AS (
      SELECT d.doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 100 < 10
                  THEN 'test' ELSE 'train' END AS split
      FROM deduped d
    )
    SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM split GROUP BY split
    """,
)
def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep COMPOSITION: quality filter → exact
    dedup (keep lowest id per content hash) → deterministic content-
    addressed split, summarized per split.  One pipeline, three of the
    engine's stages chained — Catalyst fuses the filter into the scan,
    the dedup is one hash-shuffle with map-side combine, the split is a
    pure projection; nothing materializes between stages."""
    from ..functions import text as _TX
    from .sampling import train_test_split

    d = _docs(spark, sf_dir)
    quality = d.where(
        (_TX.token_count("text") >= 30) & (_TX.type_token_ratio("text") >= 0.4)
    )
    deduped = (
        quality.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        train_test_split(deduped, "doc_id", test_pct=10)
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


# shared oracle for BOTH connected-components implementations: the same
# recursive-CTE transitive closure over the exact-Jaccard pair set
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE sh AS ({_SHINGLES}),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    shared AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM shared
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc, min(b) AS cluster_id FROM reach GROUP BY a
    """


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → connected components → cluster ids (keep the
    min-id doc per cluster, drop the rest).  Spark side: iterative
    min-label propagation over the LSH-verified pair graph; oracle side:
    recursive-CTE transitive closure over the identical pair set."""
    from ..operators.dedup import dup_clusters

    pairs = minhash_lsh_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold=0.8, num_hashes=24, bands=6
    )
    return dup_clusters(pairs)


@query("dedup_clusters_star", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components, different algorithm: alternating large-star /
    small-star contraction (Kiveris et al.) — O(log diameter) rounds on
    any topology vs min-label propagation's O(diameter), the published
    scale path for web-graph-sized pair sets.  Must hash-match the same
    recursive-CTE oracle as `dedup_clusters`, proving both
    implementations compute identical components."""
    from ..operators.dedup import dup_clusters_star

    pairs = minhash_lsh_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold=0.8, num_hashes=24, bands=6
    )
    return dup_clusters_star(pairs)


# shared oracle core for substring-level span dedup: dup 8-grams → hit
# windows → merged disjoint intervals per doc (same interval-merge
# construction as the Spark side, re-derived in SQL from raw gram strings)
_SPAN_IV = """
    b AS (SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS nt
          FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS s, i + 6 AS e,
             array_to_string(toks[i:i+7], ' ') AS gram
      FROM b, LATERAL (SELECT unnest(generate_series(1, nt - 7)) AS i) x
      WHERE nt >= 8
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    h AS (SELECT doc_id, s, e FROM g WHERE gram IN (SELECT gram FROM dup)),
    m AS (SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS nw
          FROM h),
    sp AS (SELECT doc_id, s, e,
                  sum(nw) OVER (PARTITION BY doc_id ORDER BY s) AS gid
           FROM m),
    iv AS (SELECT doc_id, gid, min(s) AS s, max(e) AS e
           FROM sp GROUP BY doc_id, gid)
"""


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH {_SPAN_IV},
    p AS (SELECT doc_id, sum(e - s + 1) AS dup_tokens, count(*) AS n_spans
          FROM iv GROUP BY doc_id)
    SELECT b.doc_id, b.nt::BIGINT AS n_tokens,
           coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
           coalesce(p.n_spans, 0)::BIGINT AS n_spans
    FROM b LEFT JOIN p USING (doc_id)
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate accounting (Lee et al. suffix-array
    dedup, n-gram MapReduce form): per doc, how many token positions sit
    inside a >= 8-token span that occurs >= 2 times corpus-wide, and how
    many disjoint such spans exist.  Reference has no analogue — this is
    the LLM-pipeline operator family (BASELINE.json north star)."""
    return duplicate_span_stats(
        _docs(spark, sf_dir), "text", "doc_id", n=8, min_count=2
    )


@query(
    "dedup_span_removal",
    oracle=f"""
    WITH {_SPAN_IV},
    cov AS (SELECT doc_id, flatten(list(generate_series(s, e))) AS cov
            FROM iv GROUP BY doc_id)
    SELECT b.doc_id,
           -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
           -- concat_ws over an all-null array is ''
           coalesce(array_to_string(
             list_filter(b.toks,
                         (x, i) -> NOT list_contains(coalesce(c.cov, []), i - 1)),
             ' '), '') AS clean_text,
           b.nt::BIGINT AS n_tokens,
           (b.nt - coalesce(len(c.cov), 0))::BIGINT AS clean_tokens
    FROM b LEFT JOIN cov c USING (doc_id)
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The destructive half of span dedup: rewrite every document with
    all duplicated >= 8-token spans removed (all occurrences — the
    deterministic distributed policy; see remove_duplicate_spans).
    Value-hash compares the rewritten TEXTS, so tokenization, interval
    merge, and reconstruction must all agree with the SQL re-derivation
    to pass."""
    return remove_duplicate_spans(
        _docs(spark, sf_dir), "text", "doc_id", n=8, min_count=2
    )


@query(
    "pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             doc_id % 8 AS shard
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS start_chunk,
           CAST(floor((cum - 1) / 2048) AS BIGINT) AS end_chunk
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): documents
    concatenate in deterministic order and split into fixed 2048-token
    chunks; each doc's (start_chunk, end_chunk) says which training
    sequences it lands in.  Packing is SHARD-LOCAL (hash of doc_id):
    the running-sum window partitions by shard, so no global single-task
    window exists and shards pack independently on their own executors —
    the layout real tokenizer pipelines use at corpus scale."""
    from pyspark.sql.window import Window

    max_len = 2048
    d = _docs(spark, sf_dir).select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.pmod("doc_id", F.lit(8)).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.withColumn("cum", F.sum("n_tokens").over(w))
    return c.select(
        "doc_id", "shard", "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / max_len).alias("start_chunk"),
        F.floor((F.col("cum") - 1) / max_len).alias("end_chunk"),
    )


@query(
    "heavy_hitter_tokens",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 20
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters: explode → count → top-20.  The
    aggregation partial-combines map-side (the shuffle carries one row
    per DISTINCT token per partition, not per occurrence) and the final
    ORDER+LIMIT is TakeOrderedAndProject — at 100 TB the vocabulary, not
    the corpus, bounds the shuffle."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


@query(
    "unigram_logprob_quality",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
    lm AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS n_total FROM tok)
    SELECT doc_id,
           round(-sum(dt.c * ln(lm.n * 1.0 / tot.n_total)) / sum(dt.c), 3)
             AS avg_neg_logprob
    FROM dt JOIN lm USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (the CCNet/ccnet-style perplexity filter,
    reduced to a self-trained unigram LM): train token frequencies over
    the corpus, then score each document by its average negative log
    probability — low = stereotypical text, high = rare-token noise;
    training pipelines keep the middle band.

    Scale shape: token explosion is aggregated to (doc, token, count)
    BEFORE the LM join, so the join carries one row per distinct
    doc-token pair (bounded by doc length), not per occurrence; the LM
    itself shuffles once with map-side combine and is vocabulary-sized.
    The corpus-total N is a 1-row broadcast.  No Python in the plan."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    dt = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    lm = tok.groupBy("w").agg(F.count("*").alias("n"))
    tot = tok.agg(F.count("*").alias("n_total"))
    return (
        dt.join(lm, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(F.col("c") * F.log(F.col("n") / F.col("n_total")))
                / F.sum("c"),
                3,
            ).alias("avg_neg_logprob")
        )
    )


@query(
    "mixture_resample_by_source",
    oracle="""
    WITH w AS (
      SELECT * FROM (VALUES ('src0', 2.5), ('src1', 1.0), ('src2', 0.25))
        AS t(source, weight)
    ),
    d AS (
      SELECT doc_id, source, weight,
             CAST(floor(weight) AS BIGINT) AS whole,
             weight - floor(weight) AS frac,
             (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) % 1000) / 1000.0 AS u
      FROM documents JOIN w USING (source)
    )
    SELECT doc_id, source,
           (whole + CASE WHEN u < frac THEN 1 ELSE 0 END) AS copies
    FROM d
    WHERE whole + CASE WHEN u < frac THEN 1 ELSE 0 END > 0
    """,
)
def mixture_resample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (the Pile/LLaMA-style source weighting):
    each source gets a target weight; documents are up/down-sampled to
    ``copies = floor(weight) + Bernoulli(frac(weight))`` with the
    Bernoulli draw DETERMINISTIC (md5 of doc_id — reproducible across
    runs and partitionings, no RNG state).  Downstream, ``copies`` feeds
    an ``explode(sequence(1, copies))`` to physically repeat rows; the
    query returns the per-doc copy count so the oracle can check the
    sampling decision itself exactly.

    Scale shape: the weight table is a broadcast of #sources rows; the
    decision is pure per-row codegen arithmetic — no shuffle at all."""
    d = _docs(spark, sf_dir)
    weights = F.broadcast(
        spark.createDataFrame(
            [("src0", 2.5), ("src1", 1.0), ("src2", 0.25)], ["source", "weight"]
        )
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), 1, 8), 16, 10)
        .cast("long") % 1000
    ) / 1000.0
    copies = (
        F.floor("weight").cast("long")
        + F.when(u < (F.col("weight") - F.floor("weight")), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        d.join(weights, "source")
        .select("doc_id", "source", copies.alias("copies"))
        .where(F.col("copies") > 0)
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    s AS (SELECT vec_id, e,
                 greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
                          1e-12) AS scale
          FROM v),
    q AS (SELECT vec_id, e, scale,
                 list_transform(e, x -> CAST(round(x / scale) AS INT)) AS qv
          FROM s)
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(qv, x -> abs(x))) AS INT) AS q_max,
           round(list_aggregate(
                   list_transform(range(1, len(e) + 1),
                                  i -> pow(e[i] - qv[i] * scale, 2)),
                   'sum') / len(e) * 1e6, 4) AS mse_ppm
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the storage/bandwidth step
    before shipping vectors to an ANN index): per-vector scale =
    max|x|/127, q_i = round(x_i/scale), 4× smaller than float32.  The
    query returns per-vector audit stats — scale, quantized checksum,
    saturation peak (|q|max = 127 by construction), and reconstruction
    MSE in ppm — all exact-matched against the DuckDB oracle, which
    pins down the rounding semantics (HALF_UP away from zero) and the
    IEEE double math on both engines.

    Scale shape: pure per-row codegen arithmetic over the vector —
    no shuffle, no UDF; float32→double widening is exact so the
    cross-engine hash is stable."""
    emb = _emb(spark, sf_dir)
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),
    )
    # try_cast: an Inf element makes scale Inf and Inf/Inf = NaN, which
    # overflows an ANSI int cast — the element degrades to NULL instead
    qv = F.transform(v, lambda x: F.round(x / scale).try_cast("int"))
    # try_divide: an empty embedding has size 0 — NULL mse, not a job kill
    mse = F.try_divide(
        F.aggregate(
            F.zip_with(v, qv, lambda x, q: F.pow(x - q.cast("double") * scale, 2)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        F.size(v),
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_max(F.transform(qv, lambda x: F.abs(x))).alias("q_max"),
        F.round(mse * 1e6, 4).alias("mse_ppm"),
    )


@query(
    "quality_band_filter",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
    lm AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS n_total FROM tok),
    lp AS (
      SELECT doc_id,
             round(-sum(dt.c * ln(lm.n * 1.0 / tot.n_total)) / sum(dt.c), 3)
               AS avg_neg_logprob
      FROM dt JOIN lm USING (w) CROSS JOIN tot
      GROUP BY doc_id
    ),
    band AS (SELECT quantile_cont(avg_neg_logprob, 0.25) AS lo,
                    quantile_cont(avg_neg_logprob, 0.75) AS hi
             FROM lp)
    SELECT doc_id, avg_neg_logprob
    FROM lp CROSS JOIN band
    WHERE avg_neg_logprob >= lo AND avg_neg_logprob <= hi
    """,
)
def quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-the-middle-band step of LM quality filtering (CCNet
    keeps the middle perplexity tertiles; too-low = boilerplate, too-high
    = noise): score each doc with the self-trained unigram LM, then keep
    docs between the corpus P25 and P75.

    The band edges are EXACT interpolated percentiles — a 2-value
    broadcast (1-row agg) against the scored corpus, so the filter is
    one scan + one tiny crossJoin; scores are rounded to 3 decimals
    BEFORE the percentile so both engines interpolate over identical
    multisets and the band membership hashes identically."""
    # materialize the scored corpus once — it feeds BOTH the band agg and
    # the filter, and an unmaterialized plan would run the whole LM
    # pipeline (explode + two shuffles + join) twice.  One row per doc,
    # so the checkpoint is corpus-cardinality small; freed on GC.
    lp = unigram_logprob_quality(spark, sf_dir).localCheckpoint(eager=True)
    band = lp.agg(
        F.percentile("avg_neg_logprob", F.lit(0.25)).alias("lo"),
        F.percentile("avg_neg_logprob", F.lit(0.75)).alias("hi"),
    )
    return (
        lp.crossJoin(F.broadcast(band))
        .where(
            (F.col("avg_neg_logprob") >= F.col("lo"))
            & (F.col("avg_neg_logprob") <= F.col("hi"))
        )
        .select("doc_id", "avg_neg_logprob")
    )


@query(
    "boilerplate_ngram_ratio",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
          FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) x),
    df AS (SELECT g, count(*) AS nd FROM g GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM documents),
    bp AS (SELECT g FROM df, tot WHERE nd >= greatest(CAST(ceil(0.01 * n) AS BIGINT), 2)),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
    hits AS (SELECT doc_id, count(*) AS n_boilerplate
             FROM g JOIN bp USING (g) GROUP BY 1)
    SELECT s.doc_id,
           coalesce(h.n_boilerplate, 0) AS n_boilerplate,
           s.n_grams,
           round(coalesce(h.n_boilerplate, 0) * 1.0 / s.n_grams, 6) AS boilerplate_frac
    FROM sizes s LEFT JOIN hits h USING (doc_id)
    """,
)
def boilerplate_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate signal (C4/RefinedWeb-style): the mass
    of a doc's trigrams that are CORPUS-frequent (appear in >= 1% of
    documents, floor 2) — headers, nav bars, license blurbs.  Distinct
    from ``text_repetition_signals`` (within-doc multiplicity) and
    ``decontaminate_ngram_overlap`` (overlap vs an external set): the
    frequent-gram table here is derived from the corpus itself.

    Scale shape: distinct (doc, gram) → one gram-keyed count (map-side
    combined; doc-distinct grams make count(*) = doc frequency) → the
    threshold survivors are a SMALL set by construction (only grams
    crossing 1% doc frequency) → broadcast back to the per-doc gram
    stream.  No self-join; two shuffles total (gram count, per-doc agg).
    At 100 TB, if the boilerplate set outgrows broadcast, swap the hint
    for a shuffle join on the same plan — the logic is unchanged.
    """
    from ..operators.dedup import shingle_sets

    d = _docs(spark, sf_dir)
    g = shingle_sets(d, "text", "doc_id", k=3)
    n_docs = d.agg(F.count("*").alias("n"))
    thresh = n_docs.select(
        F.greatest(F.ceil(F.lit(0.01) * F.col("n")).cast("long"), F.lit(2).cast("long")).alias("thr")
    )
    df_counts = g.groupBy("shingle").agg(F.count("*").alias("nd"))
    bp = (
        df_counts.crossJoin(F.broadcast(thresh))
        .where(F.col("nd") >= F.col("thr"))
        .select("shingle")
    )
    sizes = g.groupBy("doc").agg(F.count("*").alias("n_grams"))
    hits = g.join(F.broadcast(bp), "shingle").groupBy("doc").agg(
        F.count("*").alias("n_boilerplate")
    )
    return (
        sizes.join(hits, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.coalesce(F.col("n_boilerplate"), F.lit(0).cast("long")).alias(
                "n_boilerplate"
            ),
            "n_grams",
            F.round(
                F.coalesce(F.col("n_boilerplate"), F.lit(0)) / F.col("n_grams"), 6
            ).alias("boilerplate_frac"),
        )
    )


# PII patterns shared by the Spark plan and the DuckDB oracle — written in
# the common subset of Java regex and RE2 (no lookaround, no backrefs), so
# both engines compile them identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?\d[\d-]{7,}\d"
_PII_IP = r"\b(\d{1,3}\.){3}\d{1,3}\b"


@query(
    "pii_redaction",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 > 0
                  THEN 'contact user' || CAST(doc_id AS VARCHAR) || '@example.com '
                  ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                  THEN 'tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
                  ELSE '' END
             || 'ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
             || CAST((doc_id * 7) % 256 AS VARCHAR) || ' ' || text AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(s, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(s, '{_PII_IP}')) AS BIGINT) AS n_ips,
           substr(regexp_replace(regexp_replace(regexp_replace(
                    s, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                    '{_PII_PHONE}', '<PHONE>', 'g'),
                    '{_PII_IP}', '<IP>', 'g'), 1, 60) AS redacted_head
    FROM raw
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + masking — the scrub step every training-data
    pipeline runs before tokenization.  The synthetic corpus carries no
    PII, so the query deterministically injects email/phone/IP spans
    (derived from doc_id, identically in both engines) and then detects
    and redacts them, proving the regex semantics match end-to-end.

    Scale shape: pure per-row codegen expressions (regexp_count /
    regexp_replace) — no shuffle, no UDF; on a real corpus this runs at
    scan speed and composes with ``quality_filter_verdicts``.
    """
    d = _docs(spark, sf_dir)
    s = (
        F.concat(
            F.when(
                F.col("doc_id") % 3 > 0,
                F.concat(
                    F.lit("contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com "),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("tel +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" "),
                ),
            ).otherwise(F.lit("")),
            F.lit("ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            # reduce mod-256 BEFORE the ×7: (a·7) mod 256 ≡ ((a mod 256)·7)
            # mod 256, and the pre-reduced form cannot overflow a long on
            # an extreme doc_id under ANSI
            ((F.col("doc_id") % 256) * 7 % 256).cast("string"),
            F.lit(" "),
            F.col("text"),
        )
    ).alias("s")
    raw = d.select("doc_id", s)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )
    return raw.select(
        "doc_id",
        F.regexp_count(F.col("s"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("s"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("s"), F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.substring(red, 1, 60).alias("redacted_head"),
    )


@query(
    "bigram_logprob_quality",
    # Summation order differs between engines, so the per-doc average is
    # rounded to 3 decimals like unigram_logprob_quality (sums of a few
    # hundred ln() terms agree far past that precision).
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) x
           WHERE len(toks) >= 2),
    n2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY 1),
    h1 AS (SELECT w1, count(*) AS ch FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS vocab
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
    p AS (SELECT bg.doc_id,
                 ln((n2.c2 + 0.5) / (h1.ch + 0.5 * v.vocab)) AS lp
          FROM bg JOIN n2 USING (g) JOIN h1 USING (w1) CROSS JOIN v)
    SELECT doc_id, round(-sum(lp) / count(*), 3) AS avg_neg_bigram_logprob
    FROM p GROUP BY doc_id
    """,
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score (add-k smoothed, k=0.5):
    average negative log P(w_i | w_{i-1}) per document, where the
    conditional is estimated from the corpus itself — the next step up
    from ``unigram_logprob_quality`` (word-order-aware: scrambled or
    template-stitched text scores worse than natural text with the same
    unigram mix).  History counts use bigram-start occurrences (not raw
    unigram counts), so probabilities sum to 1 over the vocabulary per
    history; docs with < 2 tokens have no bigrams and are excluded.

    Scale shape: the bigram explode is linear in corpus tokens; both
    count tables key-shuffle with map-side combine; vocab joins in as a
    broadcast 1-row aggregate; the per-doc score is one final keyed agg.
    Nothing holds the vocab² conditional table — only observed bigrams
    materialize."""
    d = _docs(spark, sf_dir)
    bg = (
        d.select("doc_id", F.explode(_ngram_strings("text", 2)).alias("g"))
        .withColumn("w1", F.substring_index("g", " ", 1))
    )
    n2 = bg.groupBy("g").agg(F.count("*").alias("c2"))
    h1 = bg.groupBy("w1").agg(F.count("*").alias("ch"))
    v = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    lp = F.log(
        (F.col("c2") + 0.5) / (F.col("ch") + 0.5 * F.col("vocab"))
    )
    return (
        bg.join(n2, "g")
        .join(h1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(-F.sum(lp) / F.count("*"), 3).alias("avg_neg_bigram_logprob")
        )
    )


def compression_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style compressibility quality signal: zlib bytes-in /
    bytes-out per document.  Highly repetitive or templated text
    compresses far better than natural prose, so a high ratio flags
    boilerplate and degenerate generations that n-gram repetition
    signals can miss (long-range repeats beyond any fixed n).

    Execution is the DECLARED Python boundary done right: mapInPandas
    (Arrow-batched columnar transfer, zlib's C loop per value) — a map
    with no shuffle, scaling linearly with corpus bytes, never a
    row-at-a-time Python UDF.  Returns (doc_id, n_bytes, n_compressed,
    compression_ratio); semantic checks (repetitive >> natural >>
    random-ish ordering, determinism) live in pytest."""
    import zlib

    import pandas as pd

    # NULL text can't be compressed and a NULL id can't be emitted as a
    # long (pandas widens the id column to float64); drop both JVM-side
    d = (
        docs.select("doc_id", "text")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )

    def gen(batches):
        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            nb = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "n_compressed": comp,
                    "compression_ratio": [
                        round(a / c, 6) if c else 0.0 for a, c in zip(nb, comp)
                    ],
                }
            )

    return d.mapInPandas(
        gen,
        "doc_id long, n_bytes long, n_compressed long, compression_ratio double",
    )


@query(
    "text_compression_ratio",
    # zlib itself is not SQL-expressible, so — like `percentiles_approx`
    # and `approx_distinct_parts` — the gate query hashes the exact
    # SQL-computable value (utf-8 byte length) plus the CONTRACT the
    # zlib stage must satisfy, instead of registering rows-only.
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           TRUE AS compression_contract_ok
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
    """,
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-quality contract over :func:`compression_stats`.

    `n_bytes` is a real value comparison (DuckDB recomputes the utf-8
    byte length); `compression_contract_ok` asserts the deflate-format
    bounds — 8 ≤ n_compressed ≤ n_bytes + 64 (zlib worst case is ~5
    bytes per 16 KiB stored block + 6 bytes header/trailer; the empty
    string compresses to 8 bytes) — and that the reported ratio is
    n_bytes/n_compressed to within rounding.  A broken or absent
    compression stage hash-fails; the ordering semantics live in pytest
    (`test_compression_ratio_orders_repetitive_above_natural`), and the
    raw per-doc ratio comes from :func:`compression_stats`."""
    s = compression_stats(_docs(spark, sf_dir))
    ratio_consistent = (
        F.abs(
            F.col("compression_ratio")
            - F.coalesce(
                F.try_divide(F.col("n_bytes"), F.col("n_compressed")), F.lit(0.0)
            )
        )
        < F.lit(1e-6)
    )
    return s.select(
        "doc_id",
        "n_bytes",
        (
            (F.col("n_compressed") >= 8)
            & (F.col("n_compressed") <= F.col("n_bytes") + 64)
            & ratio_consistent
        ).alias("compression_contract_ok"),
    )


@query(
    "dedup_cluster_sizes",
    # a CTE may carry its own WITH RECURSIVE in DuckDB, so the shared
    # component oracle embeds verbatim
    oracle=f"""
    WITH comp AS ({_CLUSTERS_ORACLE})
    SELECT n_docs, count(*) AS n_clusters
    FROM (SELECT cluster_id, count(*) AS n_docs FROM comp GROUP BY 1)
    GROUP BY 1
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution — the curation summary number
    ('how much of the corpus is duplicated, and in how big clumps') a
    dedup report leads with.  Two keyed counts over the component
    labels; the oracle re-derives components via the shared
    recursive-CTE closure."""
    from ..operators.dedup import dup_clusters_star

    pairs = minhash_lsh_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold=0.8, num_hashes=24, bands=6
    )
    return (
        dup_clusters_star(pairs)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .groupBy("n_docs")
        .agg(F.count("*").alias("n_clusters"))
    )


# ------------------------------------------------------------- BPE tokens
def _dd_bpe_word_count(w_expr: str, merges) -> str:
    """DuckDB expression for ONE word's BPE token count — the exact
    replace-chain the Spark expression path runs (functions/text.py
    ``_bpe_word_token_count``): charify with chr(31) separators, apply
    every merge in rank order as a LITERAL replace (same left-to-right
    non-overlapping scan in both engines), count survivors."""
    x = f"regexp_replace({w_expr}, '(.)', chr(31) || '\\1', 'g')"
    for a, b in merges:
        x = (
            f"replace({x}, chr(31)||'{a}'||chr(31)||'{b}',"
            f" chr(31)||'{a}{b}')"
        )
    return f"(length({x}) - length(replace({x}, chr(31), '')))"


_BPE_ORACLE_WORD = _dd_bpe_word_count("w", TX.DEFAULT_BPE_MERGES)


@query(
    "token_count_bpe",
    # full value-hash oracle: DuckDB re-runs the merge chain per word.
    # BOTH Spark paths — the codegen replace-chain expression AND the
    # classic lowest-rank-pair-first encoder in the Arrow UDF — must
    # land on this same number, so the gate also verifies the
    # rank-order/priority-order BPE equivalence the expression path
    # relies on.
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
           COALESCE(list_aggregate(list_transform(
               regexp_extract_all(lower(text), '[a-z]+'),
               w -> {_BPE_ORACLE_WORD}), 'sum'), 0) AS n_bpe,
           COALESCE(list_aggregate(list_transform(
               regexp_extract_all(lower(text), '[a-z]+'),
               w -> {_BPE_ORACLE_WORD}), 'sum'), 0) AS n_bpe_udf
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE token counts over the documents table — the
    tokenizer-budget signal shard packing and quality gates need (the
    whitespace/regex counts in text_stats underestimate subword
    budgets).  Emits the count twice: ``n_bpe`` from the JVM
    expression path (rank-order literal replaces, whole-stage codegen
    — zero Python in the hot loop) and ``n_bpe_udf`` from the
    Arrow-batched classic BPE encoder (the real-vocabulary scale path,
    memoized per distinct word).  Scale shape: one scan, no shuffle;
    the expression path is the default in quality gates
    (``token_budget_mode: bpe``), the UDF path takes arbitrary merge
    tables.  See functions/text.py for the equivalence argument."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(TX._bpe_words("text")).alias("n_words"),
        TX.bpe_token_count("text").alias("n_bpe"),
        TX.bpe_token_count_udf()(F.col("text")).alias("n_bpe_udf"),
    )


@query(
    "ann_bruteforce_vectorized_top5",
    # SAME oracle as ann_bruteforce_top5: the vectorized (numpy GEMM)
    # scoring path must land on the identical rounded top-k — the
    # driver gate hash-verifies the fold/GEMM equivalence on real data
    # (summation-order ulps collapse under the 4-decimal rounding; the
    # residual rounding-boundary collision class is documented in
    # operators/dense.py and asserted empty on these corpora in
    # tests/test_dense.py)
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, match_id,
             round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 4) AS cos
      FROM q JOIN c ON query_id != match_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, match_id ASC) AS rank FROM scored)
    SELECT query_id, match_id, cos, rank FROM r WHERE rank <= 5
    """,
)
def ann_bruteforce_vectorized_top5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact cosine top-5 through the VECTORIZED dense-math path
    (operators/dense.brute_force_topk_vectorized): scores as one
    batch×queries numpy GEMM per Arrow chunk with per-partition
    threshold pruning, instead of interpreted zip_with/aggregate folds
    — measured 50× per-core over the fold path at 4M pairs
    (tools/ab_dense.py), the engine's 100 TB arithmetic lever.  The
    fold path (ann_bruteforce_top5) stays the default/oracle mode."""
    emb = _emb(spark, sf_dir)
    return brute_force_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5,
        numeric_mode="vectorized",
    )


@query(
    "kmeans_vectorized_assign",
    # SAME oracle as kmeans_embeddings_assign: GEMM distances (expanded
    # |v|²−2v·c+|c|² with exact recompute of non-finite rows/cols) must
    # reproduce the fold path's every label and 4-decimal distance
    oracle=f"""
    {_dd_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM)}
    SELECT vec_id, cid AS cluster, round(dist, 4) AS dist_r
    FROM a{_KMEANS_ITERS}
    """,
)
def kmeans_vectorized_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means with the VECTORIZED assignment stage (one numpy
    GEMM per Arrow batch, dense.assign_argmin_vectorized) — same
    labels/distances as the fold mode, verified against the from-scratch
    DuckDB Lloyd re-run.  One bounded k×dim centroid collect per
    iteration (the table the fold path broadcasts)."""
    from ..operators.cluster import kmeans_embeddings

    emb = _emb(spark, sf_dir)
    a = kmeans_embeddings(
        emb, k=_KMEANS_K, iters=_KMEANS_ITERS, dim=_KMEANS_DIM,
        numeric_mode="vectorized",
    )
    return a.select(
        "vec_id", "cluster", F.round("dist", 4).alias("dist_r")
    )
