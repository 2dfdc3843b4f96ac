"""Deduplication operators for LLM training-data pipelines.

Five dedup families (north star: BASELINE.json), each expressed as
composable DataFrame plans — no Python UDFs anywhere in the hot path:

- exact        content-hash groupBy (linear, one shuffle on the hash)
- n-gram Jaccard   shingle inverted-index join + exact verification
- MinHash LSH  signature → band buckets → candidates → exact verification
- SimHash      per-row 60-bit sketch → hamming-distance pairing
- embedding    cosine-similarity pairing over `array<float>` vectors

Scale design: exact jaccard on all pairs is O(n²) and exists here as the
verification step only; candidate GENERATION is what changes with scale —
shared-shingle inverted index (`jaccard_dup_pairs`) for mid scale, MinHash
band buckets (`minhash_lsh_dup_pairs`) for 100 TB (candidates per doc are
O(#band collisions), independent of corpus size; each stage is a plain
shuffle-on-key the optimizer can plan).  Everything that reaches OUTPUT
(content hashes, jaccard values, simhash sketches) uses engine-portable
hashing (md5-derived, functions.text.md5_long); internal acceleration
structures (minhash signatures) use JVM-native xxhash64 — deterministic
across runs and partitionings, which is all they need.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fs import ConcurrentStoreWriterError, _StoreFS  # noqa: F401
from ..functions.text import md5_long, simhash60_from_hashes, token_hashes, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: canonical content hash, keep the lowest id per group.

    Returns (keep_id, n_dups, content_hash).  One hash-shuffle; with
    map-side combine the shuffle carries one row per distinct document.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct word-k-gram shingles per document: (id, shingle).

    Built with higher-order array functions (transform over a sequence of
    offsets) then exploded — stays in codegen until the explode.
    """
    toks = tokens(text_col)
    shingles = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array())  # guard: Spark sequence(0, negative) would descend
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def _pair_jaccard(sh: DataFrame) -> DataFrame:
    """Exact Jaccard for every pair sharing ≥1 shingle (inverted-index join)."""
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            # denominator ≥ 1 by construction (shared ≥ 1 from the join,
            # so both sizes ≥ 1); try_divide keeps the no-bare-`/` rule
            # auditable across operators/ under ANSI mode
            F.try_divide(
                F.col("shared"),
                F.col("sa.n") + F.col("sb.n") - F.col("shared"),
            ).alias("jaccard"),
        )
    )


def jaccard_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8, k: int = 3
) -> DataFrame:
    """n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard ≥ threshold).

    Candidate generation = shared-shingle inverted index; a pair with zero
    common shingles is never materialized.  For 100 TB prefer
    :func:`minhash_lsh_dup_pairs`, which bounds candidates per band bucket.
    """
    sh = shingle_sets(df, text_col, id_col, k)
    return (
        _pair_jaccard(sh)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _q(name: str) -> str:
    """A column name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _token_hashes_sql(text_col: str) -> str:
    return f"transform(split({_q(text_col)}, ' '), x -> xxhash64(x)) AS _th"


def _shingle_hashes_sql(k: int) -> str:
    parts = ", ".join(f"element_at(_th, i + {j + 1})" for j in range(k))
    return (
        f"CASE WHEN size(_th) >= {k} "
        f"THEN transform(sequence(0, size(_th) - {k}), i -> xxhash64({parts})) "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END AS shs"
    )


def shingle_hash_arrays(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(doc, shs): per-row array of k-gram shingle hashes.

    Tokens are hashed ONCE (one xxhash64 per token), then each shingle
    hash is a fixed-width ``xxhash64(h_i, …, h_{i+k-1})`` combine of k
    consecutive token hashes — no per-shingle string slicing/concat,
    which profiling showed dominated signature cost (~5 µs/shingle for
    slice+concat_ws+hash vs ~1 µs for the integer combine).  The token-
    hash array is materialized as its own projection on purpose:
    inlining it into the shingle lambda would re-evaluate the whole
    inner transform per element access (O(L²) per row — measured 17×
    slower); Catalyst's CollapseProject keeps multi-referenced non-cheap
    projections staged, preserving the O(L) shape.

    No shingle dedup — downstream MIN-aggregation is insensitive to
    duplicate shingles, and skipping array_distinct is measurably faster.
    SQL text, as in :func:`minhash_signatures`.
    """
    return df.selectExpr(f"{_q(id_col)} AS doc", _token_hashes_sql(text_col)).selectExpr(
        "doc", _shingle_hashes_sql(k)
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 32, k: int = 3
) -> DataFrame:
    """(doc, h0..h{n-1}): one-permutation-hashing (OPH) MinHash signature
    matrix, one row per document — computed entirely PER ROW, no shuffle.

    OPH (Li/Owen/Zhang 2012): hash each shingle ONCE (inside
    :func:`shingle_hash_arrays`) and partition the 64-bit hash space into
    ``num_hashes`` buckets; signature slot i = min shingle-hash landing
    in bucket i, here ``array_min(filter(shs, s -> pmod(s, m) = i))``
    over the row's shingle array.  The earlier formulation exploded the
    shingle arrays and MIN-aggregated 5M rows through a hash shuffle;
    row-wise HOFs keep the whole signature inside the scan stage —
    embarrassingly parallel, zero exchange — which is both the local win
    (2.2 s → 0.75 s at sf0.1) and the 100 TB shape: signing a corpus is
    a map, not an aggregation.

    Empty buckets (short documents) are ROTATION-densified (Shrivastava
    2017): slot i borrows the nearest non-empty bucket's min going
    right (circular) — itself a real minhash of the document, so the
    per-slot collision probability stays ≈ J even when most buckets are
    empty.  A content-derived fill (``xxhash64(i, global_min)``) was
    measurably worse here: for a short near-dup pair whose global
    min-hash differs (probability 1−J), EVERY fill slot differed at
    once, and recall collapsed exactly for short borderline documents —
    at sf0.1 that lost 5 of 256 true J≥0.8 pairs, all with ≤31 tokens.
    No per-slot salt: a spurious borrow collision only costs a candidate
    that exact verification rejects, while a salt would break near-dup
    fills whenever emptiness patterns differ by one bucket.  Signatures
    are an internal acceleration structure — dedup OUTPUT is
    exact-Jaccard-verified, so only determinism and collision statistics
    matter.  (All-empty docs fall through to a constant per-slot fill —
    zero-shingle docs can never verify anyway.)

    Slot extraction is GENERATED SQL, not Column objects (a Column-tree
    formulation costs thousands of py4j round-trips of driver time per
    call; selectExpr strings parse JVM-side in one hop).
    """
    slots, fills = _signature_sql(num_hashes)
    shs = shingle_hash_arrays(df, text_col, id_col, k)
    return shs.selectExpr("doc", *slots).selectExpr("doc", *fills)


def _signature_sql(m: int) -> tuple[list[str], list[str]]:
    """The slot (``r{i}`` from ``shs``) and densified fill (``h{i}``)
    select items of an ``m``-slot signature."""
    slots = [f"array_min(filter(shs, s -> pmod(s, {m}) = {i})) as r{i}" for i in range(m)]
    fills = [
        "coalesce("
        + ", ".join(f"r{(i + j) % m}" for j in range(m))
        + f", xxhash64({i}L)) as h{i}"
        for i in range(m)
    ]
    return slots, fills


def with_minhash_signature(
    df: DataFrame, text_col: str, num_hashes: int = 32, k: int = 3
) -> DataFrame:
    """``df``'s own columns plus ``h0..h{n-1}``, the
    :func:`minhash_signatures` of each row — a lazy map.  ``df``'s
    columns ride through the staged projections packed in one struct
    (``_in``), so no name of ``df`` can meet a staging column."""
    slots, fills = _signature_sql(num_hashes)
    return (
        df.selectExpr("struct(*) AS _in", _token_hashes_sql(text_col))
        .selectExpr("_in", _shingle_hashes_sql(k))
        .selectExpr("_in", *slots)
        .selectExpr("_in.*", *fills)
    )


def _bucket_pair_expr(star_bucket_threshold: int | None) -> str:
    """selectExpr string expanding a bucket's sorted doc list into
    candidate (doc_a, doc_b) pairs: exhaustive i<j pairs, or — above
    ``star_bucket_threshold`` — star pairs anchored at the bucket min
    (O(n) instead of O(n²); see :func:`minhash_lsh_dup_pairs`).

    NB: element access ds[i] is 0-BASED in Spark SQL while slice() is
    1-based — doc_a is element i, its partners are elements i+1..n-1.
    """
    all_pairs = """flatten(transform(sequence(0, size(ds)-2),
                i -> transform(slice(ds, i+2, size(ds)-i-1),
                               x -> struct(ds[i] as doc_a, x as doc_b))))"""
    star_pairs = """transform(slice(ds, 2, size(ds)-1),
                              x -> struct(ds[0] as doc_a, x as doc_b))"""
    if star_bucket_threshold is None:
        pair_expr = f"explode({all_pairs}) as p"
    else:
        pair_expr = (
            f"explode(CASE WHEN size(ds) > {int(star_bucket_threshold)} "
            f"THEN {star_pairs} ELSE {all_pairs} END) as p"
        )
    return pair_expr.replace("ds", "array_sort(docs)")


def minhash_lsh_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 24,
    bands: int = 6,
    k: int = 3,
    star_bucket_threshold: int = 1024,
    broadcast_verify_threshold: int = 1_000_000,
) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification.

    rows-per-band = num_hashes/bands (r=4, b=6 default → J=0.8 pairs
    collide in ≥1 band with P ≈ 0.996; J=0.97 with P ≈ 1-6e-7).
    Verification makes precision exact; banding only bounds the candidate
    set, which is the property that survives 100×/1000× scale-up.

    ``star_bucket_threshold`` guards the one quadratic hazard left: a
    bucket of n near-identical documents (web boilerplate, mirrored
    pages) expands to n(n−1)/2 pairs — 100k copies means 5e9 pairs out
    of one bucket.  Buckets larger than the threshold emit STAR pairs
    instead (bucket-min vs each other doc, O(n)): every member is still
    detected as a duplicate of the bucket min, and
    :func:`dup_clusters`-style grouping recovers the full clique, but
    the pair LIST omits non-min pairs within oversized buckets — the
    standard recall/cost trade for survivor-set dedup.  The default
    (1024) caps any bucket's fan-out at ~0.5M pairs; pass ``None`` for
    strict all-pairs semantics.
    """
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k)
    # band keys: hash-combine the band's r minhashes to ONE long, then
    # unpivot to (doc, band, band_key) — stack() is a zero-shuffle
    # generator.  The 8-byte key (vs the earlier ~80-char decimal concat)
    # shrinks the bucket shuffle ~6×; a cross-signature xxhash64
    # collision (≈ rows²/2⁶⁵ ≈ 1e-9 at 300k band rows) only creates a
    # spurious candidate that exact verification rejects.
    band_cols = [
        f"xxhash64({', '.join(f'h{b * r + j}' for j in range(r))}) AS band{b}"
        for b in range(bands)
    ]
    stack_expr = (
        f"stack({bands}, "
        + ", ".join(f"{b}, band{b}" for b in range(bands))
        + ") as (band, band_key)"
    )
    band_keys = sig.selectExpr("doc", *band_cols).selectExpr("doc", stack_expr)
    # candidate pairs by BUCKET EXPANSION, not a band self-join: group the
    # band keys into buckets and explode each bucket's doc list into its
    # i<j pairs.  ONE key-shuffle total (a self-join shuffles both sides
    # and needs the signature pipeline materialized up front to avoid
    # double computation); bucket sizes — hence per-task pair fan-out —
    # are bounded by the banding construction, which is the property that
    # survives 100×.  The tiny per-bucket pair expansion runs as an
    # (interpreted) nested HOF over arrays of a few doc ids.
    buckets = (
        band_keys.groupBy("band", "band_key")
        .agg(F.collect_list("doc").alias("docs"))
        .where(F.size("docs") > 1)
    )
    # consumed by TWO broadcast joins below; each broadcast plans as its
    # own job, so an unmaterialized plan would recompute the whole
    # signature pipeline per consumer.  Eager localCheckpoint
    # materializes exactly once, truncates lineage, and is freed on
    # DataFrame GC (a bare cache() would accumulate executor storage
    # across calls in a long-lived poll-loop driver).  No driver
    # collect: stays distributed.
    candidates, n_candidates = pin_counted(
        buckets.selectExpr(_bucket_pair_expr(star_bucket_threshold))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # verify ONLY candidate docs: restrict the CORPUS before shingling,
    # and verify over per-doc DISTINCT shingle-HASH sets with
    # array_intersect/array_union — equal to string-shingle Jaccard up
    # to an xxhash64 collision (≈ |shingles|²/2⁶⁵ per doc, irrelevant),
    # and two codegen'd broadcast joins instead of the earlier
    # inverted-index self-join + three shuffled aggregations (which cost
    # >1 s of fixed stage overhead to verify a few hundred pairs;
    # measured 1.99 s → 1.2 s for the whole operator at sf0.1)
    # broadcast the candidate neighborhood only while it is actually
    # small: a pathological corpus (everything near-identical) can make
    # the candidate set a large fraction of the input, and force-
    # broadcasting that OOMs the driver/executors at scale.  The count
    # comes from the pin's own job (pin_counted); above the threshold
    # the hints are dropped and AQE picks the join strategy (shuffle, or
    # its own broadcast if the runtime sizes allow).  Output is
    # identical either way — the hint only changes the physical plan.
    hint = (
        F.broadcast
        if n_candidates <= broadcast_verify_threshold
        else (lambda d: d)
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .union(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    df_cand = df.join(hint(cand_ids), id_col, "left_semi")
    # small by construction (candidate neighborhood only), joined twice
    # below — materialize once
    sets = (
        shingle_hash_arrays(df_cand, text_col, id_col, k)
        .select("doc", F.array_distinct("shs").alias("sset"))
        .withColumn("_n", F.size("sset"))
        .localCheckpoint(eager=True)
    )
    a = sets.select(
        F.col("doc").alias("doc_a"), F.col("sset").alias("_sa"),
        F.col("_n").alias("_na"),
    )
    b = sets.select(
        F.col("doc").alias("doc_b"), F.col("sset").alias("_sb"),
        F.col("_n").alias("_nb"),
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    # |A ∪ B| = |A| + |B| − |A ∩ B| exactly (the arrays are distinct
    # sets), with the set sizes precomputed per DOC — so the pair
    # predicate walks one array pass (intersect) instead of two.
    #
    # The intersect is computed ONCE per pair, in the partial aggregate
    # below.  Filtering the joined rows directly would let predicate
    # pushdown clone the expression into the join condition AND keep it
    # in the projection above (4 array walks per pair in the measured
    # plan); a filter on an aggregate output cannot be pushed below the
    # aggregate, and the per-pair groupBy is exact because candidate
    # pairs are distinct and each side's sets are keyed by unique doc id
    # (first() over a single-row group).  The exchange this adds carries
    # three ints per candidate pair — noise next to the array walks it
    # removes.
    scored = (
        candidates.join(hint(a), "doc_a")
        .join(hint(b), "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(inter).alias("_i"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
    )
    union = F.col("_na") + F.col("_nb") - F.col("_i")
    # 0-shingle docs: try_divide(0, 0) -> NULL -> filtered by the
    # threshold predicate.  A bare `/` would raise DIVIDE_BY_ZERO under
    # ANSI mode (this Spark's default) and kill the job on one empty doc.
    jac = F.try_divide(F.col("_i"), union)
    return (
        scored.where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ max_hamming.

    The sketch is one 60-bit value per document (constant space).  Pairing
    uses pigeonhole blocking: split the 60 bits into ``max_hamming + 1``
    contiguous blocks — two sketches within hamming distance ``max_hamming``
    differ in at most ``max_hamming`` blocks, so they must agree EXACTLY on
    at least one block.  Candidates come from an equi-join on
    (block_index, block_value) — a plain shuffle hash/sort-merge join the
    optimizer can plan and AQE can skew-split — then the full 60-bit
    hamming distance verifies each candidate.  Recall is exact (pigeonhole
    is a guarantee, not a heuristic); work scales with block-bucket
    collision counts, not n², so the plan survives 100×.
    """
    nb = max_hamming + 1
    # materialize the token-hash arrays BEFORE the simhash projection:
    # the sketch makes 60 per-bit passes over `hs`, and without a
    # materialization barrier projection collapse substitutes the md5
    # transform into every pass (and into both self-join sides) → md5
    # recomputed 120× per doc (measured 79 s at sf0.1).
    hs = df.select(F.col(id_col).alias("doc"), token_hashes(text_col).alias("hs")).cache()
    sk = hs.select("doc", simhash60_from_hashes("hs").alias("sk"))
    # block keys: bits [bounds[i], bounds[i+1]) of the sketch, unpivoted to
    # (doc, sk, blk_idx, blk_val) — stack() is a zero-shuffle generator
    bounds = [i * 60 // nb for i in range(nb)] + [60]
    block_cols = [
        F.shiftright("sk", bounds[i])
        .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
        .alias(f"blk{i}")
        for i in range(nb)
    ]
    stack_expr = (
        f"stack({nb}, "
        + ", ".join(f"{i}, blk{i}" for i in range(nb))
        + ") as (blk_idx, blk_val)"
    )
    # localCheckpoint (eager): materialized once for both self-join sides
    # with truncated lineage, and — unlike a bare cache() — the blocks are
    # freed when the DataFrame is GC'd, so repeated calls in a long-lived
    # poll-loop driver don't accumulate executor storage.  (On a real
    # cluster with executor churn you would set a checkpoint dir and use
    # reliable checkpoints instead.)
    keyed = (
        sk.select("doc", "sk", *block_cols)
        .selectExpr("doc", "sk", stack_expr)
        .localCheckpoint(eager=True)
    )
    hs.unpersist()
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(F.col("a.sk").bitwiseXOR(F.col("b.sk")))
    return (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.alias("hamming"),
        )
        # a close pair can agree on several blocks → one row per block hit
        .distinct()
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    num_blocks: int = 8,
    expected_dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Distributed block matmul: vectors are hash-assigned to ``num_blocks``
    blocks; every unordered block pair (i ≤ j) forms one group containing
    both blocks' rows, and a grouped pandas UDF computes the cross-block
    cosine matrix with one float64 BLAS matmul.  Replication factor is
    ~num_blocks per row (the known cost of block nested-loop), there is
    no driver collect, and each task's working set is two blocks — pick
    num_blocks so a block fits executor memory at the target scale.

    (The previous zip_with/aggregate pair-join formulation was O(pairs ×
    dim) *interpreted* expression evals — 86 s at sf0.1 vs ~2 s for the
    BLAS path.)

    Dirty-data contract: NULL ids, NULL/empty vectors and vectors whose
    dimension differs from the corpus's dominant dimension are dropped up
    front (cosine across unequal dims is undefined and a ragged batch
    would break the BLAS kernel).  Finding the dominant dimension costs
    one size()-only aggregation pass over the vector column; pass
    ``expected_dim`` to pin the dimension and skip that pass entirely —
    the right call at corpus scale when the schema already guarantees
    it.
    """
    import numpy as np
    import pandas as pd

    v = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    # dirty-data contract: NULL/empty vectors match nothing — drop them
    # JVM-side so the BLAS kernel below never sees them, and pin every
    # block to the corpus's dominant dimension (cosine across unequal
    # dims is undefined; a single ragged vector would otherwise make
    # np.asarray build an inhomogeneous object array and kill the task)
    v = v.where(F.col("vid").isNotNull() & (F.size("vec") > 0))
    if expected_dim is not None:
        v = v.where(F.size("vec") == int(expected_dim))
    else:
        dim_row = (
            v.groupBy(F.size("vec").alias("_d"))
            .count()
            .orderBy(F.desc("count"), F.asc("_d"))
            .first()
        )
        if dim_row is not None:
            v = v.where(F.size("vec") == int(dim_row["_d"]))
    blk = F.abs(F.xxhash64("vid")) % num_blocks
    # row of block b participates in every group (i,j), i<=j, with b∈{i,j}
    groups = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_blocks - 1)),
            lambda o: F.when(
                blk <= o, F.concat_ws(":", blk, o)
            ).otherwise(F.concat_ws(":", o, blk)),
        ),
        lambda g: g.isNotNull(),
    )
    exploded = v.select("vid", "vec", blk.alias("blk"), F.explode(F.array_distinct(groups)).alias("grp"))

    out_schema = "id_a long, id_b long, cos double"

    def block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = (int(x) for x in pdf["grp"].iloc[0].split(":"))
        mat = np.asarray(list(pdf["vec"]), dtype=np.float64)
        ids = pdf["vid"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        # zero-norm vectors: sim := 0 (never NaN/inf/warning) → below any
        # positive threshold → dropped, matching cosine()'s NULL contract
        norms[norms == 0.0] = np.inf
        blks = pdf["blk"].to_numpy()
        if i == j:
            sims = np.round((mat @ mat.T) / np.outer(norms, norms), 4)
            sims[np.tril_indices(len(ids))] = -2.0  # keep one orientation only
            ia, ib = np.nonzero(sims >= threshold)
            id_a, id_b, cos = ids[ia], ids[ib], sims[ia, ib]
        else:
            la, lb = blks == i, blks == j
            sims = np.round(
                (mat[la] @ mat[lb].T) / np.outer(norms[la], norms[lb]), 4
            )
            ia, ib = np.nonzero(sims >= threshold)
            id_a, id_b, cos = ids[la][ia], ids[lb][ib], sims[ia, ib]
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        keep = lo < hi  # dedup the symmetric same-block hits
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep], "cos": cos[keep]})

    return exploded.groupBy("grp").applyInPandas(block_cosine, out_schema)


def dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc, cluster_id), with
    cluster_id = the smallest doc id in the component.  This is the step
    that turns PAIR output (minhash/simhash/jaccard) into dedup decisions:
    keep cluster_id, drop the rest of its component.

    Algorithm: iterative min-label propagation — each round every node
    takes the min label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup clusters are small and dense,
    so typically 2-4).  Each round is one shuffle-on-key join; lineage is
    truncated per round with an eager localCheckpoint so the loop's plan
    doesn't grow (the standard Spark iterative-algorithm pattern).  The
    driver only inspects a 1-row convergence count, never the data.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc == neighbor_min.src, "left")
            .select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc", F.col("label").alias("cluster_id"))


def dup_clusters_star(pairs: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") → (doc, cluster_id) with cluster_id = the component's
    smallest doc id — same output contract as :func:`dup_clusters`.

    Why a second implementation: min-label propagation converges in
    O(component diameter) rounds — fine for the dense near-dup cliques
    dedup produces, but a chain-shaped component of length D costs D
    shuffles.  Star contraction converges in O(log D) rounds on ANY
    topology (each round at least halves star heights), which is the
    published scale path for web-graph-sized inputs; each round is two
    keyed aggregations + two joins, all shuffle-on-key.

    Phases per round over the undirected edge set E (u < v canonical):
    - large-star: every node connects its LARGER neighbors to the
      minimum of its neighborhood (incl. itself);
    - small-star: every node connects its smaller-or-equal neighbors
      and itself to that minimum.
    Fixpoint = E is a star forest: every edge is (root, member) with
    root the component min.  Convergence is checked with an
    order-insensitive edge-set checksum + count (cheap driver-side
    equality; collisions would require colliding xxhash64 sums).
    """
    # node set FIRST (from the raw pairs, so docs appearing only in
    # self-pairs keep their singleton row — same contract as
    # dup_clusters), then canonical undirected edges, self-loops dropped
    nodes = (
        pairs.select(F.col("doc_a").alias("doc"))
        .union(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        # checkpointed (with its signature observed) by _ckpt_sig below
    )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
            ed.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )

    def _canon(ed: DataFrame) -> DataFrame:
        return (
            ed.select(
                F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def _ckpt_sig(ed: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        # The edge-set checksum rides the checkpoint's materialization
        # job as an observed metric instead of a separate aggregation
        # job — one driver round-trip per round, not two (measured ~30
        # small sequential jobs per run before; the per-job overhead,
        # not the aggregation itself, was the cost).  mod keeps the
        # ANSI-mode sum far from long overflow at any realistic edge
        # count; order-insensitive by construction.
        from uuid import uuid4

        from pyspark.sql import Observation

        obs = Observation(f"star_sig_{uuid4().hex}")
        ck = ed.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1_000_000_007))),
                F.lit(0),
            ).alias("h"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return ck, (int(m["n"]), int(m["h"]))

    e, sig = _ckpt_sig(e)
    converged = False
    for _ in range(max_rounds):
        sym = _sym(e)
        mn = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        # large-star: (bigger neighbor) -> neighborhood min
        large = (
            sym.where(F.col("dst") > F.col("src"))
            .join(mn, "src")
            .select(F.col("dst").alias("u"), F.col("m").alias("v"))
        )
        e = _canon(large).localCheckpoint(eager=True)
        # small-star over the new edge set
        sym = _sym(e)
        small_n = sym.where(F.col("dst") <= F.col("src"))
        mns = small_n.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        small = (
            small_n.join(mns, "src")
            .select(F.col("dst").alias("u"), F.col("m").alias("v"))
            .union(mns.select(F.col("src").alias("u"), F.col("m").alias("v")))
        )
        e, new_sig = _ckpt_sig(_canon(small))
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # a partially-contracted edge set labels members with a
        # non-minimal intermediate node — never return that silently.
        # max_rounds bounds log(diameter) rounds; 16 covers any graph up
        # to diameter ~2^16, so hitting this means pathological input.
        raise RuntimeError(
            f"dup_clusters_star: edge-set signature did not stabilize "
            f"within max_rounds={max_rounds}; labels would be partial. "
            f"Raise max_rounds for extreme-diameter similarity graphs."
        )

    # final E is (root, member); roots label themselves, and nodes whose
    # component collapsed entirely (star of size 1) fall back to self
    labels = e.groupBy(F.col("b").alias("doc")).agg(F.min("a").alias("cluster_id"))
    return (
        nodes.join(labels, "doc", "left")
        .select("doc", F.coalesce("cluster_id", F.col("doc")).alias("cluster_id"))
    )


# ------------------------------------------------------------ span dedup
def _duplicate_span_intervals(
    df: DataFrame, text_col: str, id_col: str, n: int, min_count: int
) -> tuple[DataFrame, DataFrame]:
    """Shared core of substring-level dedup: (base, merged dup intervals).

    ``base``  = (__doc, __toks, __nt) one row per document;
    ``spans`` = (__doc, __s, __e) disjoint merged 0-based token intervals
    covered by at least one n-gram that occurs >= min_count times in the
    corpus (across documents OR repeated within one document).

    This is the MapReduce approximation of suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every duplicated span of >= n tokens is found exactly
    (each of its length-n windows is globally duplicated); spans shorter
    than n are below the detection floor by design.

    Scale shape (the suffix-array original is single-machine): signing is
    a map (transform over the token array, no explode until the gram
    rows), gram counting is one shuffle-on-hash with map-side combine,
    the hit join is a key shuffle, and interval merging is one window per
    doc — everything linear in corpus token count, nothing quadratic.
    Gram identity uses xxhash64(gram) so only 8-byte keys shuffle, never
    the gram strings.
    """
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("__doc"), toks.alias("__toks")).withColumn(
        "__nt", F.size("__toks")
    )
    grams = base.select(
        "__doc",
        F.posexplode(
            F.when(
                F.col("__nt") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.col("__nt") - (n - 1)),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__toks", i, n))),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("__pos", "__gh"),
    )
    dup = (
        grams.groupBy("__gh")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__gh")
    )
    hits = grams.join(dup, "__gh").select(
        "__doc",
        F.col("__pos").alias("__s"),
        (F.col("__pos") + (n - 1)).alias("__e"),
    )
    # classic overlapping-interval merge: start positions are distinct per
    # doc, so the window ordering is total and the result deterministic
    w = Window.partitionBy("__doc").orderBy("__s")
    prev_end = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = hits.withColumn(
        "__new",
        F.when(F.col("__s") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    )
    spans = (
        marked.withColumn(
            "__gid",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("__doc", "__gid")
        .agg(F.min("__s").alias("__s"), F.max("__e").alias("__e"))
        .select("__doc", "__s", "__e")
    )
    return base, spans


def duplicate_span_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Per-document duplicated-substring accounting: (id, n_tokens,
    dup_tokens, n_spans) where dup_tokens counts token positions lying in
    some duplicated span of >= n tokens and n_spans counts the disjoint
    merged spans.  Documents with no duplication report 0/0."""
    base, spans = _duplicate_span_intervals(df, text_col, id_col, n, min_count)
    per = spans.groupBy("__doc").agg(
        F.sum(F.col("__e") - F.col("__s") + 1).alias("__dup"),
        F.count("*").alias("__ns"),
    )
    return (
        base.select("__doc", "__nt")
        .join(per, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.col("__nt").cast("long").alias("n_tokens"),
            F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce(F.col("__ns"), F.lit(0)).cast("long").alias("n_spans"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Rewrite each document with every duplicated span (>= n tokens,
    occurring >= min_count times corpus-wide) removed: (id, clean_text,
    n_tokens, clean_tokens).  Removal drops ALL occurrences — the
    deterministic variant of span dedup (keeping exactly one occurrence
    would need a global order over occurrences, a cross-doc dependency
    with no stable distributed answer).

    The rewrite is pure codegen, and per-token work scales with the
    number of MERGED intervals, not covered tokens: coverage is tested
    with an exists() over the doc's disjoint (start, end) interval
    structs — a fully duplicated 100k-token document merges to ONE
    interval, so masking it costs O(n_tokens), where a flattened
    covered-position array would cost O(n_tokens x covered) membership
    scans.  (Worst case — alternating covered/clean runs — is bounded
    by n_tokens / (n + 1) intervals.)  concat_ws then skips the
    masked-out (null) tokens."""
    base, spans = _duplicate_span_intervals(df, text_col, id_col, n, min_count)
    iv = spans.groupBy("__doc").agg(
        F.collect_list(F.struct("__s", "__e")).alias("__iv"),
        F.sum(F.col("__e") - F.col("__s") + 1).alias("__ncov"),
    )
    j = (
        base.join(iv, "__doc", "left")
        .withColumn(
            "__iv",
            F.coalesce(
                F.col("__iv"),
                F.array().cast("array<struct<__s:int,__e:int>>"),
            ),
        )
        .withColumn("__ncov", F.coalesce(F.col("__ncov"), F.lit(0)))
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__iv"), lambda s: (i >= s["__s"]) & (i <= s["__e"])
    )
    masked = F.transform(
        "__toks", lambda x, i: F.when(covered(i), F.lit(None)).otherwise(x)
    )
    return j.select(
        F.col("__doc").alias(id_col),
        F.concat_ws(" ", masked).alias("clean_text"),
        F.col("__nt").cast("long").alias("n_tokens"),
        (F.col("__nt") - F.col("__ncov")).cast("long").alias("clean_tokens"),
    )


# Upper bound on driver-collected key lists pushed into store scans as
# In(...) filters (second-level prune).  ~100k longs is ~2.5 MB of
# filter text on the driver; beyond that the probe falls back to the
# bucket filter alone.
_MAX_PUSHED_KEYS = 100_000

# Target bytes per file of a compacted state table: Spark's default
# spark.sql.files.maxPartitionBytes and parquet's default row-group
# size, so a compacted file is one scan split.
_COMPACT_FILE_BYTES = 128 << 20

# Rows per parquet page of a compacted state table (parquet's default
# is 20,000): a probe's bucket and key filters skip whole pages only, so
# small pages let them skip most of a bucket of a few thousand rows.
_COMPACT_PAGE_ROWS = 1_000


def _band_key_rows(
    sig: DataFrame, num_hashes: int, bands: int, carry: dict[str, str] | None = None
) -> DataFrame:
    """(doc, band, band_key) unpivot of a signature matrix — stack() is a
    zero-shuffle generator (same construction as minhash_lsh_dup_pairs).
    ``carry`` maps more output names to SQL over ``sig``, kept on every
    row.  SQL text: one JVM call per projection, where a Column tree
    costs one per node."""
    carry = carry or {}
    r = num_hashes // bands
    band_cols = [
        f"concat_ws(',', {', '.join(f'h{b * r + j}' for j in range(r))}) AS band{b}"
        for b in range(bands)
    ]
    stack_expr = (
        f"stack({bands}, "
        + ", ".join(f"{b}, band{b}" for b in range(bands))
        + ") as (band, band_key)"
    )
    return sig.selectExpr(
        "doc", *[f"{sql} AS {name}" for name, sql in carry.items()], *band_cols
    ).selectExpr("doc", *carry, stack_expr)


def _sql_lit(v) -> str:
    """A probe key as a Spark SQL literal: a long, or a hex digest."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"{v}L"


def _id_list_sql(ids: list) -> str | None:
    """``ids`` as a SQL literal list, or None if one of them is not an
    int or a str (those alone have a literal form here)."""
    if any(type(i) not in (int, str) for i in ids):
        return None
    return ", ".join(map(_sql_lit, ids))


def _id_frame(spark, ids: list, name: str, dtype: T.DataType) -> DataFrame:
    """The ints or strs ``ids`` as a one-column local relation of type
    ``dtype``: collecting it runs no Spark job."""
    t = dtype.simpleString()
    if not ids:
        return spark.sql(f"SELECT CAST(NULL AS {t}) AS {name} WHERE false")
    values = ", ".join(f"({_sql_lit(i)})" for i in ids)
    return spark.sql(f"SELECT CAST(v AS {t}) AS {name} FROM VALUES {values} AS ids(v)")


def drop_ids(df: DataFrame, id_col: str, ids: DataFrame, keep: bool = False) -> DataFrame:
    """``df`` without (with ``keep``: only) the rows whose id is in the
    one column of ``ids`` — a probe's result over a pinned ``df``.  Up
    to ``_MAX_PUSHED_KEYS`` ids are collected and applied as one
    literal ``IN`` filter, so no later action re-runs the probe that
    produced them; past that (or for ids with no literal form) a join
    with ``ids`` pinned.  A NULL id is never in ``ids``."""
    got = [r[0] for r in ids.limit(_MAX_PUSHED_KEYS + 1).collect()]
    lits = _id_list_sql(got) if len(got) <= _MAX_PUSHED_KEYS else None
    if lits is None:
        pinned = ids.toDF(id_col).localCheckpoint(eager=True)
        return df.join(pinned, id_col, "left_semi" if keep else "left_anti")
    if not got:
        return df.where(F.lit(False)) if keep else df
    member = f"coalesce({_q(id_col)} IN ({lits}), false)"
    return df.where(F.expr(member if keep else f"NOT {member}"))


def pin_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` pinned by one eager ``localCheckpoint``, and its row
    count from an ``Observation`` that the same job fills: no count
    job, and no wait beyond the pin."""
    rows = Observation()
    pinned = df.observe(rows, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return pinned, rows.get["rows"]


def _in_runs(col: str, values: list[int]) -> str:
    """SQL for ``col`` being one of the sorted ints ``values``, as an OR
    of their contiguous runs.  Spark hands an ``isin`` of more than
    ``spark.sql.parquet.pushdown.inFilterThreshold`` (10) values to
    parquet as ONE min-max range, which on a probe touching buckets 3
    and 250 keeps every page between them; each run here pushes as its
    own page filter.  SQL text rather than Column calls: one JVM call,
    where a Column tree costs one per node, and the parser balances the
    OR chain."""
    runs: list[list[int]] = []
    for v in values:
        if runs and v == runs[-1][1] + 1:
            runs[-1][1] = v
        else:
            runs.append([v, v])
    return " OR ".join(
        f"`{col}` = {a}" if a == b else f"(`{col}` >= {a} AND `{col}` <= {b})"
        for a, b in runs
    ) or "false"


class _KeyTable:
    """One state table of the text dedup stores: the single owner of
    their on-disk format.

    A table is a flat, append-only parquet directory ``{path}/{sub}``.
    Every row carries its probe key and the key's bucket id in column
    ``part`` (type ``int``).  ``n`` is the store's creation-time
    ``num_buckets``, pinned in ``_meta.json``
    (:meth:`_StoreFS.pin_layout`).

    ==========  ====  ============  ===========================  =================
    table       part  key           bucket                       sort key
    ==========  ====  ============  ===========================  =================
    band_keys   bkt   bkh           pmod(bkh, n)                 bkt, bkh
    signatures  sbkt  doc           pmod(hash(doc), n)           sbkt, doc
    hashes      bkt   content_hash  pmod(hash(content_hash), n)  bkt, content_hash
    blocks      bkt   bvh           pmod(bvh, n)                 bkt, bvh
    ==========  ====  ============  ===========================  =================

    ``band_keys`` and ``signatures`` belong to :class:`MinHashDedupStore`,
    ``hashes`` to :class:`ExactDedupStore` and ``blocks`` to
    :class:`SimHashDedupStore`.  ``bkh`` and ``bvh`` are already 64-bit
    hashes, so they bucket without re-hashing.

    Every file is sorted by (bucket, key): :meth:`append` writes ONE file
    per absorb, and :meth:`compact` rewrites the table into files that
    each cover a contiguous bucket range.  ``_meta.json`` records this
    format as ``"layout": 2``.  A store whose metadata has no ``layout``
    key is layout 1: its rows sit in ``{part}=<id>`` directories.
    :meth:`scan` reads both layouts, and the store's first mutation
    rewrites a layout-1 store once to layout 2
    (:meth:`_KeyTableStore._compact_tables`).

    Scale contract of every probe (:meth:`scan`):
    - store I/O is pruned by parquet page statistics.  The probe keys'
      bucket ids push as one filter per run of adjacent buckets
      (:func:`_in_runs`), and each touched bucket with its own keys as
      ``part = b AND key IN (…)``.  Files sorted by (bucket, key) in
      pages of ``_COMPACT_PAGE_ROWS`` rows give each page a narrow
      bucket range and, within a bucket, a narrow key range, so a probe
      reads the pages that hold its keys; a bucket with more than
      ``spark.sql.parquet.pushdown.inFilterThreshold`` (10) keys is read
      over their min-max range.  Beyond those pages a read costs an
      amount that grows with the store (parquet's per-page index data;
      measured below).  On a layout-1 tree the bucket runs are a
      partition filter (directory pruning);
    - both predicates over-approximate: the caller's join on the key
      stays the correctness gate;
    - callers broadcast the batch side, so the store is never shuffled:
      it streams through a BroadcastHashJoin.

    ``num_buckets`` sizing: a probe's keys spread over the buckets (a
    MinHash doc has 6 band keys), so keep ``n`` above a tenth of a
    batch's keys for each bucket's list to push as equality filters;
    the default 256 fits batches of a few hundred docs.  Measured at
    10^6 accepted docs with the default (``tests/test_scale_r8.py``): a
    one-doc probe read 4.7 MB and a 4-doc probe (17 buckets) 10.6 MB of
    a 347 MB ``band_keys`` table.  An un-compacted table is read one file per absorb, which
    compaction bounds.  A flat directory rather than
    ``bucketBy``/``saveAsTable`` keeps a store self-contained on disk:
    there is no metastore entry to lose, and a fresh session re-opens
    the path with pruning intact.
    Flat rather than directory-bucketed, because a read of more than 32
    bucket directories lists them in a Spark job, and an absorb would
    write a file per touched bucket.
    """

    LAYOUT = 2

    def __init__(
        self, fs: _StoreFS, sub: str, part: str, key: str, num_buckets: int,
        hash_key: bool,
    ):
        self.fs = fs
        self.sub = sub
        self.part = part
        self.key = key
        self.num_buckets = num_buckets
        self.hash_key = hash_key
        # the table's schema, known after its first append or read: a
        # read with it skips the one-task schema-inference job
        self.schema = None

    def bucket_sql(self, key: str) -> str:
        """SQL for the bucket id of the key expression ``key`` (see the
        class table)."""
        k = f"hash({key})" if self.hash_key else key
        return f"CAST(pmod({k}, {self.num_buckets}) AS INT)"

    def _read(self) -> DataFrame:
        reader = self.fs.spark.read
        if self.schema is not None:
            return reader.schema(self.schema).parquet(f"{self.fs.path}/{self.sub}")
        store = reader.parquet(f"{self.fs.path}/{self.sub}")
        self.schema = store.schema
        return store

    def probe_pairs(self, keys: DataFrame) -> list[tuple] | None:
        """The distinct (key, bucket) pairs of ``keys`` (one column,
        named like the key), or None past ``_MAX_PUSHED_KEYS`` of them.
        One collect, deduplicated on the driver: a ``distinct`` would
        add a shuffle, and so a Spark job, to every probe.  Only when
        the rows alone pass the cap does a second collect take the
        distinct pairs."""
        k = _q(self.key)
        pairs = keys.selectExpr(k, self.bucket_sql(k))
        rows = pairs.limit(_MAX_PUSHED_KEYS + 1).collect()
        if len(rows) > _MAX_PUSHED_KEYS:
            rows = pairs.distinct().limit(_MAX_PUSHED_KEYS + 1).collect()
        if len(rows) > _MAX_PUSHED_KEYS:
            return None
        return list(dict.fromkeys(tuple(r) for r in rows))

    def scan(self, keys: DataFrame) -> DataFrame:
        """The pruned read of the table for the probe keys in ``keys``
        (one column, named like the key): :meth:`scan_pairs` of their
        :meth:`probe_pairs`.  Past ``_MAX_PUSHED_KEYS`` of them the scan
        keeps the bucket filter only, from one collect of the distinct
        buckets."""
        pairs = self.probe_pairs(keys)
        if pairs is not None:
            return self.scan_pairs(pairs)
        # degenerate mega-batch: keep the bucket filter only
        bucket = self.bucket_sql(_q(self.key))
        buckets = [r[0] for r in keys.selectExpr(bucket).distinct().collect()]
        return self._read().where(F.expr(_in_runs(self.part, sorted(buckets))))

    def scan_pairs(self, pairs: list[tuple]) -> DataFrame:
        """The read of the table's rows whose key is one of ``pairs``'
        keys (at most ``_MAX_PUSHED_KEYS`` (key, bucket) pairs)."""
        by_bucket: dict[int, list] = {}
        for key, b in pairs:
            by_bucket.setdefault(b, []).append(key)
        # each bucket with its own keys: a key's value range meets a
        # page in EVERY bucket, so one key list for all buckets would
        # keep each touched bucket whole.  The runs stay a conjunct of
        # their own, the form a layout-1 tree prunes directories by.
        per_bucket = " OR ".join(
            f"(`{self.part}` = {b} AND `{self.key}` IN "
            f"({', '.join(map(_sql_lit, ks))}))"
            for b, ks in sorted(by_bucket.items())
        ) or "false"
        return self._read().where(
            F.expr(f"({_in_runs(self.part, sorted(by_bucket))}) AND ({per_bucket})")
        )

    def append(self, rows: DataFrame) -> None:
        """Append ``rows`` (which carry the key column) with their bucket,
        as one file sorted by (bucket, key).  ``coalesce(1)`` adds no
        shuffle, so the append is one Spark job, but the rows are then
        computed in that one task: callers hand in rows read from a
        pinned frame (the stage runner's feature pin, or a signature or
        sketch they pinned themselves)."""
        rows = rows.withColumn(self.part, F.expr(self.bucket_sql(_q(self.key))))
        (
            rows.coalesce(1).sortWithinPartitions(self.part, self.key)
            .write.mode("append").parquet(f"{self.fs.path}/{self.sub}")
        )
        if self.schema is None:  # as a read reports it: all nullable
            self.schema = T.StructType(
                [T.StructField(f.name, f.dataType) for f in rows.schema]
            )

    def compact(self) -> None:
        """Rewrite the table flat, range-partitioned on the bucket into
        one file per ``_COMPACT_FILE_BYTES`` of table data, each sorted
        by (bucket, key) in pages of ``_COMPACT_PAGE_ROWS`` rows.  Reads
        either layout, so it is also the layout-1 rewrite.  Crash safety:
        the staged swap (:class:`_StoreFS`)."""
        fs = self.fs
        fs.recover(self.sub)
        if not fs.has_data(self.sub):
            return
        num_files = max(1, -(-fs.size(self.sub) // _COMPACT_FILE_BYTES))
        (
            self._read()
            .repartitionByRange(num_files, self.part)
            .sortWithinPartitions(self.part, self.key)
            .write.option("parquet.page.row.count.limit", _COMPACT_PAGE_ROWS)
            .mode("overwrite").parquet(f"{fs.path}/_compact_{self.sub}")
        )
        fs.swap(self.sub)


class _KeyTableStore:
    """The layout version and compaction shared by the stores whose
    state is :class:`_KeyTable` tables (exact, MinHash, SimHash).  A
    subclass sets ``_store_fs``, ``_tables`` and ``_LAYOUT`` (which
    names ``layout``) in ``__init__``."""

    layout = _KeyTable.LAYOUT

    def _begin_absorb(self) -> None:
        """Under the writer lock, before an absorb appends: record a new
        store's layout, or rewrite a layout-1 store once to layout 2."""
        self._store_fs.write_meta_if_absent(self, self._LAYOUT)
        if self.layout < _KeyTable.LAYOUT:
            self._compact_tables()

    def _compact_tables(self) -> None:
        for table in self._tables:
            table.compact()
        if self.layout < _KeyTable.LAYOUT:
            self.layout = _KeyTable.LAYOUT
            meta = self._store_fs.read_meta() or {
                key: getattr(self, key) for key in self._LAYOUT
            }
            self._store_fs.write_meta({**meta, "layout": self.layout})

    def compact(self) -> None:
        """Rewrite every state table (:meth:`_KeyTable.compact`).  Each
        absorb appends one file per table, so a long-running ingest
        gathers O(batches) files and probe latency decays into
        file-open cost.  Run this periodically (e.g. every N batches,
        or from a maintenance job): probes are identical before and
        after.  The first compaction of a layout-1 store also records
        layout 2; crash safety per :meth:`_StoreFS.recover`."""
        with self._store_fs.lock("compact"):
            self._compact_tables()


class MinHashDedupStore(_KeyTableStore):
    """Incremental near-dedup for CONTINUOUS ingestion — the missing
    piece between batch ``minhash_lsh_dup_pairs`` (one corpus, one shot)
    and a poll-loop/streaming pipeline that must ask, per batch: "have we
    already accepted something near-identical, possibly months ago?".

    State is the ``band_keys`` and ``signatures`` tables under ``path``
    (layout and probe scale contract: :class:`_KeyTable`).  Per batch:

    1. sign the batch (OPH MinHash, O(1)/shingle);
    2. candidates = band-key collisions batch×store (shuffle bounded by
       banding) plus batch-internal bucket expansion;
    3. verify candidates on the ESTIMATED Jaccard — the fraction of
       matching signature slots, an unbiased estimator of true Jaccard —
       so the store never needs document text (at 100 TB the store holds
       ~200 bytes/doc, not the corpus);
    4. survivors (non-dups, batch-internal keep-lowest-id) are returned
       AND their band keys + signatures appended.

    Unlike the batch operator there is no exact-shingle verification:
    that is the deliberate trade for a text-free store, and why
    ``sig_match_frac`` exposes the estimator threshold (24 slots at 0.5
    ≈ accepting estimated J ≥ 0.5; tighten per corpus).

    Crash / delivery contract: :meth:`probe_dups` is strictly read-only;
    :meth:`absorb` mutates.  A streaming caller that wants TRUE
    at-least-once must sink the survivors BEFORE absorbing them (probe →
    pin → sink → absorb, as ``streaming.stream.near_dedup_stream`` and
    ``pipeline.Pipeline.run_streaming`` do): a crash between sink and
    absorb re-admits at most one batch's near-dups on replay, while the
    reverse order (absorb first) would silently DROP the replayed batch —
    its rows would look like dups of themselves and never reach the sink.
    :meth:`process_batch` (probe+absorb in one call, for batch jobs and
    the gate queries) absorbs before the caller can sink; use the split
    form on any path where replay loss matters.

    ``num_buckets`` sets the bucket grain of the state tables (sizing
    guidance: :class:`_KeyTable`).  Buckets are fixed at store creation
    (stored rows carry their bucket ids).
    """

    _LAYOUT = ("num_buckets", "layout")
    # batch-internal buckets above this many docs pair star-wise
    _STAR_BUCKET = 1024
    # The largest batch, in docs, that a probe matches on the driver
    # (:meth:`_dup_ids_small`); larger ones run the Spark plan.  Median
    # ms of 5 alternating runs, driver / Spark, against a 20k-doc store
    # of the perfbench corpus on a 4-core box: 50 docs 1,535 / 2,235;
    # 1k 2,438 / 3,285; 2.5k 3,279 / 4,105; 5k 3,823 / 3,973; 10k
    # 5,494 / 5,662; 16k 6,330 / 6,126.  Past 5k the two are within
    # 4%, and the driver's Python loops grow with the batch.
    _DRIVER_DOCS = 5_000

    def __init__(
        self,
        spark,
        path: str,
        num_hashes: int = 24,
        bands: int = 6,
        k: int = 3,
        sig_match_frac: float = 0.5,
        num_buckets: int = 256,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.num_hashes = num_hashes
        self.bands = bands
        self.k = k
        self.sig_match_frac = sig_match_frac
        self.num_buckets = num_buckets
        self._store_fs = _StoreFS(spark, self.path)
        self._store_fs.heal_on_open("band_keys", "signatures")
        meta = self._store_fs.pin_layout(
            self, self._LAYOUT, ("band_keys", "signatures")
        )
        if meta is None and self._store_fs.has_data("band_keys"):
            # pre-metadata state: verify it carries the bkh probe column
            # instead of failing later — or worse, probing wrongly
            schema = spark.read.parquet(f"{self.path}/band_keys").schema
            if "bkh" not in schema.names:
                raise ValueError(
                    f"store {self.path} uses a pre-bkh band_keys layout; "
                    "rebuild it (re-absorb the corpus) — in-place "
                    "migration is not supported"
                )
        self._band_keys = _KeyTable(
            self._store_fs, "band_keys", "bkt", "bkh", self.num_buckets, hash_key=False
        )
        self._signatures = _KeyTable(
            self._store_fs, "signatures", "sbkt", "doc", self.num_buckets, hash_key=True
        )
        self._tables = (self._band_keys, self._signatures)

    def _exists(self, sub: str) -> bool:
        return self._store_fs.has_data(sub)

    def _sig_cols(self) -> list[str]:
        return [f"h{i}" for i in range(self.num_hashes)]

    def _est_match(self, a_prefix: str, b_prefix: str):
        """Fraction of equal signature slots (estimated Jaccard), as SQL
        text: a Column tree of the same sum costs a JVM call per node."""
        equal = " + ".join(
            f"CASE WHEN {a_prefix}.h{i} = {b_prefix}.h{i} THEN 1 ELSE 0 END"
            for i in range(self.num_hashes)
        )
        return F.expr(f"({equal}) / {float(self.num_hashes)}D")

    # 64-bit hash of a (band, band_key) row — stored as the ``bkh``
    # column, doubling as the bucket discriminator (``pmod`` of it) and
    # the second-level pushed-filter key.  MUST match on the write and
    # probe sides.
    _BKH = "xxhash64(band, band_key)"

    def _bk_hash(self):
        """:attr:`_BKH` as a Column."""
        return F.expr(self._BKH)

    def _candidate_pairs(self, bk: DataFrame) -> DataFrame:
        """(new doc, old doc) band-key collisions batch × store: the
        pruned ``band_keys`` scan (:meth:`_KeyTable.scan`) joined to the
        broadcast batch on (band, band_key)."""
        return (
            self._pruned_band_key_scan(bk)
            .withColumnRenamed("doc", "old_doc")
            .join(F.broadcast(bk), ["band", "band_key"])
            .select("doc", "old_doc")
            .distinct()
        )

    def _pruned_band_key_scan(self, bk: DataFrame) -> DataFrame:
        """The pruned band_keys read for a probe batch ``bk``, separated
        out so tests can assert its I/O stays bounded as the store
        grows."""
        return self._band_keys.scan(bk.select(self._bk_hash().alias("bkh")))

    def _cross_batch_dups(self, bk: DataFrame, sig: DataFrame) -> DataFrame | None:
        """Batch ids that near-match something already in the store:
        band-key candidates, verified against the candidates' stored
        signatures (both scans pruned per :class:`_KeyTable`)."""
        if not self._exists("band_keys"):
            return None
        cand = self._candidate_pairs(bk).localCheckpoint(
            eager=True
        )  # small; feeds the signature-key collect + join
        # the probe reads the candidates' signatures, not their buckets'
        store_sig = self._signatures.scan(cand.select(F.col("old_doc").alias("doc")))
        batch_sig = cand.alias("c").join(
            F.broadcast(sig.alias("n")), F.expr("c.doc = n.doc")
        ).selectExpr("c.doc", "c.old_doc", *[f"n.h{i}" for i in range(self.num_hashes)])
        return (
            store_sig.alias("o")
            .join(F.broadcast(batch_sig).alias("n"), F.expr("n.old_doc = o.doc"))
            .where(self._est_match("n", "o") >= self.sig_match_frac)
            .selectExpr("n.doc AS dup")
            .distinct()
        )

    def sign(
        self, df: DataFrame, text_col: str, id_col: str, keep_columns: bool = False
    ) -> DataFrame:
        """The batch's signature matrix (``doc, h0..h{n-1}``) as a lazy
        map; with ``keep_columns``, ``df``'s own columns plus
        ``h0..h{n-1}`` (:func:`with_minhash_signature`, the stage
        runner's feature pass).  Signing is the probe/absorb cycle's
        expensive map (O(shingles) per row): pin the ``keep_columns``
        frame once and hand it to :meth:`probe_dups` and, as the
        survivors, to :meth:`absorb` with ``features`` — an explicit
        caller-owned DataFrame, not hidden store state.
        :meth:`process_batch` and the stage runner both do so."""
        if keep_columns:
            return with_minhash_signature(df, text_col, self.num_hashes, self.k)
        return minhash_signatures(df, text_col, id_col, self.num_hashes, self.k)

    def probe_dups(
        self, df: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> DataFrame:
        """Read-only: ids in ``df`` that are near-dups of the store OR of a
        lower-id row in the same batch.  ``process_batch`` = this + absorb.
        ``features``: ``df`` is a pinned frame that carries
        ``h0..h{n-1}`` (``sign(keep_columns=True)``, as the stage runner's
        feature pass), read as the signatures; otherwise ``df`` is
        signed here and the signatures pinned."""
        if features:
            return self._dup_ids(self._feature_sig(df, id_col))
        return self._dup_ids(self.sign(df, text_col, id_col).localCheckpoint(eager=True))

    def _feature_sig(self, df: DataFrame, id_col: str) -> DataFrame:
        """The (doc, h0..h{n-1}) signature rows of a frame that carries
        ``h0..h{n-1}`` (``sign(keep_columns=True)``)."""
        return df.selectExpr(f"{_q(id_col)} AS doc", *self._sig_cols())

    def _near(self, a: tuple, b: tuple) -> bool:
        """:meth:`_est_match` of two signatures on the driver (the same
        double division and comparison)."""
        same = sum(x == y for x, y in zip(a, b))
        return same / float(self.num_hashes) >= self.sig_match_frac

    def _dup_ids_small(self, sig: DataFrame) -> DataFrame | None:
        """:meth:`_dup_ids` on the driver, for a batch of at most
        ``_DRIVER_DOCS`` docs whose ids are ints or strs; None (the
        Spark plan runs) for any other batch, or once the store's rows
        that collide with the batch pass ``_MAX_PUSHED_KEYS`` (the
        candidates they name are no more).  Three collects, and no
        join, shuffle or broadcast: the batch's band keys with their
        signatures, the store's band-key rows for those keys, and the
        stored signatures of the candidates they name (both scans
        pruned per :class:`_KeyTable`).  Candidates and verification are those of
        the Spark plan: band-key collisions, star pairs in a bucket of
        more than ``_STAR_BUCKET`` docs, the lower id kept, and
        :meth:`_near`."""
        cap = min(self._DRIVER_DOCS * self.bands, _MAX_PUSHED_KEYS)
        packed = f"array({', '.join(self._sig_cols())})"
        bkh = self._BKH
        rows = (
            _band_key_rows(sig, self.num_hashes, self.bands, carry={"_h": packed})
            .selectExpr("doc", "band", "band_key", "_h", self._band_keys.bucket_sql(bkh), bkh)
            .limit(cap + 1).collect()
        )
        if len(rows) > cap:
            return None
        rows = [r for r in rows if r[0] is not None]
        if _id_list_sql([r[0] for r in rows]) is None:
            return None
        buckets: dict[tuple, list] = {}
        for r in rows:
            buckets.setdefault((r[1], r[2]), []).append(r[0])
        hits = []  # (old doc, its signatures bucket, the batch docs it collides with)
        if self._exists("band_keys"):
            keys = {(r[-1], r[-2]) for r in rows}  # (bkh, its bucket)
            # one partition: a limit over several is collected by one
            # Spark job per try (the first reads one partition)
            stored = (
                self._band_keys.scan_pairs(list(keys))
                .selectExpr("doc", "band", "band_key", self._signatures.bucket_sql("doc"))
                .coalesce(1).limit(_MAX_PUSHED_KEYS + 1).collect()
            )
            if len(stored) > _MAX_PUSHED_KEYS:
                return None
            hits = [
                (old, b, buckets[(band, key)])
                for old, band, key, b in stored
                if old is not None and (band, key) in buckets
            ]
        candidates = list({(old, b) for old, b, _ in hits})
        sigs = {r[0]: tuple(r[3]) for r in rows}
        dups = set()
        for members in buckets.values():
            ds = sorted(members)
            pairs = (
                [(ds[0], x) for x in ds[1:]] if len(ds) > self._STAR_BUCKET
                else itertools.combinations(ds, 2)
            )
            for a, b in pairs:
                if b not in dups and self._near(sigs[a], sigs[b]):
                    dups.add(b)
        if candidates:
            old_sigs = {
                r[0]: tuple(r[1])
                for r in self._signatures.scan_pairs(candidates)
                .selectExpr("doc", packed).collect()
            }
            dups.update(
                new for old, _, news in hits for new in news
                if old in old_sigs and self._near(sigs[new], old_sigs[old])
            )
        return _id_frame(self.spark, list(dups), "dup", sig.schema["doc"].dataType)

    def _dup_ids(self, sig: DataFrame) -> DataFrame:
        """The ``dup`` ids of the batch signed in ``sig``: near copies of
        the store or of a lower id in the batch.  A small batch is
        matched on the driver (:meth:`_dup_ids_small`); a larger one by
        this Spark plan."""
        small = self._dup_ids_small(sig)
        if small is not None:
            return small
        bk = _band_key_rows(sig, self.num_hashes, self.bands)
        dup_ids = self._cross_batch_dups(bk, sig)

        # batch-internal near-dups: bucket expansion (keep lowest id).
        # Star pairing above the threshold bounds a mega-bucket's fan-out
        # at O(n) CANDIDATES, but is not lossless end-to-end: candidates
        # still pass the signature-match verification below, so a doc
        # whose signature matches a non-min bucket member yet not the
        # bucket min survives — a bounded recall trade inside oversized
        # buckets only (near-identical boilerplate floods), where the min
        # is overwhelmingly a true match anyway.
        buckets = (
            bk.groupBy("band", "band_key")
            .agg(F.collect_list("doc").alias("docs"))
            .where(F.size("docs") > 1)
        )
        internal = (
            buckets.selectExpr(_bucket_pair_expr(self._STAR_BUCKET))
            .selectExpr("p.doc_a", "p.doc_b")
            .distinct()
            .join(sig.alias("a"), F.expr("doc_a = a.doc"))
            .join(sig.alias("b"), F.expr("doc_b = b.doc"))
            .where(self._est_match("a", "b") >= self.sig_match_frac)
            .selectExpr("doc_b AS dup")  # keep the lower id
            .distinct()
        )
        return internal if dup_ids is None else dup_ids.unionByName(internal).distinct()

    def absorb(
        self, survivors: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> None:
        """Mutating half of the split contract: record ``survivors`` (rows
        the caller has already probed AND sunk) as accepted.

        ``features``: ``survivors`` are pinned, carry ``h0..h{n-1}``
        (``sign(keep_columns=True)``) and hold at least one row, as the
        stage runner's survivors (absorbed only when the runner's
        observed row count is non-zero) and :meth:`process_batch`'s do:
        absorb appends those columns as they are, with no re-signing
        and no emptiness job.  Otherwise the rows are signed here — a
        pure map, callable on any replayed/pinned DataFrame — and the
        signatures pinned once, with their row count observed by the
        same job.  Signing is deterministic per row, so both forms store
        identical rows."""
        if features:
            sig = self._feature_sig(survivors, id_col)
        else:
            sig, rows = pin_counted(self.sign(survivors, text_col, id_col))
            if not rows:  # an append of no rows still writes a file
                return
        with self._store_fs.lock("absorb"):
            self._begin_absorb()
            self._band_keys.append(
                _band_key_rows(sig, self.num_hashes, self.bands)
                .withColumn("bkh", self._bk_hash())
            )
            self._signatures.append(sig)

    def process_batch(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """Probe + absorb in one call (batch jobs, gate queries): return
        the near-dup-free subset of ``df`` and absorb it into the store.
        Output columns = input columns.  Streaming callers should use the
        split ``probe_dups`` → sink → ``absorb`` sequence instead — this
        form mutates the store before the caller can sink, so a crash in
        between drops the batch on replay (see class docstring).  Signs
        once: the probe and the absorb read one pinned signed frame."""
        signed = self.sign(df, text_col, id_col, keep_columns=True).localCheckpoint(eager=True)
        dups = self.probe_dups(signed, text_col, id_col, features=True)
        # pin BEFORE the store mutates
        survivors, rows = pin_counted(drop_ids(signed, id_col, dups))
        if rows:
            self.absorb(survivors, text_col, id_col, features=True)
        return survivors.select(*df.columns)


class ExactDedupStore(_KeyTableStore):
    """Incremental EXACT dedup for continuous ingestion — the
    cross-restart complement of ``streaming.stream.dedup_stream``
    (``dropDuplicatesWithinWatermark`` only holds keys until the
    watermark passes; this store remembers every accepted document's
    content hash forever, at ~16 bytes/doc, never the text).

    State is the ``hashes`` table (layout and probe scale contract:
    :class:`_KeyTable`).  Crash contract: state appends AFTER the
    survivor set is pinned; a replay re-probes and its own hashes now
    look like dups — replays converge instead of double-inserting
    (self-healing at-least-once).

    Reference parity: this is the poll-loop dedup a fluentd user
    approximates with downstream unique filters; here it is exact,
    durable, and distributed (in_sql.rb:136-161 emits raw rows with no
    dedup — SURVEY §2.9 T5 notes the at-least-once re-delivery this
    store absorbs).
    """

    _LAYOUT = ("num_buckets", "layout")
    # The largest batch, in rows, that a probe dedups on the driver
    # (:meth:`probe_new`); larger ones run :meth:`_probe_new_large`.
    # Median ms of 5 alternating runs, driver / Spark, against a
    # 20k-doc store of the perfbench corpus on a 4-core box: 50 rows
    # 252 / 530; 1k 567 / 985; 5k 501 / 834; 16k 910 / 1,348; 50k
    # 2,588 / 3,353; 100k 4,193 / 5,536.  Larger batches were not
    # measured.
    _DRIVER_ROWS = 100_000

    def __init__(self, spark, path: str, num_buckets: int = 256):
        self.spark = spark
        self.path = path.rstrip("/")
        self.num_buckets = num_buckets
        self._store_fs = _StoreFS(spark, self.path)
        self._store_fs.heal_on_open("hashes")
        self._store_fs.pin_layout(self, self._LAYOUT, ("hashes",))
        self._hashes = _KeyTable(
            self._store_fs, "hashes", "bkt", "content_hash", self.num_buckets,
            hash_key=True,
        )
        self._tables = (self._hashes,)

    def _exists(self) -> bool:
        return self._store_fs.has_data("hashes")

    @staticmethod
    def with_content_hash(df: DataFrame, text_col: str) -> DataFrame:
        """``df`` plus ``content_hash``, md5 of ``text_col`` — the stage
        runner's feature column for this store (a lazy map)."""
        return df.select("*", F.md5(F.col(text_col)).alias("content_hash"))

    def probe_new(
        self, df: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> DataFrame:
        """Read-only: the subset of ``df`` that is NOT already in the
        store and NOT a lower-id duplicate within the batch, with its
        ``content_hash`` column.  ``features``: ``df`` already carries
        ``content_hash`` (md5 of ``text_col``, the stage runner's
        feature pass), which is then read rather than recomputed.

        Up to ``_DRIVER_ROWS`` rows, one collect brings each row's
        id, hash and bucket to the driver.  The lowest id per hash is
        picked there, so the batch-internal dedup is a filter on ids,
        and the store scan pushes the batch's hashes (:class:`_KeyTable`)
        and joins as a broadcast.  Rows with a NULL id or text never
        survive.  Larger batches dedup in Spark (:meth:`_probe_new_large`)."""
        hashed = df if features else df.withColumn("content_hash", F.md5(F.col(text_col)))
        q = _q(id_col)
        cap = min(self._DRIVER_ROWS, _MAX_PUSHED_KEYS)
        rows = (
            hashed.selectExpr(q, "content_hash", self._hashes.bucket_sql("content_hash"))
            .limit(cap + 1).collect()
        )
        lowest: dict = {}
        for i, h, _ in rows:
            if i is not None and h is not None and (h not in lowest or i < lowest[h]):
                lowest[h] = i
        dups = [i for i, h, _ in rows if i is not None and h in lowest and i != lowest[h]]
        not_dup = _id_list_sql(dups)
        if len(rows) > cap or not_dup is None:
            return self._probe_new_large(hashed, id_col)
        firsts = hashed.where(F.expr(
            f"{q} IS NOT NULL AND content_hash IS NOT NULL"
            + (f" AND NOT {q} IN ({not_dup})" if dups else "")
        ))
        if not self._exists():
            return firsts
        # the pushed filter matches the batch's hashes exactly
        seen = self._hashes.scan_pairs(
            list(dict.fromkeys((h, b) for _, h, b in rows if h is not None))
        ).select("content_hash")
        return firsts.join(F.broadcast(seen), "content_hash", "left_anti")

    def _probe_new_large(self, hashed: DataFrame, id_col: str) -> DataFrame:
        """:meth:`probe_new` in Spark, for a batch of more rows than the
        driver takes (or with ids that are no SQL literal)."""
        # batch-internal: keep the lowest id per content hash (groupBy-min
        # + broadcast join back keeps map-side combine; renamed key avoids
        # self-join ambiguity)
        w_min = hashed.groupBy(F.col("content_hash").alias("_ch")).agg(
            F.min(id_col).alias("_keep_id")
        )
        firsts = hashed.join(
            F.broadcast(w_min),
            (F.col("content_hash") == F.col("_ch"))
            & (F.col(id_col) == F.col("_keep_id")),
        ).drop("_ch", "_keep_id")
        if not self._exists():
            return firsts
        seen = (
            self._hashes.scan(hashed.select("content_hash"))
            .join(
                F.broadcast(hashed.select("content_hash").distinct()),
                "content_hash",
                "left_semi",
            )
            .select("content_hash")
            .distinct()
        )
        return firsts.join(F.broadcast(seen), "content_hash", "left_anti")

    def absorb(
        self, survivors: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> None:
        """Record ``survivors`` (already probed and sunk by the caller)
        as accepted — the mutating half of the at-least-once split (sink
        BEFORE absorb; see :class:`MinHashDedupStore` docstring).

        ``features``: ``survivors`` are a :meth:`probe_new` result,
        pinned and of at least one row, as the stage runner's survivors
        (absorbed only when the runner's observed row count is
        non-zero) and :meth:`process_batch`'s are: they carry
        ``content_hash`` and hold one row per hash (the probe kept
        one), so their hashes append as they are, with no md5, distinct
        or emptiness job."""
        if features:
            hashes = survivors.select("content_hash")
        elif survivors.isEmpty():  # an append of no rows still writes a file
            return
        else:
            hashes = survivors.select(
                F.md5(F.col(text_col)).alias("content_hash")
            ).distinct()
        with self._store_fs.lock("absorb"):
            self._begin_absorb()
            self._hashes.append(hashes)

    def process_batch(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """Probe + absorb in one call: return the exact-dup-free subset
        of ``df`` (first occurrence wins across ALL prior batches and
        within the batch by lowest id) and absorb the survivors' content
        hashes.  Output columns = input columns.  Streaming callers
        should sink between ``probe_new`` and ``absorb`` instead."""
        # pin BEFORE the store mutates
        survivors, rows = pin_counted(self.probe_new(df, text_col, id_col))
        if rows:
            self.absorb(survivors, text_col, id_col, features=True)
        return survivors.select(*df.columns)


class EmbeddingDedupStore:
    """Incremental EMBEDDING-cosine near-dedup for continuous ingestion —
    completes the store family (:class:`ExactDedupStore` for verbatim
    copies, :class:`MinHashDedupStore` for text edits, this for semantic
    duplicates whose text differs but whose embeddings coincide).

    IVF layout (operators/similarity.build_ivf_index pattern): centroids
    are picked deterministically from the FIRST absorbed batch (smallest
    xxhash64(id) — no trained model, stable across restarts) and frozen
    until :meth:`recluster`; state is one append-only postings table
    (bucket, doc, vec) partitioned by home bucket.  A probe assigns each
    new vector to its ``nprobe`` nearest centroids, reads ONLY those
    bucket directories (partition pruning; ≤ num_centroids ids
    collected), and broadcasts the batch side — the store is never
    shuffled, same contract as the sibling stores.  Recall is the IVF
    trade: a true near-dup pair's vectors are nearly parallel, so they
    agree on home centroid (and a fortiori on one of ``nprobe``) except
    when the pair straddles a centroid boundary — raise ``nprobe`` to
    taste.

    ``num_centroids`` is the probe-I/O denominator: each probe reads
    ~``nprobe / num_centroids`` of the store, so the default (16) is a
    small-corpus setting.  Guidance — size it so each centroid bucket
    holds ~10^5–10^6 vectors (≈ sqrt(N) within a factor of a few):

    =============  ==============  =====================
    accepted docs  num_centroids   probe reads (~nprobe=2)
    =============  ==============  =====================
    ≤ 10^5         16              12%
    10^6           64              3%
    10^8           1024            0.2%
    10^9+          4096–16384      ≲ 0.05%
    =============  ==============  =====================

    A skewed or tiny first batch yields unrepresentative frozen
    centroids (lopsided buckets forever); :meth:`recluster` is the
    offline maintenance path that re-picks centroids uniformly over ALL
    accepted vectors (optionally Lloyd-refined), re-homes every posting,
    and can change ``num_centroids`` — run it once the store has
    outgrown its creation-time settings.

    Crash contract: state appends AFTER the survivor set is pinned;
    replays converge (their vectors now match themselves in the store).
    :meth:`probe_dups` is strictly read-only (an empty-store probe uses
    an ephemeral centroid pick and writes nothing); sink survivors
    before :meth:`absorb` for true at-least-once (see
    :class:`MinHashDedupStore` docstring).
    """

    #: EWMA weight of the newest batch in the rolling home-similarity
    #: statistic (drift tracking).
    DRIFT_EWMA_ALPHA = 0.5

    def __init__(
        self,
        spark,
        path: str,
        threshold: float = 0.9,
        num_centroids: int = 16,
        nprobe: int = 2,
        store_replicas: int = 2,
        centroid_mode: str = "hash",
        track_drift: bool = False,
        numeric_mode: str = "fold",
    ):
        if centroid_mode not in ("hash", "kmeans", "kmeans_parallel"):
            raise ValueError(
                f"centroid_mode must be 'hash', 'kmeans' or "
                f"'kmeans_parallel', got {centroid_mode!r}"
            )
        if numeric_mode not in ("fold", "vectorized"):
            raise ValueError(
                f"numeric_mode must be 'fold' or 'vectorized', got {numeric_mode!r}"
            )
        self.spark = spark
        self.path = path.rstrip("/")
        self.threshold = threshold
        self.num_centroids = num_centroids
        self.nprobe = nprobe
        self.store_replicas = store_replicas
        #: when on, every absorb also records the batch's mean
        #: home-centroid cosine into a tiny ``drift`` table (one extra
        #: aggregate on the already-computed assignment) — the cheap
        #: statistic :meth:`maybe_recluster` triggers on.  Off by
        #: default: the sibling stores pay nothing for it.
        self.track_drift = track_drift
        #: how the FIRST absorbed batch's frozen centroids are chosen:
        #: "hash" = the historical uniform md-hash pick (zero extra
        #: passes); "kmeans" = Lloyd-trained on the first batch —
        #: centroids land on semantic modes, so a SemDeDup-style
        #: same-cluster probe (nprobe=1) compares against the right
        #: neighborhood; "kmeans_parallel" = k-means|| for large
        #: num_centroids.  Mode only matters at creation (and at
        #: recluster, which has its own Lloyd path).
        self.centroid_mode = centroid_mode
        #: arithmetic path for centroid TRAINING (centroid_mode != hash):
        #: "fold" = the interpreted expression folds (the oracle mode);
        #: "vectorized" = numpy-GEMM distances over Arrow batches
        #: (operators/dense) — the 100 TB setting, config-selected via
        #: the pipeline's embedding_dedup / semantic_dedup blocks.
        #: Probe/absorb scoring is unaffected (already prenormed folds).
        self.numeric_mode = numeric_mode
        self._store_fs = _StoreFS(spark, self.path)
        if not self._store_fs.exists(_StoreFS.LOCK):
            # healing mutates; skip it when another session's writer is
            # live (or crashed — its documented recovery is deleting the
            # lock, after which the next open heals).  See
            # _StoreFS.heal_on_open.
            self._recluster_recover()  # interrupted two-table swap first
            for sub in ("postings", "centroids"):
                self._store_fs.recover(sub)  # then compact leftovers

    _RECLUSTER_MARK = "_recluster_inflight"

    def _recluster_recover(self) -> None:
        """Heal a crash inside :meth:`recluster`'s two-table swap (the
        staged and old names of :class:`_StoreFS`).  The commit point is
        the CENTROIDS swap (done last, with both ``_old_`` trees retained
        until after it): while the staged centroids still exist the swap
        has not committed — roll both tables BACK from their ``_old_``
        trees; once the staged centroids are gone the new pair is live —
        roll FORWARD by just deleting leftovers.  Either way the store
        ends with a centroid set and the postings homed under it."""
        sfs = self._store_fs
        if not sfs.exists(self._RECLUSTER_MARK):
            return
        roll_back = sfs.exists("_compact_centroids")
        for sub in ("postings", "centroids"):
            live, old, staged = sub, f"_old_{sub}", f"_compact_{sub}"
            if roll_back and sfs.exists(old):
                if sfs.exists(live):
                    sfs.delete(live)
                sfs.rename(old, live)
            for leftover in (staged,) if roll_back else (staged, old):
                if sfs.exists(leftover):
                    sfs.delete(leftover)
        sfs.delete(self._RECLUSTER_MARK, recursive=False)

    def _exists(self, sub: str) -> bool:
        return self._store_fs.has_data(sub)

    def compact(self, files_per_bucket: int = 1) -> None:
        """Rewrite the postings table with ``files_per_bucket`` files
        per centroid bucket directory (:meth:`_StoreFS.compact_table`):
        each absorb appends one file per touched bucket, and this bounds
        the files a probe opens."""
        with self._store_fs.lock("compact"):
            self._store_fs.compact_table(
                "postings", "bucket", self.num_centroids * files_per_bucket
            )

    def _pick_centroids(self, vecs: DataFrame, n: int) -> DataFrame:
        """Deterministic uniform pick: the ``n`` vectors with the
        smallest ``xxhash64(doc)`` — a content-independent uniform
        sample, stable across runs and partitionings."""
        return (
            vecs.withColumn("_h", F.xxhash64("doc"))
            .orderBy("_h")
            .limit(n)
            .select(F.col("doc").alias("centroid_id"), F.col("vec").alias("centvec"))
        )

    def _load_centroids(self) -> DataFrame | None:
        if not self._exists("centroids"):
            return None
        return self.spark.read.parquet(f"{self.path}/centroids")

    def _train_centroids(self, vecs: DataFrame, n: int) -> DataFrame:
        """Trained first-batch centroids (``centroid_mode != 'hash'``):
        Lloyd or k-means|| over the batch vectors — same determinism
        contract as operators/cluster (md5 seeds, 1e-6 grid).  Falls
        back to the hash pick on an empty/degenerate batch."""
        dim_row = vecs.select(F.size("vec").alias("_d")).first()
        if dim_row is None or dim_row["_d"] is None:
            return self._pick_centroids(vecs, n)
        dim = int(dim_row["_d"])
        from .cluster import kmeans_centroids, kmeans_parallel_centroids

        if self.centroid_mode == "kmeans_parallel":
            cents = kmeans_parallel_centroids(
                vecs, k=n, dim=dim, vec_col="vec", id_col="doc",
                numeric_mode=self.numeric_mode,
            )
        else:
            cents = kmeans_centroids(
                vecs, k=n, iters=2, dim=dim, vec_col="vec", id_col="doc",
                numeric_mode=self.numeric_mode,
            )
        return cents.select(
            F.col("cid").cast("long").alias("centroid_id"),
            F.col("c").alias("centvec"),
        )

    def _ensure_centroids(self, batch_vecs: DataFrame) -> DataFrame:
        """Load the frozen centroid set, creating it from this batch on
        first ABSORB (never from a probe)."""
        if not self._exists("centroids"):
            pick = (
                self._train_centroids(batch_vecs, self.num_centroids)
                if self.centroid_mode != "hash"
                else self._pick_centroids(batch_vecs, self.num_centroids)
            )
            pick.write.mode("overwrite").parquet(f"{self.path}/centroids")
        return self.spark.read.parquet(f"{self.path}/centroids")

    def _assign(self, vecs: DataFrame, centroids: DataFrame, top_n: int) -> DataFrame:
        """(doc, vec, bucket, _rn): each vector's top_n nearest centroids
        (rank 1 = home bucket).  One broadcast of the tiny centroid set;
        assignment is a map over the batch."""
        from pyspark.sql import Window

        from .similarity import cosine_prenorm, norm

        # norms once per batch row / centroid row, not per (row, centroid)
        # pair (see similarity.cosine_prenorm — bit-identical values)
        cent = F.broadcast(centroids.withColumn("_centn", norm(F.col("centvec"))))
        scored = vecs.withColumn("_vn", norm(F.col("vec"))).join(cent).select(
            "doc", "vec", "_vn", "centroid_id",
            cosine_prenorm(
                F.col("vec"), F.col("centvec"), F.col("_vn"), F.col("_centn")
            ).alias("_cc"),
        )
        w = Window.partitionBy("doc").orderBy(F.desc("_cc"), F.asc("centroid_id"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= top_n)
            # _vn rides along so probe_dups' pair joins reuse it
            .select(
                "doc", "vec", "_vn", F.col("centroid_id").alias("bucket"),
                "_rn", "_cc",
            )
        )

    def assign_probes(
        self, df: DataFrame, vec_col: str, id_col: str
    ) -> DataFrame | None:
        """The batch's centroid assignment against the store's PERSISTED
        centroid set, with ``top_n = max(nprobe, store_replicas)`` and
        eagerly checkpointed — the assignment is the probe/absorb
        cycle's expensive map, and handing this to BOTH
        :meth:`probe_dups` (which slices ``_rn <= nprobe``) and
        :meth:`absorb` (``_rn <= store_replicas`` + survivor semi-join)
        halves the per-batch scoring work of the split at-least-once
        sequence.  Assignment against frozen centroids is deterministic
        per row, so both slices are bit-identical to the unassisted
        paths.  Returns ``None`` when the store has no centroid set yet
        (first batch) — callers then fall back to the plain calls, which
        handle the ephemeral-centroid probe and the centroid-freezing
        absorb."""
        centroids = self._load_centroids()
        if centroids is None:
            return None
        vecs = df.select(
            F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")
        )
        return self._assign(
            vecs, centroids, max(self.nprobe, self.store_replicas)
        ).localCheckpoint(eager=True)

    def probe_dups(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        probes: DataFrame | None = None,
    ) -> DataFrame:
        """STRICTLY read-only: ids in ``df`` whose vector matches
        (cosine ≥ threshold) an accepted vector in a probed bucket, or a
        lower-id batch row sharing a home bucket.  Against an empty
        store, batch-internal candidates are bucketed by an EPHEMERAL
        deterministic centroid pick from this batch — nothing is
        written, so probing can never freeze centroids from a batch that
        is never absorbed.  ``probes``: optionally the
        :meth:`assign_probes` handoff (skips re-assigning)."""
        from .similarity import cosine_prenorm, norm

        if probes is not None:
            probes = probes.where(F.col("_rn") <= self.nprobe)
        else:
            vecs = df.select(
                F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")
            ).localCheckpoint(eager=True)  # feeds centroid-init + assign
            centroids = self._load_centroids()
            if centroids is None:
                centroids = self._pick_centroids(vecs, self.num_centroids)
            probes = self._assign(vecs, centroids, self.nprobe).localCheckpoint(
                eager=True
            )

        # pair joins below reuse the probes' per-row norm (_vn) instead
        # of folding each side's norm once per PAIR (cosine_prenorm is
        # bit-identical, NULL set included)
        # batch-internal: any shared probe bucket, keep the lower id
        internal = (
            probes.alias("a")
            .join(
                F.broadcast(probes.alias("b")),
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .where(
                cosine_prenorm(
                    F.col("a.vec"), F.col("b.vec"),
                    F.col("a._vn"), F.col("b._vn"),
                )
                >= self.threshold
            )
            .select(F.col("b.doc").alias("dup"))
            .distinct()
        )
        if not self._exists("postings"):
            return internal
        probe_bkts = [r[0] for r in probes.select("bucket").distinct().collect()]
        store = self.spark.read.parquet(f"{self.path}/postings").where(
            F.col("bucket").isin(probe_bkts)
        )
        cross = (
            store.alias("o")
            .withColumn("_on", norm(F.col("o.vec")))
            .join(
                F.broadcast(probes.alias("n")),
                F.col("o.bucket") == F.col("n.bucket"),
            )
            .where(
                cosine_prenorm(
                    F.col("o.vec"), F.col("n.vec"),
                    F.col("_on"), F.col("n._vn"),
                )
                >= self.threshold
            )
            .select(F.col("n.doc").alias("dup"))
            .distinct()
        )
        return cross.unionByName(internal).distinct()

    def absorb(
        self,
        survivors: DataFrame,
        vec_col: str,
        id_col: str,
        assigned: DataFrame | None = None,
    ) -> None:
        """Record ``survivors`` (already probed and sunk by the caller)
        as accepted — the mutating half of the at-least-once split.
        Freezes the centroid set from the first absorbed batch.

        ``assigned``: optionally the :meth:`assign_probes` handoff for a
        SUPERSET of ``survivors`` — absorb then slices it to
        ``_rn <= store_replicas`` and semi-joins on the survivor ids
        instead of re-scoring, which is bit-identical (assignment
        against the frozen centroid set is deterministic per row).
        Ignored with a fallback to re-scoring if the store has no
        centroid set yet (the handoff cannot exist in that state —
        :meth:`assign_probes` returns None)."""
        vecs = survivors.select(
            F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")
        )
        with self._store_fs.lock("absorb"):
            creating = not self._exists("centroids")
            if assigned is not None and not creating:
                keep = survivors.select(F.col(id_col).alias("doc"))
                assigned = (
                    assigned.where(F.col("_rn") <= self.store_replicas)
                    .join(keep, "doc", "left_semi")
                )
                self._finish_absorb(assigned, creating)
                return
            centroids = self._ensure_centroids(vecs)
            assigned = self._assign(vecs, centroids, self.store_replicas)
            self._finish_absorb(assigned, creating)

    def _finish_absorb(self, assigned: DataFrame, creating: bool) -> None:
        """Shared tail of both absorb paths: write the posting rows and
        (when tracked) fold the batch into the drift state.  Caller
        holds the absorb lock."""
        if self.track_drift:
            # share the assignment between the postings write and
            # the drift aggregate instead of re-running it
            assigned = assigned.localCheckpoint(eager=False)
        self._store_fs.append(
            "postings", assigned.select("bucket", "doc", "vec"), "bucket"
        )
        if self.track_drift:
            self._update_drift(assigned, creating)

    def process_batch(self, df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
        """Probe + absorb in one call: return the semantically-novel
        subset of ``df`` and absorb its vectors.  Output columns = input
        columns.  Streaming callers should sink between ``probe_dups``
        and ``absorb`` instead (see :class:`MinHashDedupStore`)."""
        dup_ids = self.probe_dups(df, vec_col, id_col)
        survivors = df.join(
            dup_ids.withColumnRenamed("dup", id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)  # pin BEFORE the store mutates
        self.absorb(survivors, vec_col, id_col)
        return survivors

    # ------------------------------------------------------ drift tracking
    #
    # The streaming failure mode of frozen first-batch centroids is
    # DISTRIBUTION SHIFT: later batches no longer resemble the batch the
    # centroids were trained on, clusters stop being semantic
    # neighborhoods, and same-cluster probing silently loses recall.
    # The statistic: mean cosine of each absorbed vector to its HOME
    # centroid.  At train time that mean is as high as it will ever be;
    # as the stream drifts, new vectors land between stale centroids and
    # the rolling mean sinks.  ``maybe_recluster`` fires the store's
    # existing recluster path when the EWMA falls below
    # ``trigger_ratio`` × the train-time baseline, then re-baselines.
    # Drift state is ADVISORY (a lost drift table merely restarts the
    # baseline on the next absorb) — correctness never depends on it.

    def _read_drift(self, locked: bool = False):
        self._heal_drift(locked=locked)
        if not self._store_fs.has_data("drift"):
            return None
        row = self.spark.read.parquet(f"{self.path}/drift").first()
        return None if row is None else row.asDict()

    def _heal_drift(self, locked: bool = False) -> None:
        """Finish (or discard) an interrupted drift swap — the
        :meth:`_StoreFS.recover` rules, after dropping a data-less
        ``drift`` husk an interrupted delete can leave.  Advisory state,
        so any unresolvable shape just degrades to 'no drift state'
        (fresh baseline).

        Healing MUTATES the store, and ``_read_drift`` is reachable from
        read-only APIs (``drift_ratio``, ``maybe_recluster``): when the
        writer lock is present, a live absorb/recluster may be mid-swap
        in ``_write_drift``, and deleting or promoting its staged dir
        here would make the writer's checked rename fail — turning
        advisory drift state into a hard batch failure.  So readers only
        heal when no writer holds the lock (writers re-enter under the
        lock and heal properly), and any FS race that slips through the
        lock-free check degrades to a no-op rather than raising."""
        fs = self._store_fs
        if not locked and fs.exists(_StoreFS.LOCK):
            return  # live (or crashed-but-unrecovered) writer owns the swap
        try:
            if not fs.has_data("drift") and fs.exists("drift"):
                fs.delete("drift")
            fs.recover("drift", staged="_drift_staged")
        except Exception:
            # two lock-free readers can race each other's heal; losing
            # the race leaves either a healed store or a leftover staged
            # dir for the next heal — never corrupt live state
            pass

    def _write_drift(self, train_mean, ewma, n_batches: int) -> None:
        # the _StoreFS staged swap: a caller interrupted mid-write — e.g.
        # a streaming query stopped during the batch's tail absorb —
        # cannot destroy the PREVIOUS drift state, and _heal_drift
        # resolves either side of an interrupt between the renames
        fs = self._store_fs
        fs.recover("drift", staged="_drift_staged")
        self.spark.createDataFrame(
            [(float(train_mean), float(ewma), int(n_batches))],
            "train_mean double, ewma double, n_batches long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{self.path}/_drift_staged")
        fs.swap("drift", staged="_drift_staged")

    def _batch_home_mean(self, assigned: DataFrame):
        """Mean home-centroid cosine of one assignment (rank-1 rows;
        NULL (zero-norm) and NaN cosines excluded)."""
        row = (
            assigned.where(F.col("_rn") == 1)
            .where(F.col("_cc").isNotNull() & ~F.isnan("_cc"))
            .agg(F.avg("_cc").alias("m"))
            .first()
        )
        return None if row is None else row["m"]

    def _update_drift(self, assigned: DataFrame, creating: bool) -> None:
        m = self._batch_home_mean(assigned)
        if m is None:
            return
        st = None if creating else self._read_drift(locked=True)
        if st is None:
            # first tracked batch (or lost advisory state): this batch
            # IS the baseline
            self._write_drift(m, m, 1)
            return
        a = self.DRIFT_EWMA_ALPHA
        self._write_drift(
            st["train_mean"],
            a * m + (1 - a) * st["ewma"],
            st["n_batches"] + 1,
        )

    def drift_ratio(self):
        """EWMA home-similarity over the train-time baseline — < 1.0
        means newer batches sit farther from their centroids than the
        training batch did.  None when untracked/insufficient state."""
        st = self._read_drift()
        if not st or not st["train_mean"]:
            return None
        return st["ewma"] / st["train_mean"]

    def maybe_recluster(
        self,
        trigger_ratio: float = 0.9,
        min_batches: int = 3,
        num_centroids: int | None = None,
        lloyd_iters: int = 2,
    ) -> bool:
        """Drift-triggered maintenance: run :meth:`recluster` when the
        rolling home-similarity has decayed below ``trigger_ratio`` ×
        the train-time baseline over at least ``min_batches`` absorbed
        batches, then re-baseline the drift state against the NEW
        centroids (one bounded pass over the re-homed store).  Returns
        whether a recluster ran.  Cost when the trigger does not fire:
        one tiny parquet read."""
        st = self._read_drift()
        if (
            st is None
            or st["n_batches"] < min_batches
            or not st["train_mean"]
            or st["ewma"] / st["train_mean"] >= trigger_ratio
        ):
            return False
        self.recluster(num_centroids=num_centroids, lloyd_iters=lloyd_iters)
        if self._exists("postings") and self._exists("centroids"):
            vecs = (
                self.spark.read.parquet(f"{self.path}/postings")
                .select("doc", "vec")
                .dropDuplicates(["doc"])
            )
            cents = self.spark.read.parquet(f"{self.path}/centroids")
            m = self._batch_home_mean(self._assign(vecs, cents, 1))
            if m is not None:
                # under the writer lock like every other _write_drift
                # call site: the staged-swap rename must not race a
                # lock-free reader's heal (see _heal_drift)
                with self._store_fs.lock("drift-rebaseline"):
                    self._write_drift(m, m, 0)
        return True

    def recluster(
        self, num_centroids: int | None = None, lloyd_iters: int = 2
    ) -> None:
        """Offline maintenance: re-pick centroids uniformly over ALL
        accepted vectors, refine them with ``lloyd_iters`` k-means
        iterations, and RE-HOME every posting — the escape hatch from an
        unrepresentative (tiny/skewed) first batch, and the way to scale
        ``num_centroids`` as the store grows (see the class-docstring
        sizing table).  Deterministic (hash-ordered seeding, no RNG), so
        two runs over the same state converge to the same centroids.

        The new centroids and re-homed postings are staged and swapped
        in under the :class:`_StoreFS` names, both tables at once (see
        :meth:`_recluster_recover`), so probes stay consistent until the
        swap and a crash at any point heals on the next store open."""
        with self._store_fs.lock("recluster"):
            self._recluster_recover()
            self._store_fs.recover("postings")
            self._store_fs.recover("centroids")
            if not self._exists("postings"):
                if num_centroids is not None:
                    self.num_centroids = num_centroids
                return
            n = num_centroids if num_centroids is not None else self.num_centroids
            vecs = (
                self.spark.read.parquet(f"{self.path}/postings")
                .select("doc", "vec")
                .dropDuplicates(["doc"])  # collapse the store_replicas copies
                .localCheckpoint(eager=True)  # feeds seeding + every Lloyd pass
            )
            cents = self._pick_centroids(vecs, n)
            # the store's vectors share one dimension (absorb validates
            # against the batch's dominant dim) — one bounded read pins
            # it so the Lloyd mean can be `dim` partial-agg avg()s: the
            # update shuffle then carries O(partitions × k × dim)
            # partials instead of the posexplode form's N × dim rows
            # (the same plan shape as operators/cluster._update)
            dim_row = vecs.select(F.size("vec").alias("_d")).first()
            dim = int(dim_row["_d"]) if dim_row is not None else 0
            for _ in range(max(0, lloyd_iters)):
                # one Lloyd step, all DataFrame ops: assign each vector
                # to its nearest centroid, then element-wise mean per
                # cluster
                assigned = self._assign(vecs, cents, 1).select("doc", "vec", "bucket")
                cents = (
                    assigned.groupBy("bucket")
                    .agg(
                        F.array(
                            *[
                                F.avg(F.col("vec")[i]).cast("double")
                                for i in range(dim)
                            ]
                        ).alias("centvec")
                    )
                    .select(F.col("bucket").alias("centroid_id"), "centvec")
                )
            # cast refined centroids back to the postings' vector type so
            # downstream cosine math sees a consistent element type
            elem_t = dict(vecs.dtypes)["vec"]
            cents = cents.select(
                "centroid_id", F.col("centvec").cast(elem_t).alias("centvec")
            )
            cents.write.mode("overwrite").parquet(f"{self.path}/_compact_centroids")
            homes = self._assign(
                vecs, self.spark.read.parquet(f"{self.path}/_compact_centroids"),
                self.store_replicas,
            ).select("bucket", "doc", "vec")
            homes.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(f"{self.path}/_compact_postings")
            # All-or-nothing swap of BOTH tables: postings homes are only
            # meaningful under the centroid set that assigned them, so a
            # crash may not leave one table new and the other old.  The
            # inflight marker + deferred _old_ deletion gives
            # _recluster_recover an unambiguous decision point: roll BACK
            # while the staged centroids still exist, roll FORWARD once
            # the centroid swap (the commit point) has happened.
            sfs = self._store_fs
            sfs.touch(self._RECLUSTER_MARK)
            for sub in ("postings", "centroids"):  # centroids last = commit
                sfs.rename(sub, f"_old_{sub}")
                sfs.rename(f"_compact_{sub}", sub)
            for sub in ("postings", "centroids"):
                sfs.delete(f"_old_{sub}")
            sfs.delete(self._RECLUSTER_MARK, recursive=False)
            self.num_centroids = n


class SimHashDedupStore(_KeyTableStore):
    """Incremental SimHash near-dedup for continuous ingestion — the
    durable store form of :func:`simhash_dup_pairs`, completing the
    store family (exact / MinHash / SimHash / embedding).

    State is ONE append-only parquet table ``blocks``: the accepted
    documents' pigeonhole block keys with the full 60-bit sketch carried
    on every row — (doc, sk, blk_idx, blk_val, bvh, bkt), ``max_hamming
    + 1`` rows ≈ 250 bytes per accepted doc, never the text.  Because
    the sketch rides along, candidate generation AND hamming
    verification happen in the same pruned join; unlike the
    MinHash store there is no second state table to read.

    Layout and probe scale contract: :class:`_KeyTable`.  Recall is
    exact, not probabilistic: pigeonhole guarantees two sketches within
    ``max_hamming`` agree on ≥ 1 of the ``max_hamming + 1`` blocks, so a
    true near-dup cannot be missed by blocking (the MinHash store's
    banding is probabilistic).

    Sketches use the engine-portable md5-derived 60-bit token hashes
    (functions.text), so acceptance decisions are reproducible across
    engines — the DuckDB gate oracle recomputes identical sketches.

    Sizing ``max_hamming`` at scale: pigeonhole blocking splits the 60
    bits into ``max_hamming + 1`` blocks, so block keys are ``60 /
    (max_hamming + 1)`` bits wide — the ONLY selectivity the candidate
    join has.  At the default 6 that is 8–9 bits (≤ 512 distinct values
    per block index): fine up to ~10^6-doc stores, but at 10^9 docs a
    probe doc collides with ~store/512 rows per block and candidate
    volume, not I/O, becomes the bottleneck.  Use ``max_hamming`` ≤ 3
    (4 × 15-bit blocks, the classic simhash-dedup operating point) for
    billion-doc corpora, or prefer the MinHash store whose banding
    selectivity is tunable independently of the distance threshold.

    Delivery contract: :meth:`probe_dups` is strictly read-only,
    :meth:`absorb` mutates; streaming callers sink between the two
    (probe → pin → sink → absorb) for true at-least-once, exactly as
    documented on :class:`MinHashDedupStore`.

    Reference parity: absorbs the poll-loop re-delivery of
    in_sql.rb:136-161 like the other stores (SURVEY §2.9 T5).
    """

    _LAYOUT = ("num_buckets", "max_hamming", "layout")

    def __init__(
        self,
        spark,
        path: str,
        max_hamming: int = 6,
        num_buckets: int = 256,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.max_hamming = max_hamming
        self.num_buckets = num_buckets
        self._store_fs = _StoreFS(spark, self.path)
        self._store_fs.heal_on_open("blocks")
        # block boundaries define blk_val, so max_hamming is layout too
        self._store_fs.pin_layout(self, self._LAYOUT, ("blocks",))
        self._blocks = _KeyTable(
            self._store_fs, "blocks", "bkt", "bvh", self.num_buckets, hash_key=False
        )
        self._tables = (self._blocks,)

    # block boundaries: max_hamming+1 contiguous slices of the 60 bits
    def _bounds(self) -> list[int]:
        nb = self.max_hamming + 1
        return [i * 60 // nb for i in range(nb)] + [60]

    def _exists(self) -> bool:
        return self._store_fs.has_data("blocks")

    def _bvh(self):
        """64-bit hash of a (blk_idx, blk_val) row — the ``bvh`` column,
        bucket discriminator (pmod) and second-level pushed-filter key.
        MUST match on write and probe sides."""
        return F.xxhash64("blk_idx", "blk_val")

    @staticmethod
    def with_token_hashes(df: DataFrame, text_col: str) -> DataFrame:
        """``df`` plus ``hs``, its rows' portable token hashes — the
        stage runner's feature column for this store (a lazy map)."""
        return df.select("*", token_hashes(text_col).alias("hs"))

    def _sketch(
        self, df: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> DataFrame:
        """(doc, sk): portable 60-bit SimHash per row — a pure map.

        The token-hash array is materialized BEFORE the 60-bit fold:
        without the barrier, projection collapse substitutes the md5
        transform into every one of the 60 per-bit passes — the 60×
        recompute simhash_dup_pairs documents (79 s at sf0.1 when it
        regressed there).  With ``features``, ``df`` is the stage
        runner's pinned feature frame and carries them
        (:meth:`with_token_hashes`); otherwise they are computed here
        and pinned (eager localCheckpoint).  Probe and absorb pin the
        fold too, so it runs in the pin's parallel tasks, not in the one
        task of an absorb's append (:meth:`_KeyTable.append`)."""
        if features:
            hs = df.select(F.col(id_col).alias("doc"), "hs")
        else:
            hs = df.select(
                F.col(id_col).alias("doc"), token_hashes(text_col).alias("hs")
            ).localCheckpoint(eager=True)
        return hs.select("doc", simhash60_from_hashes("hs").alias("sk"))

    def _block_rows(self, sk: DataFrame) -> DataFrame:
        """(doc, sk, blk_idx, blk_val) unpivot — stack() is a
        zero-shuffle generator, same construction as simhash_dup_pairs."""
        bounds = self._bounds()
        nb = self.max_hamming + 1
        block_cols = [
            F.shiftright("sk", bounds[i])
            .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
            .alias(f"blk{i}")
            for i in range(nb)
        ]
        stack_expr = (
            f"stack({nb}, "
            + ", ".join(f"{i}, blk{i}" for i in range(nb))
            + ") as (blk_idx, blk_val)"
        )
        return sk.select("doc", "sk", *block_cols).selectExpr(
            "doc", "sk", stack_expr
        )

    def _pruned_block_scan(self, blocks: DataFrame) -> DataFrame:
        """The pruned blocks read for a probe batch, separated out so
        tests can assert its I/O metrics."""
        return self._blocks.scan(blocks.select(self._bvh().alias("bvh")))

    def _dup_ids(self, blocks: DataFrame) -> DataFrame:
        """Batch ids that are within ``max_hamming`` of the store OR of a
        lower-id row in the same batch."""
        ham = F.bit_count(F.col("o.sk").bitwiseXOR(F.col("n.sk")))
        internal = (
            blocks.alias("o")
            .join(
                blocks.alias("n"),
                (F.col("o.blk_idx") == F.col("n.blk_idx"))
                & (F.col("o.blk_val") == F.col("n.blk_val"))
                & (F.col("o.doc") < F.col("n.doc")),
            )
            .where(ham <= self.max_hamming)
            .select(F.col("n.doc").alias("dup"))  # keep the lower id
            .distinct()
        )
        if not self._exists():
            return internal
        cross = (
            self._pruned_block_scan(blocks)
            .alias("o")
            .join(
                F.broadcast(blocks).alias("n"),
                (F.col("o.blk_idx") == F.col("n.blk_idx"))
                & (F.col("o.blk_val") == F.col("n.blk_val")),
            )
            .where(ham <= self.max_hamming)
            .select(F.col("n.doc").alias("dup"))
            .distinct()
        )
        return cross.unionByName(internal).distinct()

    def probe_dups(
        self, df: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> DataFrame:
        """Read-only: ids in ``df`` within ``max_hamming`` of the store
        or of a lower-id row in the same batch.  ``features``: ``df``
        carries ``hs`` (:meth:`_sketch`)."""
        sk = self._sketch(df, text_col, id_col, features).localCheckpoint(eager=True)
        return self._dup_ids(self._block_rows(sk))

    def absorb(
        self, survivors: DataFrame, text_col: str, id_col: str, features: bool = False
    ) -> None:
        """Record ``survivors`` (already probed and sunk) as accepted.
        Re-derives the sketches — a pure map, so the method stays
        callable on a replayed/pinned DataFrame with no handoff state;
        the sketch pin's observed row count is the emptiness check.
        ``features``: ``survivors`` are the stage runner's pinned
        survivors, which carry ``hs``."""
        sk, rows = pin_counted(self._sketch(survivors, text_col, id_col, features))
        if not rows:  # an append of no rows still writes a file
            return
        blocks = self._block_rows(sk)
        with self._store_fs.lock("absorb"):
            self._begin_absorb()
            self._blocks.append(blocks.withColumn("bvh", self._bvh()))

    def process_batch(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """Probe + absorb in one call (batch jobs, gate queries): return
        the near-dup-free subset of ``df`` and absorb it.  Streaming
        callers should sink between ``probe_dups`` and ``absorb``.
        Hashes the tokens once: the probe and the absorb read one pinned
        frame that carries them."""
        hashed = self.with_token_hashes(df, text_col).localCheckpoint(eager=True)
        dups = self.probe_dups(hashed, text_col, id_col, features=True)
        # pin BEFORE the store mutates
        survivors = drop_ids(hashed, id_col, dups).localCheckpoint(eager=True)
        self.absorb(survivors, text_col, id_col, features=True)
        return survivors.select(*df.columns)
