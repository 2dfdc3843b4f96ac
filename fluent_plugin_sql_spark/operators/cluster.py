"""Distributed k-means (Lloyd) over embedding columns — the clustering
primitive of SemDeDup-style curation (Abbas et al. 2023: cluster the
corpus by embedding, then dedup/score within clusters) and of mixture
balancing (per-cluster sampling rates).

Reference parity note: the reference plugin (`/root/reference/lib/
fluent/plugin/in_sql.rb`) has no vector surface; this operator belongs
to the training-data-pipeline extension scope, composing with
`EmbeddingDedupStore` (which already uses one-shot hash-derived
centroids) by providing PROPER iteratively-refined centroids.

Scale shape — the canonical distributed Lloyd:

- **init**: deterministic, model-free — the ``k`` vectors with the
  smallest ``portable_id_hash(id)`` (distributed ``TakeOrderedAndProject``,
  then a window over exactly ``k`` rows).  md5-derived like the IVF/LSH
  seeds, so any engine can replicate the full run (the gate's DuckDB
  oracle re-runs every iteration from scratch).
- **assign** (per iteration): broadcast the k×dim centroid table
  (a few KB) against the corpus — the corpus NEVER shuffles for the
  join; squared-L2 is a sequential-fold ``zip_with`` expression
  (JVM codegen, deterministic addition order); argmin via
  ``min(struct(dist, cid))`` with map-side partial aggregation, so the
  only shuffle carries one row per vector.
- **update** (per iteration): per-cluster element-wise mean as ``dim``
  ``avg()`` aggregates — partial (map-side) aggregation means the
  shuffle carries O(partitions × k × dim) partials, never vectors.
  Empty clusters keep their previous centroid (standard Lloyd fix).

Cross-engine determinism: float addition is order-sensitive, and
Spark's partial aggregation sums partitions in arbitrary order — so raw
``avg()`` centroids can differ from any re-computation in the last ulp,
and a near-tie assignment could then flip.  ``centroid_decimals``
(default 6) rounds every updated centroid coordinate, collapsing both
engines onto identical values (the means would have to sit within an
ulp of a 1e-6 grid boundary to differ — vanishing) while perturbing the
Lloyd trajectory by ≤5e-7 per coordinate.  Distances computed from
identical centroids via identical sequential folds are bit-identical,
which is what lets the k-means gate query carry a full value-hash
oracle over every assignment.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import portable_id_hash

_LOG = logging.getLogger(__name__)


def _sq_l2(a, b):
    """Squared L2 distance as the repo's order-exact sequential fold
    (same addition order as similarity.dot/norm, mirrored in DuckDB by
    the plans' ``_dd_seq_sum``).  Terms are squares, so they are never
    -0.0 and the 0.0-seeded fold is bit-identical to a seedless one."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_double(x: float) -> str:
    """A double literal that parses for EVERY IEEE value: repr() of
    NaN/±Inf ('nan', 'inf') is not SQL — emitting it turned a NaN seed
    coordinate into an unresolved-column AnalysisException, a
    never-raise-contract violation caught by direct test."""
    x = float(x)
    if x != x:
        return "double('NaN')"
    if x == float("inf"):
        return "double('Infinity')"
    if x == float("-inf"):
        return "double('-Infinity')"
    return f"{x!r}D"


def _sq_l2_sql(vec_expr: str, literal: list[float]) -> str:
    """The same fold against a DRIVER-SIDE literal vector, generated as
    one SQL string: building it from ``F.lit`` Columns costs one py4j
    round-trip per component (the measured driver stall documented in
    similarity._hyperplane_buckets_sql); as a string it crosses py4j
    once and codegens flat."""
    arr = "array(" + ",".join(_sql_double(x) for x in literal) + ")"
    return (
        f"aggregate(zip_with({vec_expr}, {arr}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
    )


def _farthest_seeds(e: DataFrame, k: int) -> list[list[float]]:
    """Greedy farthest-point (k-center) seeds: start from the min-md5
    vector, then k-1 rounds of "the vector farthest from its nearest
    chosen seed" (ties by id).  Deterministic and engine-replicable
    like the hash init, and on separable data it lands one seed per
    mode — the property plain hash init lacks (two seeds in one blob
    leave Lloyd unable to split the merged rest).

    Scale: k-1 sequential one-pass jobs (each a codegen scan + top-1
    reduce; the driver collects exactly one k×dim seed list — a bounded
    maintenance read).  Right for curation-scale k (tens); for k in the
    thousands use k-means||-style oversampling instead (not
    implemented).

    Seed candidates are restricted to FINITE vectors: a NaN coordinate
    makes every distance NaN (which Spark sorts as LARGEST, so the
    desc-mind argmax would pick nothing but NaN vectors), and an Inf
    one monopolizes the argmax — both would waste every seed on
    garbage rows.  NaN/Inf vectors still get ASSIGNED at Lloyd time
    under IEEE semantics, like the hash init."""
    finite = e.where(
        F.forall(
            "v",
            lambda x: ~F.isnan(x) & (F.abs(x) < F.lit(float("inf"))),
        )
    )
    first = (
        finite.orderBy(portable_id_hash(F.col("vec_id")), "vec_id", "v")
        .limit(1)
        .collect()
    )
    if not first:
        return []
    seeds = [list(first[0].v)]
    # Incremental min-distance: carry (vec_id, v, mind) across rounds in
    # a localCheckpoint and fold ONLY the newest seed's distance in with
    # a binary least() — the previous formulation re-derived every
    # chosen seed's distance each round, so round i paid i O(dim) folds
    # per row AND an O(i)-fold expression to parse/analyze (the driver
    # stall dominated at gate scale).  least() is an exact associative
    # min (NULL-skipping and NaN-as-largest included), so every round's
    # mind — and therefore every argmax and seed — is value-identical
    # to the n-ary form the oracle replicates.  The argmax itself rides
    # the checkpoint job as an observed min(struct(-mind, vec_id, v)):
    # negation is an exact total-order flip for the non-NaN distances
    # finite x finite arithmetic produces, and the (vec_id, v) struct
    # tail is the same asc tie-break as the previous sort.
    from uuid import uuid4

    from pyspark.sql import Observation

    state = None
    for _ in range(1, k):
        new_d = F.expr(_sq_l2_sql("v", seeds[-1]))
        if state is None:
            st = finite.select("vec_id", "v", new_d.alias("mind"))
        else:
            st = state.select(
                "vec_id", "v", F.least(F.col("mind"), new_d).alias("mind")
            )
        obs = Observation(f"farthest_{uuid4().hex}")
        state = st.observe(
            obs,
            F.min(
                F.struct(
                    (-F.col("mind")).alias("nm"),
                    F.col("vec_id").alias("i"),
                    F.col("v").alias("v"),
                )
            ).alias("am"),
        ).localCheckpoint(eager=True)
        am = obs.get["am"]
        if am is None:
            break
        seeds.append(list(am["v"]))
    return seeds



def _valid_vectors(corpus, vec_col, id_col, dim):
    """(vec_id, v) with the dirty-data filter: NULL ids/vectors and
    wrong-length vectors dropped, elements cast to double."""
    return (
        corpus.where(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == dim)
        )
        .select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
    )


def _init_cents(corpus, e, k, init):
    """Deterministic initial centroid table (cid, c): md5-ordered
    top-k (in-plan; the numbering window sees exactly k rows) or the
    greedy k-center sweep."""
    if init == "farthest":
        picked = _farthest_seeds(e, k)
        return corpus.sparkSession.createDataFrame(
            [(i, s) for i, s in enumerate(picked)],
            "cid int, c array<double>",
        )
    # the trailing "v" sort key breaks duplicate-id ties
    # deterministically (dup vec_ids share the md5 hash, so without it
    # both the limit and the window pick an arbitrary dup's vector)
    seeds = e.orderBy(
        portable_id_hash(F.col("vec_id")), "vec_id", "v"
    ).limit(k)
    return seeds.select(
        (
            F.row_number().over(
                Window.orderBy(
                    portable_id_hash(F.col("vec_id")), "vec_id", "v"
                )
            )
            - 1
        ).alias("cid"),
        F.col("v").alias("c"),
    )


def kmeans_embeddings(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_decimals: int | None = 6,
    init: str = "hash",
    numeric_mode: str = "fold",
) -> DataFrame:
    """Lloyd's k-means: returns one row per valid input vector —
    ``(vec_id, cluster, dist)`` where ``cluster`` is the 0-based
    centroid index after ``iters`` assign/update rounds and ``dist``
    the squared L2 to its final centroid.

    ``init``: ``"hash"`` (default) seeds from the k smallest-md5
    vectors — zero extra passes, fully in-plan; ``"farthest"`` runs the
    greedy k-center sweep of :func:`_farthest_seeds` — k-1 extra scans,
    but recovers separable modes reliably.  Both are deterministic and
    engine-replicable.

    Input hygiene (the dirty-data contract): NULL ids, NULL vectors and
    vectors whose length ≠ ``dim`` are dropped up front — never an
    error.  NaN/Inf coordinates flow through IEEE semantics (NaN
    distances rank last in the argmin struct), still never an error.

    ``centroid_decimals=None`` disables update rounding (pure Lloyd)
    at the cost of cross-engine replicability — see the module
    docstring.  For large ``iters``, cache/checkpoint ``corpus``
    upstream: each iteration re-reads it (two scans per round —
    assign + update share one).

    ``numeric_mode="vectorized"``: assignment distances run as numpy
    GEMMs over Arrow batches instead of interpreted folds — the 100 TB
    arithmetic path (see :func:`_assign` and operators/dense.py); the
    fold mode stays the oracle default."""
    if numeric_mode not in ("fold", "vectorized"):
        raise ValueError(
            f"numeric_mode must be 'fold' or 'vectorized', got {numeric_mode!r}"
        )
    if iters < 1:
        # iters=0 would leave the assignment undefined (best=None →
        # AttributeError deep in the plan build); fail loud at entry
        # like sample_frames' every_n_bytes guard
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = _valid_vectors(corpus, vec_col, id_col, dim)

    cents = _init_cents(corpus, e, k, init)

    best = None
    for it in range(iters):
        best = _assign(e, cents, numeric_mode)
        if it < iters - 1:
            cents = _update(best, cents, dim, centroid_decimals)
            if numeric_mode == "vectorized":
                # pin the ≤k-row centroid table: the vectorized assign
                # collects it, and without the pin each iteration's
                # collect replays the whole preceding Lloyd lineage
                cents = cents.localCheckpoint(eager=False)
    return best.select(
        "vec_id", F.col("cid").alias("cluster"), "dist"
    )


def _assign(
    e: DataFrame, cents: DataFrame, numeric_mode: str = "fold"
) -> DataFrame:
    """One Lloyd assignment: broadcast centroids, fold distances,
    argmin via min(struct) with map-side partials.

    Duplicate-id contract: ``v`` rides INSIDE the argmin struct, so the
    vector retained for a duplicated ``vec_id`` is the argmin ROW's own
    vector — exactly the row the oracle's
    ``row_number() OVER (... ORDER BY dist, cid, v) = 1`` keeps (a
    previous ``F.min("v")`` side-aggregate could retain the
    lexicographic-min vector while the argmin came from a DIFFERENT dup
    row, so multi-iteration runs on dup-id corpora diverged from the
    value-hash oracles — the r9 advice finding).  Struct comparison is
    field-by-field (arrays lexicographic, same as DuckDB), so ``v`` also
    breaks exact (dist, cid) ties deterministically.

    ``numeric_mode="vectorized"`` swaps the fold-scoring stage for one
    numpy GEMM per Arrow batch (``dense.assign_argmin_vectorized``) —
    O(batch × k) flops instead of interpreted folds; the dup-collapsing
    ``min(struct)`` shuffle is identical.  Trades the fully-lazy plan
    for one bounded k×dim centroid collect per call (the same table the
    fold path broadcasts — and the same read MLlib does per
    iteration)."""
    if numeric_mode == "vectorized":
        from .dense import assign_argmin_vectorized

        scored1 = assign_argmin_vectorized(e, cents)
        return (
            scored1.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid", "v")).alias("b"))
            .select("vec_id", F.col("b.cid").alias("cid"),
                    F.col("b.dist").alias("dist"), F.col("b.v").alias("v"))
        )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "cid",
        _sq_l2(F.col("v"), F.col("c")).alias("dist"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid", "v")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"),
                F.col("b.dist").alias("dist"), F.col("b.v").alias("v"))
    )


def _update(
    best: DataFrame, cents: DataFrame, dim: int, centroid_decimals
) -> DataFrame:
    """One Lloyd update: per-cluster element-wise mean (dim partial-agg
    avg()s), rounded to the cross-engine grid; empty clusters keep
    their previous centroid."""
    mean_i = [F.avg(F.col("v")[i]) for i in range(dim)]
    if centroid_decimals is not None:
        mean_i = [F.round(m, centroid_decimals) for m in mean_i]
    means = best.groupBy("cid").agg(F.array(*mean_i).alias("m"))
    # both sides are ≤ k rows; without the hint Catalyst plans a
    # SortMergeJoin (full exchange) for this k-row join
    return cents.join(F.broadcast(means), "cid", "left").select(
        "cid", F.coalesce("m", "c").alias("c")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_decimals: int | None = 6,
    init: str = "hash",
    numeric_mode: str = "fold",
) -> DataFrame:
    """The TRAINED centroid table ``(cid, c)`` after ``iters`` full
    assign+update rounds (note: one more update than
    :func:`kmeans_embeddings` runs before its final assignment) — the
    input to centroid-consuming builds like
    ``similarity.build_ivf_index(centroid_mode="kmeans")``, where
    refined centroids balance posting lists far better than the k
    arbitrary corpus vectors the hash pick yields."""
    e = _valid_vectors(corpus, vec_col, id_col, dim)
    cents = _init_cents(corpus, e, k, init)
    for _ in range(iters):
        cents = _update(
            _assign(e, cents, numeric_mode), cents, dim, centroid_decimals
        )
        if numeric_mode == "vectorized":
            cents = cents.localCheckpoint(eager=False)
    return cents


#: Flat floor for the ``"auto"`` SemDeDup cluster cap: below this a
#: cluster's pair join is at most ~5×10⁵ comparisons — cheap on any
#: executor — so salting it would only cost recall for nothing.
SEMDEDUP_AUTO_CAP_FLOOR = 1000

#: ``"auto"`` cap multiple of the mean cluster size ⌈N/k⌉.  A cluster
#: engages the salt only when it holds >10× its fair share of the
#: corpus — true mega-skew (for k ≤ 10 that exceeds N itself, so small-k
#: runs are mathematically bit-identical to the unguarded plan).
SEMDEDUP_AUTO_CAP_MULTIPLE = 10


def _validate_cap(max_cluster_size) -> None:
    """Entry validation for the SemDeDup salt cap: a flat int cap must
    be >= 1 — 0 used to fall through the falsy ``if max_cluster_size:``
    to the unguarded path, and after the ``is not None`` fix it would
    instead reach ``F.ceil(_n / _cap)`` and raise DIVIDE_BY_ZERO at
    runtime under the repo's ANSI default.  Fail loud at build, like
    the iters guard."""
    if max_cluster_size is None or max_cluster_size == "auto":
        return
    if not isinstance(max_cluster_size, int) or max_cluster_size < 1:
        raise ValueError(
            "max_cluster_size must be 'auto', None, or an int >= 1, "
            f"got {max_cluster_size!r}"
        )


def _sizes_with_cap(
    sizes: DataFrame, max_cluster_size: int | str, k: int
) -> DataFrame:
    """Attach the effective per-run ``_cap`` column to the ≤k-row
    cluster-size aggregate.  ``"auto"`` derives it from the TOTAL valid
    count N (a window sum over the size rows — no corpus action):
    ``max(SEMDEDUP_AUTO_CAP_FLOOR, SEMDEDUP_AUTO_CAP_MULTIPLE×⌈N/k⌉)``."""
    if max_cluster_size == "auto":
        total = F.sum("_n").over(Window.partitionBy(F.lit(1)))
        cap = F.greatest(
            F.lit(SEMDEDUP_AUTO_CAP_FLOOR).cast("long"),
            (
                SEMDEDUP_AUTO_CAP_MULTIPLE
                * F.ceil(total / F.lit(k))
            ).cast("long"),
        )
    else:
        cap = F.lit(int(max_cluster_size)).cast("long")
    return sizes.withColumn("_cap", cap)


def semdedup_cap_stats(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "hash",
    max_cluster_size: int | str = "auto",
) -> DataFrame:
    """Per-cluster cap diagnostics for :func:`semdedup_prune`'s salt
    guard: ``(cluster, size, cap, shards, capped)`` — ``capped`` true
    where the mega-cluster salt engages.  The execution-time engagement
    notice the lazy builder can't emit itself: the curation runner (and
    any caller that wants a log line) collects these ≤k rows — a free
    read once the k-means assignment materializes — and logs which
    clusters were sharded."""
    _validate_cap(max_cluster_size)
    a = kmeans_embeddings(corpus, k, iters, dim, vec_col, id_col, init=init)
    sizes = _sizes_with_cap(
        a.groupBy("cluster").agg(F.count("*").alias("_n")),
        max_cluster_size,
        k,
    )
    return sizes.select(
        "cluster",
        F.col("_n").alias("size"),
        F.col("_cap").alias("cap"),
        F.when(
            F.col("_n") > F.col("_cap"),
            F.ceil(F.col("_n") / F.col("_cap")).cast("long"),
        )
        .otherwise(F.lit(1).cast("long"))
        .alias("shards"),
        (F.col("_n") > F.col("_cap")).alias("capped"),
    )


def semdedup_prune(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "hash",
    max_cluster_size: int | None | str = "auto",
    numeric_mode: str = "fold",
    cross_shard_recovery: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the corpus, then prune
    within-cluster semantic near-duplicates — returns one row per valid
    vector as ``(vec_id, cluster, keep)`` where ``keep`` is false iff a
    LOWER-id vector in the same cluster has cosine ≥ ``tau`` (the
    deterministic keep-first variant of the paper's per-group
    representative pick).

    Scale shape: the expensive global O(N²) comparison the paper avoids
    is avoided here the same way — pairs exist only WITHIN a cluster,
    so the self-join shuffles once on the cluster key and costs
    Σ|cluster|², controlled by ``k`` (pick k so clusters are ~10³-10⁴
    docs).  The skewed-mega-cluster hazard is guarded BY DEFAULT:
    ``max_cluster_size`` deterministically salt-splits any cluster
    above it (md5 of the id, ⌈size/cap⌉ shards — the same hot-key
    treatment as ``session_windows_salted``), bounding the pair cost at
    Σ shards·cap² per cluster.

    ``max_cluster_size``:

    - ``"auto"`` (the default): the cap is computed IN-PLAN from the
      assignment sizes as
      ``max(SEMDEDUP_AUTO_CAP_FLOOR, 10 × ⌈N/k⌉)`` — no extra corpus
      scan or eager action (the size aggregate is ≤ k rows).  Only a
      cluster holding >10× the mean corpus share is sharded — the
      boilerplate-mega-cluster scenario that turns the pair join into a
      dead stage at 100× — so ordinary runs are bit-identical to the
      unguarded plan.
    - an ``int``: a flat cap.
    - ``None``: EXPLICIT opt-out — the unguarded quadratic join.

    The trade when a cap engages is the standard salting one: near-dups
    landing in different shards of the SAME cluster are missed (keep
    becomes a superset — strictly fewer prunes, never a wrong prune);
    clusters at or under the cap are bit-identical to the unguarded
    run.  Engagement is data-dependent and this builder is lazy, so the
    notice at execution time comes from :func:`semdedup_cap_stats`
    (the curation runner logs it); the policy itself is logged here at
    build.  Zero-norm embeddings score NULL cosine (never an error) and
    are always kept.

    ``numeric_mode="vectorized"``: both the k-means assignment and the
    within-group pair comparison run as numpy matmuls (one Gram matrix
    per salt-capped group — ≤ cap² by construction); same keeps up to
    the documented ulp class, fold stays the oracle default.

    ``cross_shard_recovery`` (opt-in): when the salt cap engages, run a
    SECOND independently-salted prune pass over the first pass's
    surviving rows of the capped clusters — recovering most of the
    cross-shard near-dups the first salt split, for one more bounded
    pair join.  Recovered prunes are still a subset of the unguarded
    join's prunes (round-2 pruners are round-1 keepers), so keep
    remains a superset of the unguarded keeps; no effect on uncapped
    clusters or when no cap engages."""
    _validate_cap(max_cluster_size)
    if numeric_mode not in ("fold", "vectorized"):
        raise ValueError(
            f"numeric_mode must be 'fold' or 'vectorized', got {numeric_mode!r}"
        )
    from .similarity import cosine_prenorm, portable_id_hash
    from .similarity import norm as _sim_norm

    a = kmeans_embeddings(
        corpus, k, iters, dim, vec_col, id_col, init=init,
        numeric_mode=numeric_mode,
    ).select("vec_id", "cluster")
    # deterministic dup-id pick (min array) mirrors _assign's contract;
    # the groupBy and the following join share the vec_id key, so the
    # aggregate's exchange is reused — no extra corpus shuffle
    v = (
        corpus.where(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == dim)
        )
        .select(
            F.col(id_col).alias("vec_id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("v"),
        )
        .groupBy("vec_id")
        .agg(F.min("v").alias("v"))
    )
    # the assignment feeds three consumers (both prune-join sides and
    # the final keep join); without pinning, each re-runs the whole
    # Lloyd lineage — localCheckpoint cuts the re-computation and caps
    # the plan at one k-means pass (same pattern as the MinHash
    # candidate pin in dedup.py)
    av = a.join(v, "vec_id").localCheckpoint(eager=False)
    if max_cluster_size is not None:
        # the cap column is computed ON the ≤k-row size aggregate
        # (window-summing N there is free); joined rows then carry
        # their cluster's (_n, _cap) pair
        sizes = _sizes_with_cap(
            av.groupBy("cluster").agg(F.count("*").alias("_n")),
            max_cluster_size,
            k,
        )
        _LOG.info(
            "semdedup_prune: mega-cluster salt cap ON (%s); clusters "
            "above the cap are md5-salt-sharded — keep is a superset "
            "within those clusters only",
            "auto: max(%d, %d*ceil(N/%d))"
            % (SEMDEDUP_AUTO_CAP_FLOOR, SEMDEDUP_AUTO_CAP_MULTIPLE, k)
            if max_cluster_size == "auto"
            else f"flat cap {max_cluster_size}",
        )
        shards = F.ceil(F.col("_n") / F.col("_cap")).cast("long")
        pair_key = F.concat_ws(
            "#",
            F.col("cluster").cast("string"),
            F.when(
                F.col("_n") > F.col("_cap"),
                F.pmod(portable_id_hash(F.col("vec_id")), shards).cast(
                    "string"
                ),
            ).otherwise(F.lit("")),
        )
        # sizes is ≤ k rows — broadcast, no extra shuffle of av
        av = (
            av.join(F.broadcast(sizes), "cluster")
            .withColumn("_pk", pair_key)
        )
    else:
        # unguarded (explicit opt-out): join on the int cluster id
        # directly (a string pair key would cost a cast+concat per row
        # for nothing)
        av = av.withColumn("_pk", F.col("cluster"))

    def _prune_pass(rows):
        if numeric_mode == "vectorized":
            from .dense import semdedup_pairs_vectorized

            return semdedup_pairs_vectorized(
                rows.select("_pk", "vec_id", "v"), tau
            )
        # per-row norm before the self-join: the pair predicate then
        # folds only the dot per pair instead of dot + both norms
        # (similarity.cosine_prenorm — bit-identical, NULL set included)
        nr = rows.withColumn("_nv", _sim_norm(F.col("v")))
        x, y = nr.alias("x"), nr.alias("y")
        return (
            x.join(
                y,
                (F.col("x._pk") == F.col("y._pk"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .where(
                cosine_prenorm(
                    F.col("x.v"), F.col("y.v"), F.col("x._nv"), F.col("y._nv")
                )
                >= tau
            )
            .select(F.col("y.vec_id").alias("vec_id"))
            .distinct()
        )

    prune_sets = [_prune_pass(av)]
    if max_cluster_size is not None and cross_shard_recovery:
        # SECOND salted pass over round-1 survivors of the CAPPED
        # clusters only, with an independent salt: a near-dup pair the
        # first salt split lands in one shard here with probability
        # 1/shards — two rounds cut the expected miss rate from
        # (1 − 1/s) to (1 − 1/s)², at one more Σ shards·cap²-bounded
        # pair join.  Round-2 pruners are round-1 KEEPERS, so every
        # recovered prune is one the unguarded join would also make
        # (keep stays a superset of the unguarded keeps; wrong prunes
        # remain impossible).
        # EAGER pin on the round-1 prunes: they feed both the survivor
        # anti-join and the final keep join, and a lazy plan here both
        # re-runs the quadratic join and (unioned with a sibling
        # derived from the same `av` lineage) trips Catalyst's Union
        # constraint rewrite — which is also why the rounds are kept as
        # SEPARATE keep joins below instead of a union.
        prune_sets[0] = prune_sets[0].localCheckpoint(eager=True)
        salt2 = F.pmod(
            portable_id_hash(
                F.concat_ws(
                    ":", F.col("vec_id").cast("string"), F.lit("r2")
                )
            ),
            F.ceil(F.col("_n") / F.col("_cap")).cast("long"),
        )
        kept_capped = (
            av.where(F.col("_n") > F.col("_cap"))
            .join(prune_sets[0], "vec_id", "left_anti")
            .withColumn(
                "_pk",
                F.concat_ws(
                    "#", F.col("cluster").cast("string"),
                    salt2.cast("string"), F.lit("r2"),
                ),
            )
        )
        prune_sets.append(_prune_pass(kept_capped))
    av = av.drop("_pk", "_n", "_cap")  # drop() ignores absent columns
    out = av
    flags = []
    for i, p in enumerate(prune_sets):
        flag = f"_pruned{i}"
        out = out.join(
            p.withColumn(flag, F.lit(True)), "vec_id", "left"
        )
        flags.append(F.coalesce(F.col(flag), F.lit(False)))
    keep = ~flags[0]
    for fl in flags[1:]:
        keep = keep & ~fl
    return out.select("vec_id", "cluster", keep.alias("keep"))


def _finite_vectors(e: DataFrame) -> DataFrame:
    """Rows whose vector is fully finite — the seed/candidate universe
    for every init scheme (NaN distances poison argmax/priority math;
    non-finite rows still get ASSIGNED under IEEE semantics later)."""
    return e.where(
        F.forall(
            "v",
            lambda x: ~F.isnan(x) & (F.abs(x) < F.lit(float("inf"))),
        )
    )


def _cand_sq_dmin(v, cands):
    """min squared-L2 from ``v`` to a (possibly empty) array-of-vectors
    column — an expression fold (no join, no shuffle): least() is
    order-insensitive over the finite distances this is used on, so the
    collect_list order feeding ``cands`` cannot affect the result."""
    return F.aggregate(
        cands,
        F.lit(float("inf")),
        lambda acc, c: F.least(acc, _sq_l2(v, c)),
    )


def _round_priority(rnd: int):
    """The deterministic k-means|| sampling priority: ``uh / dmin``
    ascending, where ``uh`` is a 40-bit md5 draw from (vec_id, round).

    This replaces the paper's coin-flip ``min(1, l·d²/φ)`` with
    EXACTLY-s weighted priority sampling (smallest ``u/w`` wins — the
    division-only cousin of exponential-race sampling): selection
    probability still grows with d², but there is NO global cost φ to
    sum — which removes both a per-round driver action AND the
    cross-engine hazard of comparing against an order-sensitive
    distributed float sum.  Every operand is engine-exact: dmin is a
    fold between two exact input vectors, uh is an integer < 2^40
    (exact in a double), and one IEEE division is bit-identical
    everywhere — so the sampled candidate SET is replicable, which is
    what lets the gate query carry a full value-hash oracle.
    dmin == 0 (already a candidate, or co-located with one) yields
    NULL via try_divide → NULLS LAST → never reselected."""
    uh = (
        F.pmod(
            portable_id_hash(
                F.concat_ws(
                    ":", F.col("vec_id").cast("string"), F.lit(str(rnd))
                )
            ),
            F.lit(1 << 40),
        )
        + 1
    ).cast("double")
    return F.try_divide(uh, F.col("dmin"))


#: Default driver budget (array elements ≈ float64s) for the k-means||
#: weighted-k-means++ refine, whose candidate set IS collected to the
#: driver (the same bounded maintenance read MLlib's k-means|| does).
#: The collect is O((1 + rounds×l) × dim) elements; 5×10⁷ ≈ 400 MiB of
#: raw float64 — beyond that the "bounded" read starts threatening
#: driver heap, so the builder fails loud instead (override or disable
#: via ``driver_budget_elems``).  Default parameters stay far under it
#: (k=10⁵, l=2k, rounds=2, dim=64 → 2.56×10⁷).
PARALLEL_REFINE_DRIVER_BUDGET = 50_000_000


def kmeans_parallel_centroids(
    corpus: DataFrame,
    k: int,
    dim: int = 64,
    l: int | None = None,
    rounds: int = 2,
    refine_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_decimals: int | None = 6,
    weight_mode: str = "auto",
    driver_budget_elems: int | None = PARALLEL_REFINE_DRIVER_BUDGET,
    numeric_mode: str = "fold",
) -> DataFrame:
    """Large-k centroid training via k-means|| (Bahmani et al., VLDB
    2012): oversample ~``rounds × l`` spread-out candidates in a few
    passes, weight each by the corpus mass nearest to it, then run
    WEIGHTED Lloyd on the small candidate set down to ``k`` centroids.
    Returns ``(cid, c)`` like :func:`kmeans_centroids`.

    This is the init for k in the 10⁴-10⁵ range (production IVF posting
    lists), where the greedy ``init="farthest"`` k-center sweep — k−1
    sequential driver-round-trip scans (cluster.py:99) — is
    structurally infeasible.  Scale shape, per round: one TakeOrdered
    top-s selection (partition-local top-s, then an s-row exchange) and
    one expression-level dmin update against the ≤l new candidates
    broadcast as ONE array literal row — the corpus is never shuffled
    and the driver never collects a vector during sampling; the whole
    init is a single lazy plan.  The weighting pass reduces to
    map-side partial counts (argmin over the candidate array is a
    per-row expression), and the weighted refine runs on the
    O(rounds × l)-row candidate table only.

    ``weight_mode``: ``"auto"`` (default) weights candidates with the
    exact flat argmin below ``WEIGHT_TWO_LEVEL_MIN_CANDS`` candidates
    and the O(√|C|)-folds two-level router above it (the N×|C| flat
    pass is the dominant training cost at large k — measured ~75% of
    the k=4096/100k wall); ``"flat"`` / ``"two_level"`` force a path.

    Determinism contract (mirrored by the gate oracle): md5-derived
    priorities (see :func:`_round_priority`), exact-input-vector
    distances during sampling, (dist, id) struct argmin ties, and the
    1e-6 centroid grid on weighted means.  Duplicate ids (dirty dup-id
    corpora) are collapsed to their min vector BEFORE sampling and
    weighting, on both engines — one vote and one selection slot per
    distinct id.  An empty or all-non-finite corpus yields an empty
    centroid table — never an error.

    ``driver_budget_elems``: the refine collects the O((1+rounds×l)×dim)
    candidate set to the driver for the weighted k-means++ seeding;
    above this element budget (default
    :data:`PARALLEL_REFINE_DRIVER_BUDGET`, ≈400 MiB of float64) the
    builder raises at entry instead of risking the driver heap — pass a
    larger value or ``None`` to override.

    ``numeric_mode="vectorized"``: the weighting pass — the dominant
    training cost at large k (measured ~75% of the k=4096/100k wall) —
    runs as one N×|C| numpy GEMM per Arrow batch
    (``dense.weights_argmin_vectorized``) instead of interpreted folds.
    The GEMM rate is ~2 orders above the fold rate, so the vectorized
    FLAT pass outruns the interpreted two-level router across the
    practical candidate range — ``weight_mode`` is therefore ignored in
    this mode (exact flat weights, no routing approximation).  Fold
    stays the default/oracle mode."""
    if rounds < 1 or refine_iters < 1:
        raise ValueError("rounds and refine_iters must be >= 1")
    if numeric_mode not in ("fold", "vectorized"):
        raise ValueError(
            f"numeric_mode must be 'fold' or 'vectorized', got {numeric_mode!r}"
        )
    if weight_mode not in ("auto", "flat", "two_level"):
        raise ValueError(
            f"weight_mode must be 'auto', 'flat' or 'two_level',"
            f" got {weight_mode!r}"
        )
    if l is None:
        l = 2 * k
    budget = driver_budget_elems
    if budget is not None and (1 + rounds * l) * dim > budget:
        raise ValueError(
            f"k-means|| refine would collect ~{(1 + rounds * l) * dim:,}"
            f" candidate elements (> driver_budget_elems={budget:,},"
            f" ~{budget * 8 // 2**20} MiB of float64) to the driver for"
            " the weighted k-means++ seeding — reduce l/rounds, or"
            " raise/disable driver_budget_elems=None if the driver has"
            " the headroom"
        )
    e = _valid_vectors(corpus, vec_col, id_col, dim)
    # ONE dedup of the sampling universe (min vector per id) fixes every
    # dup-id divergence at the source: without it, duplicated ids
    # consume multiple of the l selection slots per round on the Spark
    # side while the oracle's GROUP BY collapses them, and the flat
    # weighting counts one vote per corpus ROW while the oracle's
    # argmin partitions by id — both r9 advice findings.  The oracle's
    # fin CTE applies the same GROUP BY vec_id, min(v).  Cost: one
    # (vec_id, v) shuffle before training, reused by every round's
    # lineage via Spark's shuffle-stage reuse.
    finite = (
        _finite_vectors(e).groupBy("vec_id").agg(F.min("v").alias("v"))
    )

    c0 = (
        finite.orderBy(portable_id_hash(F.col("vec_id")), "vec_id", "v")
        .limit(1)
    )
    if numeric_mode == "vectorized":
        # GEMM sampling: the per-round dmin update — N×l folds per
        # round in fold mode, the other half of the training
        # arithmetic — runs in dense.dmin_update_vectorized.  Trades
        # the fold mode's single lazy plan for one bounded ≤l-row
        # collect per round (the selected candidates, which the driver
        # refine collects anyway) plus lazy per-round checkpoints that
        # linearize the otherwise O(rounds²) lineage recompute.
        from .dense import dmin_update_vectorized

        sel_rows = [(r.vec_id, list(r.v)) for r in c0.collect()]
        if sel_rows:
            state = dmin_update_vectorized(
                finite, [v for _, v in sel_rows], first=True
            ).localCheckpoint(eager=False)
            for r in range(1, rounds + 1):
                pri = _round_priority(r)
                sel = (
                    state.select("vec_id", "v", pri.alias("_pri"))
                    .where(F.col("_pri").isNotNull())
                    .orderBy(F.asc("_pri"), F.asc("vec_id"))
                    .limit(l)
                    .select("vec_id", "v")
                )
                new = [(row.vec_id, list(row.v)) for row in sel.collect()]
                sel_rows += new
                if r < rounds and new:
                    state = dmin_update_vectorized(
                        state, [v for _, v in new]
                    ).localCheckpoint(eager=False)
        # dup-id min-v collapse (ids are unique post-dedup; kept for
        # parity with the fold tail), then the shared driver refine
        dedup: dict = {}
        for vid, vv in sel_rows:
            if vid not in dedup or vv < dedup[vid]:
                dedup[vid] = vv
        cand_rows = sorted(dedup.items())
        cands = None
    else:
        cand_dfs = [c0.select("vec_id", "v")]
        arr0 = c0.agg(F.collect_list("v").alias("_cands"))
        state = finite.crossJoin(F.broadcast(arr0)).select(
            "vec_id",
            "v",
            _cand_sq_dmin(F.col("v"), F.col("_cands")).alias("dmin"),
        )
        for r in range(1, rounds + 1):
            pri = _round_priority(r)
            sel = (
                state.select("vec_id", "v", pri.alias("_pri"))
                .where(F.col("_pri").isNotNull())
                .orderBy(F.asc("_pri"), F.asc("vec_id"))
                .limit(l)
                .select("vec_id", "v")
            )
            cand_dfs.append(sel)
            if r < rounds:
                arr = sel.agg(F.collect_list("v").alias("_cands"))
                state = state.crossJoin(F.broadcast(arr)).select(
                    "vec_id",
                    "v",
                    F.least(
                        F.col("dmin"),
                        _cand_sq_dmin(F.col("v"), F.col("_cands")),
                    ).alias("dmin"),
                )
        cands = cand_dfs[0]
        for d in cand_dfs[1:]:
            cands = cands.unionByName(d)
        # dup-id hygiene (min vector per id) + pin: the candidate table
        # feeds the weighting argmin, the refine corpus, and the refine
        # init — without the checkpoint each consumer re-runs the whole
        # sampling cascade
        cands = (
            cands.groupBy("vec_id")
            .agg(F.min("v").alias("v"))
            .localCheckpoint(eager=False)
        )

    # weight(c) = |{x : argmin over candidates = c}|.  The flat form is
    # N × |C| distance folds — fine for curation-scale candidate sets
    # but the dominant cost at large k (k=4096/100k measured: the
    # weighting was ~75% of the 1792 s training wall); above the
    # threshold the two-level router cuts folds per corpus row from
    # |C| to O(√|C|) at the usual boundary-approximation trade
    if numeric_mode == "vectorized":
        # GEMM flat weighting (exact — no routing approximation): the
        # candidate table rides positionally so ids never cross the
        # Arrow boundary; weights come back as position counts and the
        # (already driver-bound) refine rows are assembled here
        from .dense import weights_argmin_vectorized

        if cand_rows:
            pos_w = {
                r.cand_pos: r.w
                for r in weights_argmin_vectorized(finite, cand_rows)
                .groupBy("cand_pos")
                .agg(F.count("*").alias("w"))
                .collect()
            }
        else:
            pos_w = {}
        rows = [
            (vid, v, float(pos_w.get(i, 0)))
            for i, (vid, v) in enumerate(cand_rows)
        ]
        from pyspark.sql.types import DoubleType, StructField, StructType

        candw = corpus.sparkSession.createDataFrame(
            rows,
            StructType(
                [
                    StructField("vec_id", finite.schema["vec_id"].dataType),
                    StructField("v", finite.schema["v"].dataType),
                    StructField("w", DoubleType()),
                ]
            ),
        )
    else:
        if weight_mode == "auto":
            n_cands = cands.count()  # ≤ 1 + rounds×l rows, checkpointed
            two_level = n_cands > WEIGHT_TWO_LEVEL_MIN_CANDS
        else:
            two_level = weight_mode == "two_level"
            n_cands = cands.count() if two_level else 0
        nearest = (
            _weights_two_level(finite, cands, n_cands)
            if two_level
            else _weights_flat(finite, cands)
        )
        candw = cands.join(
            nearest, cands.vec_id == nearest.cand_id, "left"
        ).select(
            "vec_id", "v",
            F.coalesce("w", F.lit(0)).cast("double").alias("w"),
        )
        # deterministic weighted k-means++ seeding on the COLLECTED
        # candidate set (a bounded O(rounds×l×dim) maintenance read —
        # the same driver-side refine MLlib's k-means|| uses), then
        # distributed weighted Lloyd.  Plain hash init here merges
        # modes: two seeds in one dense mode leave weighted Lloyd
        # stuck (observed directly).
        rows = sorted(
            ((r.vec_id, list(r.v), r.w) for r in candw.collect()),
            key=lambda t: t[0],
        )
    seeds = _pp_seeds(rows, k)
    if not seeds:
        return corpus.sparkSession.createDataFrame(
            [], "cid int, c array<double>"
        )
    cents = corpus.sparkSession.createDataFrame(
        [(i, s) for i, s in enumerate(seeds)], "cid int, c array<double>"
    )
    for _ in range(refine_iters):
        a = _wassign(candw, cents)
        cents = _wupdate(a, cents, dim, centroid_decimals)
    return cents


#: Candidate-count threshold above which ``weight_mode="auto"``
#: switches the k-means|| weighting pass from the flat N×|C| argmin to
#: the two-level router.  Below it the flat expression is both faster
#: (no corpus shuffle) and exact; the gate-query parameter space
#: (1 + rounds×l ≤ 25) sits far below it, so the DuckDB oracles model
#: the flat path unconditionally.
WEIGHT_TWO_LEVEL_MIN_CANDS = 4096

#: Two-level weighting knobs: candidate-side cell replicas and
#: corpus-side probed cells (the same boundary-visibility levers as
#: ``assign_two_level``'s fine_replicas/nprobe).
_W2L_REPLICAS = 2
_W2L_NPROBE = 2


def _weights_flat(finite: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact candidate weights: per-corpus-row argmin over the ONE-ROW
    candidate array (broadcast), so the only shuffle carries map-side
    partial counts.  N × |C| folds — right below
    ``WEIGHT_TWO_LEVEL_MIN_CANDS``."""
    cs = cands.agg(
        F.collect_list(F.struct("vec_id", "v")).alias("_cs")
    )
    return (
        finite.crossJoin(F.broadcast(cs))
        .select(
            F.array_min(
                F.transform(
                    F.col("_cs"),
                    lambda s: F.struct(
                        _sq_l2(F.col("v"), s["v"]).alias("d"),
                        s["vec_id"].alias("cand_id"),
                    ),
                )
            )["cand_id"].alias("cand_id")
        )
        .groupBy("cand_id")
        .agg(F.count("*").alias("w"))
    )


def _weights_two_level(
    finite: DataFrame, cands: DataFrame, n_cands: int
) -> DataFrame:
    """Approximate candidate weights via the two-level router: md5-pick
    ~√|C| candidates as coarse cells, list every candidate in its
    ``_W2L_REPLICAS`` nearest cells, route each corpus row to its
    ``_W2L_NPROBE`` nearest cells by a literal-fold expression (no
    join), and argmin only among those cells' candidates — O(√|C|)
    folds per corpus row instead of |C|.  Every coarse centroid is a
    candidate assigned to its own cell at distance 0, so no cell is
    empty; mass whose true nearest candidate hides in an unprobed cell
    is attributed to the best probed one — the standard IVF trade,
    acceptable for init weights (the k-means++ seeding and weighted
    Lloyd consume them as densities, not exact counts).  Deterministic:
    hash-ordered coarse pick, (dist, id) struct argmins, exact folds."""
    if n_cands <= 0:
        return _weights_flat(finite, cands)
    mc = max(2, math.isqrt(n_cands))
    # cells are addressed by a DENSE INT INDEX (row_number over the
    # hash-ordered pick), never by the candidate's own id: embedding a
    # raw id into the routing literal assumed integer ids — a string-id
    # corpus reaching this path generated unparseable SQL and raised,
    # violating the never-raise posture (r9 advice).  The index is
    # id-type-agnostic and the probe literal stays pure ints.
    wi = Window.orderBy(portable_id_hash(F.col("vec_id")), "vec_id", "v")
    coarse = (
        cands.orderBy(portable_id_hash(F.col("vec_id")), "vec_id", "v")
        .limit(mc)
        .select(
            (F.row_number().over(wi) - 1).alias("gid"),
            F.col("v").alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    scored = cands.crossJoin(F.broadcast(coarse)).select(
        "vec_id",
        "v",
        "gid",
        _sq_l2(F.col("v"), F.col("g")).alias("_d"),
    )
    wc = Window.partitionBy("vec_id").orderBy("_d", "gid")
    c2cell = (
        scored.withColumn("_rn", F.row_number().over(wc))
        .where(F.col("_rn") <= _W2L_REPLICAS)
        .select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), "gid")
    )
    crows = sorted((r.gid, list(r.g)) for r in coarse.collect())
    glit = "array(" + ",".join(
        "array(" + ",".join(_sql_double(x) for x in g) + ")"
        for _, g in crows
    ) + ")"
    gids = "array(" + ",".join(str(g) for g, _ in crows) + ")"
    probe = (
        f"transform(slice(array_sort(zip_with({glit}, {gids}, "
        f"(c, i) -> struct(aggregate(zip_with(v, c, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x) AS d, "
        f"i AS g))), 1, {min(_W2L_NPROBE, len(crows))}), s -> s.g)"
    )
    probed = finite.select(
        "vec_id", "v", F.explode(F.expr(probe)).alias("gid")
    )
    # the cell table is |C|×replicas rows of (id, vec): broadcast while
    # that is comfortably executor-sized, otherwise let AQE choose
    # (same counted-guard pattern as the MinHash verify join)
    cells = (
        F.broadcast(c2cell)
        if n_cands * _W2L_REPLICAS <= 1_000_000
        else c2cell
    )
    return (
        probed.join(cells, "gid")
        .select(
            "vec_id",
            F.struct(
                _sq_l2(F.col("v"), F.col("cv")).alias("d"),
                F.col("cand_id").alias("cand_id"),
            ).alias("_s"),
        )
        .groupBy("vec_id")
        .agg(F.min("_s").alias("b"))
        .select(F.col("b.cand_id").alias("cand_id"))
        .groupBy("cand_id")
        .agg(F.count("*").alias("w"))
    )


def _pp_seeds(
    rows: list[tuple], k: int, grid_decimals: int = 6
) -> list[list[float]]:
    """Deterministic weighted k-means++ seeding over the collected
    candidate list ``[(vec_id, vector, weight), …]`` (sorted by id).

    Selection rule per step j: the candidate minimizing
    ``u(id, j) / (w · d²)`` — md5-priority sampling like the
    oversampling rounds (:func:`_round_priority`), now weighted by the
    candidate's corpus mass, which is D²-weighted k-means++ sampling
    with deterministic pseudo-randomness.  The per-step draw is ONE
    md5 per candidate folded through exact integer arithmetic,
    ``u(id, j) = (h₄₀(id)·(2j+1) + j) mod 2⁴⁰ + 1`` — k per-candidate
    hashes total instead of k×|C| (at k=4096 over 16k candidates the
    per-step-md5 variant is ~67M driver hash calls), with every
    intermediate < 2⁵³ so the arithmetic is exact in BIGINT, int64 and
    doubles alike.  Engine-exactness: ``u`` and ``w`` are integers
    exact in doubles, and ``d²`` is rounded to the module's 1e-6 grid
    before the division — so the DuckDB oracle's own fold, rounded to
    the same grid, reproduces the identical seed chain (ties on the
    grid break by id; a true value within an ulp of a grid boundary is
    the same vanishing-collision class the centroid grid documents).
    Zero-weight candidates carry no corpus mass and co-located (d²=0)
    ones add nothing — both are unselectable, so fewer than ``k``
    seeds may return (like hash init on a small corpus)."""
    import hashlib

    import numpy as np

    rows = [t for t in rows if t[2] > 0]
    if not rows or k < 1:
        return []
    ids = [t[0] for t in rows]
    vs = np.array([t[1] for t in rows], dtype=np.float64)
    ws = np.array([t[2] for t in rows], dtype=np.float64)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    h40 = np.array(
        [h60(str(i)) % (1 << 40) for i in ids], dtype=np.int64
    )
    first = min(range(len(ids)), key=lambda i: (h60(str(ids[i])), ids[i]))
    seeds = [vs[first]]
    d2 = np.round(((vs - vs[first]) ** 2).sum(axis=1), grid_decimals)
    for j in range(1, k):
        u = ((h40 * (2 * j + 1) + j) % (1 << 40) + 1).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            pri = u / (ws * d2)
        pickable = np.isfinite(pri)
        if not pickable.any():
            break
        # np.argmin returns the FIRST minimum; rows are sorted by id,
        # so equal priorities break to the smallest id — matching the
        # oracle's ORDER BY pri, vec_id
        best = int(np.argmin(np.where(pickable, pri, np.inf)))
        seeds.append(vs[best])
        d2 = np.minimum(
            d2, np.round(((vs - vs[best]) ** 2).sum(axis=1), grid_decimals)
        )
    return [[float(x) for x in s] for s in seeds]


def _wassign(candw: DataFrame, cents: DataFrame) -> DataFrame:
    """Weighted Lloyd assignment over the candidate table — the
    :func:`_assign` shape plus the carried weight."""
    scored = candw.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "w",
        "cid",
        _sq_l2(F.col("v"), F.col("c")).alias("dist"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min(F.struct("dist", "cid")).alias("b"),
            F.min("v").alias("v"),
            F.min("w").alias("w"),
        )
        .select("vec_id", F.col("b.cid").alias("cid"), "v", "w")
    )


def _wupdate(
    best: DataFrame, cents: DataFrame, dim: int, centroid_decimals
) -> DataFrame:
    """Weighted Lloyd update: per-cluster Σw·vᵢ / Σw on the 1e-6 grid;
    zero-total-weight clusters (all members weight 0) and empty
    clusters keep their previous centroid (try_divide → NULL →
    coalesce — never a divide error)."""
    mean_i = [
        F.try_divide(
            F.sum(F.col("w") * F.col("v")[i]), F.sum("w")
        )
        for i in range(dim)
    ]
    if centroid_decimals is not None:
        mean_i = [F.round(m, centroid_decimals) for m in mean_i]
    means = best.groupBy("cid").agg(F.array(*mean_i).alias("m"))
    return cents.join(F.broadcast(means), "cid", "left").select(
        "cid",
        F.coalesce(
            F.when(~F.exists("m", lambda x: x.isNull()), F.col("m")),
            F.col("c"),
        ).alias("c"),
    )


def assign_two_level(
    corpus: DataFrame,
    cents: DataFrame,
    dim: int = 64,
    coarse_k: int | None = None,
    nprobe: int = 1,
    coarse_iters: int = 2,
    fine_replicas: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_decimals: int | None = 6,
    numeric_mode: str = "fold",
) -> DataFrame:
    """Two-level (coarse→fine) assignment: route each vector through
    ``m ≈ √k`` coarse super-centroids to a ``nprobe``-cell subset of
    the fine centroids, then argmin only within that subset — O(m +
    nprobe·k/m) distance folds per vector instead of O(k), the
    assignment shape that makes k ≈ 10⁴-10⁵ IVF training tractable
    (flat ``_assign`` generates N×k fold rows per pass).  Returns
    ``(vec_id, cluster, dist)`` where ``cluster`` is the input table's
    ``cid`` and ``dist`` the squared L2.

    APPROXIMATE by construction: the true nearest fine centroid may
    live in an unprobed cell.  Two knobs trade cost for exactness:
    ``nprobe`` (cells probed per vector, nearest-coarse-first) and
    ``fine_replicas`` (each fine centroid is listed in its
    ``fine_replicas`` nearest cells — k=4096/100k-vector measurement:
    replication recovers most of the mass a boundary-cutting cell
    assignment loses at nprobe=1, for a ×replicas join width and zero
    extra corpus work).  Deterministic
    and engine-replicable: the coarse table is itself a grid-rounded
    k-means over the ≤k-row centroid table, probe order ties break on
    coarse id, the final argmin on (dist, cid) — so even the
    approximate assignment carries a full value-hash oracle.

    Plan shape: coarse training and the fine→cell map run on k-row
    inputs (cheap); the collected m×dim coarse table is embedded as ONE
    literal array so coarse routing is a per-row expression — the
    corpus's only shuffle is the final per-vector argmin, same as flat
    assignment.  Cells that received no fine centroid are excluded
    from probing (probing them would silently drop vectors).  Empty
    centroid input returns an empty assignment — never an error.

    ``numeric_mode="vectorized"``: the corpus-side work — coarse
    routing AND the within-probe fine argmin — runs as numpy GEMMs over
    Arrow batches (``dense.two_level_argmin_vectorized``) instead of
    the literal-fold expression + broadcast-join folds; same routing
    ties (stable sort → lower gid) and argmin order (NaN-greatest,
    (dist, cid)), identical on the gate corpora, with the GEMM-vs-fold
    near-tie ulp class documented in operators/dense.py.  Fold stays
    the default/oracle mode."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if numeric_mode not in ("fold", "vectorized"):
        raise ValueError(
            f"numeric_mode must be 'fold' or 'vectorized', got {numeric_mode!r}"
        )
    cents = cents.localCheckpoint(eager=False)
    k = cents.count()
    e = _valid_vectors(corpus, vec_col, id_col, dim)
    spark = corpus.sparkSession

    def _empty():
        # the empty-result id type FOLLOWS the input schema — a
        # hardcoded `vec_id long` handed string-id callers a frame
        # their downstream joins could not union/join against (r9
        # advice)
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("vec_id", e.schema["vec_id"].dataType),
                    StructField("cluster", IntegerType()),
                    StructField("dist", DoubleType()),
                ]
            ),
        )

    if k == 0:
        return _empty()
    if coarse_k is None:
        coarse_k = max(1, int(math.isqrt(k - 1)) + 1)
    coarse = kmeans_centroids(
        cents,
        k=min(coarse_k, k),
        iters=coarse_iters,
        dim=dim,
        vec_col="c",
        id_col="cid",
        centroid_decimals=centroid_decimals,
    ).select(F.col("cid").alias("gid"), F.col("c").alias("g"))
    # fine -> cell(s) on the k-row centroid table: each fine centroid
    # is listed under its fine_replicas nearest cells
    fr = max(1, fine_replicas)
    scored_fc = cents.crossJoin(F.broadcast(coarse)).select(
        F.col("cid").alias("fcid"),
        "gid",
        _sq_l2(F.col("c"), F.col("g")).alias("_d"),
    )
    wf = Window.partitionBy("fcid").orderBy("_d", "gid")
    f2c = (
        scored_fc.withColumn("_rn", F.row_number().over(wf))
        .where(F.col("_rn") <= fr)
        .select("fcid", "gid")
    )
    fine = cents.join(
        F.broadcast(f2c), cents.cid == f2c.fcid
    ).select("gid", "cid", "c")
    # only cells that actually hold fine centroids are probe targets
    occupied = {r.gid for r in f2c.select("gid").distinct().collect()}
    coarse_rows = [
        (r.gid, list(r.g)) for r in coarse.collect() if r.gid in occupied
    ]
    coarse_rows.sort()
    if not coarse_rows:
        return _empty()
    if numeric_mode == "vectorized":
        # the fine table the fold path broadcasts, collected instead
        # (k×replicas rows — the same boundedness contract)
        fine_rows = [(r.gid, r.cid, list(r.c)) for r in fine.collect()]
        from .dense import two_level_argmin_vectorized

        per_row = two_level_argmin_vectorized(
            e, coarse_rows, fine_rows, nprobe
        )
        nan = F.lit(float("nan"))
        scored1 = per_row.select(
            "vec_id",
            "cid",
            F.when(F.col("dist_nan"), nan)
            .otherwise(F.col("dist"))
            .alias("dist"),
        )
        # dup-id collapse identical to the fold tail below
        return (
            scored1.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid")).alias("b"))
            .select(
                "vec_id",
                F.col("b.cid").alias("cluster"),
                F.col("b.dist").alias("dist"),
            )
        )
    # m×dim literal + nested fold: coarse routing never joins/shuffles
    glit = "array(" + ",".join(
        "array(" + ",".join(_sql_double(x) for x in g) + ")"
        for _, g in coarse_rows
    ) + ")"
    gids = "array(" + ",".join(str(gid) for gid, _ in coarse_rows) + ")"
    probe = (
        f"transform(slice(array_sort(zip_with({glit}, {gids}, "
        f"(c, i) -> struct(aggregate(zip_with(v, c, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x) AS d, "
        f"i AS g))), 1, {min(nprobe, len(coarse_rows))}), s -> s.g)"
    )
    probed = e.select(
        "vec_id", "v", F.explode(F.expr(probe)).alias("gid")
    )
    scored = probed.join(F.broadcast(fine), "gid").select(
        "vec_id",
        "cid",
        _sq_l2(F.col("v"), F.col("c")).alias("dist"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select(
            "vec_id",
            F.col("b.cid").alias("cluster"),
            F.col("b.dist").alias("dist"),
        )
    )


def kmeans_large_embeddings(
    corpus: DataFrame,
    k: int,
    dim: int = 64,
    l: int | None = None,
    rounds: int = 2,
    refine_iters: int = 2,
    coarse_k: int | None = None,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_decimals: int | None = 6,
    numeric_mode: str = "fold",
) -> DataFrame:
    """The composed large-k path: k-means|| trained centroids
    (:func:`kmeans_parallel_centroids`) + two-level assignment
    (:func:`assign_two_level`) — what a production IVF build over
    10⁹-10¹¹ vectors runs, end to end, with every stage bounded:
    sampling never shuffles the corpus, refine runs on O(rounds×l)
    candidates, assignment costs O(m + nprobe·k/m) folds per vector.
    ``numeric_mode="vectorized"`` routes BOTH stages' distance work
    through the GEMM path (weighting + two-level assignment)."""
    cents = kmeans_parallel_centroids(
        corpus, k, dim, l, rounds, refine_iters,
        vec_col, id_col, centroid_decimals,
        numeric_mode=numeric_mode,
    )
    return assign_two_level(
        corpus, cents, dim, coarse_k, nprobe,
        vec_col=vec_col, id_col=id_col,
        centroid_decimals=centroid_decimals,
        numeric_mode=numeric_mode,
    )


def kmeans_cluster_profile(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "hash",
) -> DataFrame:
    """Per-cluster curation profile over a k-means run: size and
    within-cluster mean/max squared-L2 — the numbers that drive
    SemDeDup-style per-cluster dedup thresholds and mixture sampling
    rates.  One extra single-shuffle aggregation over the assignment."""
    a = kmeans_embeddings(corpus, k, iters, dim, vec_col, id_col, init=init)
    return a.groupBy("cluster").agg(
        F.count("*").alias("size"),
        F.round(F.avg("dist"), 4).alias("mean_dist"),
        F.round(F.max("dist"), 4).alias("max_dist"),
    )
