"""One stage runner for streaming curation.

A curation micro-batch is a chain of stages over the batch's rows.
*Filter* stages (quality filter, exact / SimHash / MinHash / embedding
dedup) probe the batch read-only and hand the survivors on; *follower*
stages (rollup, IVF index) only record what reached the sink.
:func:`run_stages` runs the chain in the one order that keeps delivery
at-least-once; :func:`stage_handler` wraps it as a ``foreachBatch``
handler with the periodic compaction; :func:`stages_from_config` builds
the chain from ``Pipeline.run_streaming``'s source config (CONFIG.md).

Each adapter calls its store's public methods at batch time, and the
per-batch handoff (MinHash signatures, embedding centroid assignment)
travels from ``probe`` to ``absorb`` through the runner, never as hidden
stage state.
"""

from __future__ import annotations

import datetime
import logging
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

from ..fs import _StoreFS
from ..functions.text import quality_predicate
from ..operators.dedup import (
    EmbeddingDedupStore,
    ExactDedupStore,
    MinHashDedupStore,
    SimHashDedupStore,
)
from ..operators.rollup import RollupStore
from ..operators.similarity import append_ivf_index, build_ivf_index, compact_ivf_index

log = logging.getLogger(__name__)


class Stage:
    """The stage protocol; every method defaults to a no-op.

    ``probe(df) -> (survivors, handoff)`` is read-only.
    ``absorb(pinned, handoff, batch_key)`` records the pinned survivors
    that reached the sink, given this stage's own probe handoff (None
    for followers).  ``compact()`` is the periodic maintenance."""

    def probe(self, df: DataFrame) -> tuple[DataFrame, Any]:
        return df, None

    def absorb(self, pinned: DataFrame, handoff: Any, batch_key: Any) -> None:
        pass

    def compact(self) -> None:
        pass


def _drop_dups(df: DataFrame, dups: DataFrame, id_col: str) -> DataFrame:
    return df.join(dups.withColumnRenamed("dup", id_col), id_col, "left_anti")


class QualityStage(Stage):
    """Stateless quality gate (functions.text.quality_predicate)."""

    def __init__(self, cfg: dict[str, Any]):
        self.cfg = cfg

    def probe(self, df):
        return df.where(quality_predicate(self.cfg, self.cfg.get("text_col", "text"))), None


class _StoreStage(Stage):
    def __init__(self, store, col: str, id_col: str):
        self.store, self.col, self.id_col = store, col, id_col

    def compact(self):
        self.store.compact()


class ExactStage(_StoreStage):
    def probe(self, df):
        return self.store.probe_new(df, self.col, self.id_col).drop("content_hash"), None

    def absorb(self, pinned, handoff, batch_key):
        self.store.absorb(pinned, self.col, self.id_col)


class SimHashStage(_StoreStage):
    def probe(self, df):
        return _drop_dups(df, self.store.probe_dups(df, self.col, self.id_col), self.id_col), None

    def absorb(self, pinned, handoff, batch_key):
        self.store.absorb(pinned, self.col, self.id_col)


class MinHashStage(_StoreStage):
    """Signs once; probe and absorb share the signatures."""

    def probe(self, df):
        sig = self.store.sign(df, self.col, self.id_col)
        dups = self.store.probe_dups(df, self.col, self.id_col, sig=sig)
        return _drop_dups(df, dups, self.id_col), sig

    def absorb(self, pinned, sig, batch_key):
        self.store.absorb(pinned, self.col, self.id_col, sig=sig)


class EmbeddingStage(_StoreStage):
    """Assigns once against the frozen centroids (None on the first
    batch); with ``drift_ratio`` set, each absorb may fire the store's
    drift recluster."""

    def __init__(self, store, col, id_col, drift_ratio=None, min_batches: int = 3):
        super().__init__(store, col, id_col)
        self.drift_ratio, self.min_batches = drift_ratio, min_batches

    def probe(self, df):
        assigned = self.store.assign_probes(df, self.col, self.id_col)
        dups = self.store.probe_dups(df, self.col, self.id_col, probes=assigned)
        return _drop_dups(df, dups, self.id_col), assigned

    def absorb(self, pinned, assigned, batch_key):
        self.store.absorb(pinned, self.col, self.id_col, assigned=assigned)
        if self.drift_ratio is not None and self.store.maybe_recluster(
            trigger_ratio=self.drift_ratio, min_batches=self.min_batches
        ):
            log.warning(
                "semantic_dedup %s: home-similarity drift crossed %.3f of the "
                "train baseline — store reclustered and re-baselined",
                self.store.path, self.drift_ratio,
            )


class RollupStage(Stage):
    """Continuous aggregate keyed ``{table}-e{epoch}``: the store's
    atomic-rename commit makes it exactly-once under replay.  Retention
    rides the compaction cadence."""

    def __init__(self, store: RollupStore, table: str, retention_days=None):
        self.store, self.table, self.retention_days = store, table, retention_days

    def absorb(self, pinned, handoff, epoch):
        self.store.absorb(pinned, f"{self.table}-e{epoch}")

    def compact(self):
        self.store.compact()
        if self.retention_days:
            self.store.expire(
                datetime.date.today() - datetime.timedelta(days=int(self.retention_days))
            )


class IvfStage(Stage):
    """Searchable IVF index over what reached the sink.  Appends skip ids
    already indexed, so a replayed batch is a no-op."""

    def __init__(self, spark, path: str, vec_col: str, id_col: str, num_centroids: int):
        self.spark, self.path = spark, path
        self.vec_col, self.id_col, self.num_centroids = vec_col, id_col, num_centroids

    def absorb(self, pinned, handoff, batch_key):
        if _StoreFS(self.spark, self.path).has_data("centroids"):
            append_ivf_index(self.spark, self.path, pinned, self.vec_col, self.id_col)
            return
        # an empty first batch must not build: it would freeze zero
        # centroids and every later append would assign against nothing
        n = pinned.count()
        if n == 0:
            return
        if n < self.num_centroids:
            log.warning(
                "ivf_index %s: first micro-batch has %d rows < num_centroids=%d "
                "— the index freezes with %d centroids and probe pruning "
                "degrades; rebuild offline with build_ivf_index over the full "
                "corpus when convenient",
                self.path, n, self.num_centroids, n,
            )
        build_ivf_index(pinned, self.path, self.vec_col, self.id_col,
                        num_centroids=self.num_centroids)

    def compact(self):
        if _StoreFS(self.spark, self.path).has_data("postings"):
            compact_ivf_index(self.spark, self.path)


def run_stages(
    filters: list[Stage],
    followers: list[Stage],
    df: DataFrame,
    sink: Callable[[DataFrame], None],
    batch_key: Any,
) -> DataFrame:
    """Run one batch through the chain and return the pinned survivors.

    Order: every filter probes (read-only, in declared order) → the
    survivors are pinned once → ``sink`` → followers absorb → filters
    absorb.  This is what makes delivery at-least-once: a crash between
    sink and absorb re-emits one batch's rows on replay, while the
    reverse order would make a replayed batch look like dups of itself
    and drop it (at-most-once loss).  Followers absorb before any filter
    store mutates, because once a dedup store has absorbed, the replayed
    batch probes as all dups and the rollup would commit an empty
    generation for rows that did reach the sink.  A crash between two
    filter absorbs leaves the later store without this batch: on replay
    the earlier store already filters it, so near copies that only the
    later store would catch can still reach the sink."""
    survivors, handoffs = df, []
    for stage in filters:
        survivors, handoff = stage.probe(survivors)
        handoffs.append(handoff)
    pinned = survivors.localCheckpoint(eager=True)
    sink(pinned)
    for stage in followers:
        stage.absorb(pinned, None, batch_key)
    for stage, handoff in zip(filters, handoffs):
        stage.absorb(pinned, handoff, batch_key)
    return pinned


def stage_handler(
    filters: list[Stage],
    followers: list[Stage],
    sink: Callable[[DataFrame, int], None],
    compact_every: int | None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` handler: :func:`run_stages` keyed by epoch id,
    then every stage's ``compact()`` after each ``compact_every``-th batch
    (0/None disables).  Each absorb of survivors appends one small file
    per state table (the IVF and embedding stores: one per touched
    bucket);
    compaction keeps probes from decaying into file-open cost."""
    batches = [0]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        run_stages(filters, followers, batch_df, lambda d: sink(d, epoch_id), epoch_id)
        batches[0] += 1
        if compact_every and batches[0] % compact_every == 0:
            for stage in (*filters, *followers):
                stage.compact()

    return handle


def stages_from_config(
    spark, src: dict[str, Any], table: str, time_col: str
) -> tuple[list[Stage], list[Stage]]:
    """``(filters, followers)`` for one table from ``run_streaming``'s
    source config.  Filters probe cheapest first: quality → exact →
    simhash → near → embedding → semantic; followers are rollup, then
    IVF index.  Store state lives under ``<block path>/<table>``."""
    filters: list[Stage] = []
    if (qf := src.get("quality_filter")) is not None:
        filters.append(QualityStage(qf))
    if xd := src.get("exact_dedup"):
        filters.append(ExactStage(
            ExactDedupStore(spark, f"{xd['path']}/{table}"),
            xd.get("text_col", "text"), xd.get("id_col", "doc_id"),
        ))
    if sd := src.get("simhash_dedup"):
        filters.append(SimHashStage(
            SimHashDedupStore(spark, f"{sd['path']}/{table}",
                              max_hamming=int(sd.get("max_hamming", 6))),
            sd.get("text_col", "text"), sd.get("id_col", "doc_id"),
        ))
    if nd := src.get("near_dedup"):
        filters.append(MinHashStage(
            MinHashDedupStore(
                spark, f"{nd['path']}/{table}",
                num_hashes=int(nd.get("num_hashes", 24)),
                bands=int(nd.get("bands", 6)),
                k=int(nd.get("k", 3)),
                sig_match_frac=float(nd.get("sig_match_frac", 0.5)),
            ),
            nd.get("text_col", "text"), nd.get("id_col", "doc_id"),
        ))
    if ed := src.get("embedding_dedup"):
        filters.append(EmbeddingStage(
            EmbeddingDedupStore(
                spark, f"{ed['path']}/{table}",
                threshold=float(ed.get("threshold", 0.9)),
                num_centroids=int(ed.get("num_centroids", 16)),
                nprobe=int(ed.get("nprobe", 2)),
                store_replicas=int(ed.get("store_replicas", 2)),
                centroid_mode=ed.get("centroid_mode", "hash"),
                numeric_mode=ed.get("numeric_mode", "fold"),
            ),
            ed.get("vec_col", "embedding"), ed.get("id_col", "vec_id"),
        ))
    if sm := src.get("semantic_dedup"):
        drift = sm.get("recluster_drift_ratio")
        filters.append(EmbeddingStage(
            EmbeddingDedupStore(
                spark, f"{sm['path']}/{table}",
                threshold=float(sm.get("tau", 0.95)),
                num_centroids=int(sm.get("k", sm.get("num_centroids", 16))),
                nprobe=int(sm.get("nprobe", 1)),
                store_replicas=int(sm.get("store_replicas", 2)),
                centroid_mode=sm.get("centroid_mode", "kmeans"),
                track_drift=drift is not None,
                numeric_mode=sm.get("numeric_mode", "fold"),
            ),
            sm.get("vec_col", "embedding"), sm.get("id_col", "vec_id"),
            drift_ratio=None if drift is None else float(drift),
            min_batches=int(sm.get("recluster_min_batches", 3)),
        ))
    followers: list[Stage] = []
    if ru := src.get("rollup"):
        followers.append(RollupStage(
            RollupStore(
                spark, f"{ru['path']}/{table}",
                ru.get("time_col", time_col),
                window=ru.get("window", "1 hour"),
                dims=tuple(ru.get("dims", ())),
                sum_cols=tuple(ru.get("sum_cols", ())),
                hll_cols=tuple(ru.get("hll_cols", ())),
                hist_cols={
                    c: (float(lo), float(hi), int(nb))
                    for c, (lo, hi, nb) in dict(ru.get("hist_cols", {})).items()
                },
                top_cols={c: int(k) for c, k in dict(ru.get("top_cols", {})).items()},
            ),
            table, ru.get("retention_days"),
        ))
    if (iv := src.get("ivf_index")) is not None:
        followers.append(IvfStage(
            spark, f"{iv['path']}/{table}",
            iv.get("vec_col", "embedding"), iv.get("id_col", "vec_id"),
            int(iv.get("num_centroids", 16)),
        ))
    return filters, followers
