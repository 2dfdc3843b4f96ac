"""SemDeDup cross-shard recovery pass (opt-in): a second
independently-salted prune over the capped clusters' round-1 survivors
recovers near-dups the first salt split, while keep stays a superset of
the unguarded keeps and uncapped behavior is untouched."""

from __future__ import annotations

from fluent_plugin_sql_spark.operators.cluster import semdedup_prune

DIM = 8


def _mega_corpus(spark):
    # the round-9 scale corpus: one 1150-copy boilerplate mega-cluster
    # (auto cap 1010 -> 2 shards) + 60 spread vectors; round-1 salting
    # keeps one copy PER SHARD (ids 0 and 3 — the min id of each md5
    # shard), and both keepers' independent round-2 salts land in the
    # same shard, so the recovery pass provably prunes id 3
    rows = [(i, [5.0] + [0.0] * (DIM - 1)) for i in range(1150)]
    base = 10_000
    for m in range(3):
        for j in range(20):
            v = [0.0] * DIM
            v[m + 1] = 50.0 + j * 0.01
            rows.append((base + m * 100 + j, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _keeps(df, **kw):
    return {
        r.vec_id: r.keep
        for r in semdedup_prune(
            df, k=12, iters=1, dim=DIM, tau=0.9, **kw
        ).collect()
    }


class TestCrossShardRecovery:
    def test_recovers_cross_shard_prunes(self, spark):
        df = _mega_corpus(spark)
        plain = _keeps(df)
        rec = _keeps(df, cross_shard_recovery=True)
        unguarded = _keeps(df, max_cluster_size=None)
        mega = [i for i in plain if i < 1150]
        # round 1 alone keeps one copy per shard (2); recovery merges
        # the shard keepers and lands on the unguarded answer (1)
        assert sum(plain[i] for i in mega) == 2
        assert sum(rec[i] for i in mega) == 1
        assert sum(unguarded[i] for i in mega) == 1
        # recovered prunes are a subset of the unguarded prunes: keep
        # stays a superset of the unguarded keeps
        assert all(rec[i] for i, kp in unguarded.items() if kp)
        # recovery only ever ADDS prunes relative to round 1
        assert all(plain[i] for i, kp in rec.items() if kp)

    def test_uncapped_clusters_untouched(self, spark):
        from fluent_plugin_sql_spark.operators.cluster import (
            semdedup_cap_stats,
        )

        df = _mega_corpus(spark)
        capped = {
            r.cluster
            for r in semdedup_cap_stats(df, k=12, iters=1, dim=DIM).collect()
            if r.capped
        }
        assert capped  # the mega cluster engaged the cap
        plain = {
            r.vec_id: (r.cluster, r.keep)
            for r in semdedup_prune(df, k=12, iters=1, dim=DIM, tau=0.9).collect()
        }
        rec = {
            r.vec_id: (r.cluster, r.keep)
            for r in semdedup_prune(
                df, k=12, iters=1, dim=DIM, tau=0.9, cross_shard_recovery=True
            ).collect()
        }
        # rows of UNCAPPED clusters are bit-identical with recovery on
        for i, (cl, kp) in plain.items():
            if cl not in capped:
                assert rec[i] == (cl, kp)

    def test_noop_when_no_cap_engages(self, spark):
        rows = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = sorted(_keeps_small(df, cross_shard_recovery=False).items())
        b = sorted(_keeps_small(df, cross_shard_recovery=True).items())
        assert a == b

    def test_vectorized_mode_matches_fold(self, spark):
        df = _mega_corpus(spark)
        fold = _keeps(df, cross_shard_recovery=True)
        vec = _keeps(df, cross_shard_recovery=True, numeric_mode="vectorized")
        assert fold == vec


def test_vectorized_mode_matches_fold_small_capped_corpus(spark):
    """Default-run cut of the parity above: a flat cap splits a 60-copy
    cluster into shards, so both salted passes run in both modes."""
    rows = [(i, [5.0] + [0.0] * (DIM - 1)) for i in range(60)]
    for m in range(3):
        for j in range(5):
            v = [0.0] * DIM
            v[m + 1] = 50.0 + j * 0.01
            rows.append((1000 + m * 100 + j, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(cross_shard_recovery=True, max_cluster_size=25)
    fold = _keeps(df, **kw)
    assert 1 <= sum(fold[i] for i in range(60)) < 60  # copies were pruned
    assert _keeps(df, numeric_mode="vectorized", **kw) == fold


def _keeps_small(df, **kw):
    return {
        r.vec_id: r.keep
        for r in semdedup_prune(df, k=4, iters=1, dim=4, tau=0.95, **kw).collect()
    }
