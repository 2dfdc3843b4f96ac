"""Crash windows of the one staged swap (``fs._StoreFS``)
across every table rewritten through it.

Each user first runs its rewrite once, so the live table holds its final
content.  A crash shape is then staged by hand on disk, the user heals
it the way it would after a real crash (a store re-opens; a compaction,
merge or drift read re-runs), and the live table must be complete, hold
the same rows, and have no staged or old tree left beside it.  A healed
table is as clean as a fresh one, so the shapes of one user share its
set-up.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest


@dataclass
class SwapUser:
    root: str  # directory the _StoreFS is rooted at
    live: str
    staged: str
    old: str
    heal: Callable[[], object]


def _dedup_compact(spark, tmp):
    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    path = str(tmp / "xstore")
    store = ExactDedupStore(spark, path)
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(12)], "doc_id LONG, text STRING"
    )
    store.process_batch(docs, "text", "doc_id")
    store.compact()
    return SwapUser(path, "hashes", "_compact_hashes", "_old_hashes",
                    lambda: ExactDedupStore(spark, path))


def _ivf_compact(spark, tmp):
    from fluent_plugin_sql_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
    )

    path = str(tmp / "ivf")
    corpus = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    build_ivf_index(corpus, path, num_centroids=3)
    compact_ivf_index(spark, path)
    return SwapUser(path, "postings", "_compact_postings", "_old_postings",
                    lambda: compact_ivf_index(spark, path))


def _rollup_compact(spark, tmp):
    from fluent_plugin_sql_spark.operators.rollup import RollupStore

    path = str(tmp / "rollup")

    def open_store():
        return RollupStore(spark, path, "ts", window="1 hour", sum_cols=("v",))

    store = open_store()
    for b in range(2):
        batch = spark.createDataFrame(
            [(f"2024-01-01 0{h}:00:00", float(h + b)) for h in range(4)], "ts STRING, v DOUBLE"
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
        store.absorb(batch, f"b{b}")
    store.compact()
    return SwapUser(path, "data", "_compact_data", "_old_data", open_store)


def _drift_write(spark, tmp):
    from fluent_plugin_sql_spark.operators.dedup import EmbeddingDedupStore

    path = str(tmp / "emb")

    def open_store():
        return EmbeddingDedupStore(
            spark, path, threshold=0.999, num_centroids=2, nprobe=1,
            track_drift=True,
        )

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0]) for i in range(4)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    open_store().absorb(vecs, "embedding", "vec_id")
    return SwapUser(path, "drift", "_drift_staged", "_old_drift",
                    lambda: open_store().drift_ratio())


def _lake_compact(spark, tmp):
    from fluent_plugin_sql_spark.sinks.lake import compact_parquet_dir

    path = str(tmp / "sink")
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id * 2.0 AS v").coalesce(
            1
        ).write.mode("append").parquet(path)
    compact_parquet_dir(spark, path, target_rows_per_file=20)
    return SwapUser(str(tmp), "sink", "sink.__compact_tmp__", "sink.__compact_old__",
                    lambda: compact_parquet_dir(spark, path, target_rows_per_file=20))


def _lake_merge(spark, tmp):
    from fluent_plugin_sql_spark.sinks.lake import merge_into_parquet

    path = str(tmp / "dim")
    merge_into_parquet(spark, path, spark.range(30).selectExpr("id AS k", "id * 1.0 AS v"), ["k"])
    updates = spark.range(25, 35).selectExpr("id AS k", "id * -1.0 AS v")
    merge_into_parquet(spark, path, updates, ["k"])
    return SwapUser(str(tmp), "dim", "dim.__compact_tmp__", "dim.__compact_old__",
                    lambda: merge_into_parquet(spark, path, updates, ["k"]))


def _v1_migration(spark, tmp):
    """A layout-1 exact store rewritten once to layout 2 by its first
    mutation.  The heal re-runs that migration as after a crash before
    the version was recorded: the metadata loses ``layout`` again, the
    store re-opens and compacts."""
    from test_key_table import write_v1_copy

    from fluent_plugin_sql_spark.fs import _StoreFS
    from fluent_plugin_sql_spark.operators.dedup import ExactDedupStore

    v2, path = str(tmp / "v2"), str(tmp / "xstore")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(12)], "doc_id LONG, text STRING"
    )
    ExactDedupStore(spark, v2).process_batch(docs, "text", "doc_id")
    write_v1_copy(spark, v2, path)

    def migrate():
        meta_fs = _StoreFS(spark, path)  # keeps the meta file's checksum
        meta = meta_fs.read_meta()
        meta.pop("layout", None)
        meta_fs.write_meta(meta)
        store = ExactDedupStore(spark, path)
        assert store.layout == 1
        store.compact()
        assert meta_fs.read_meta()["layout"] == 2
        assert not [d for d in os.listdir(f"{path}/hashes") if d.startswith("bkt=")]

    migrate()
    return SwapUser(path, "hashes", "_compact_hashes", "_old_hashes", migrate)


USERS = {
    "dedup_compact": _dedup_compact,
    "ivf_compact": _ivf_compact,
    "rollup_compact": _rollup_compact,
    "drift_write": _drift_write,
    "lake_compact": _lake_compact,
    "lake_merge": _lake_merge,
    "v1_migration": _v1_migration,
}


def _complete_copy(src: str, dst: str) -> None:
    shutil.copytree(src, dst)
    assert os.path.exists(f"{dst}/_SUCCESS")


def _partial_copy(src: str, dst: str) -> None:
    """A staged tree whose write died: no ``_SUCCESS`` and a data file
    missing, so promoting it would lose rows."""
    shutil.copytree(src, dst)
    os.remove(f"{dst}/_SUCCESS")
    for d, _, files in sorted(os.walk(dst)):
        data = sorted(f for f in files if f.endswith(".parquet"))
        if data:
            os.remove(os.path.join(d, data[0]))
            return


def _stage_crash(shape: str, live: str, staged: str, old: str) -> None:
    if shape == "partial_staged_live_intact":
        _partial_copy(live, staged)
    elif shape == "live_to_old_staged_complete":
        _complete_copy(live, staged)
        os.rename(live, old)
    elif shape == "live_to_old_staged_partial":
        _partial_copy(live, staged)
        os.rename(live, old)
    elif shape == "swap_done_old_left":
        shutil.copytree(live, old)
    else:
        raise AssertionError(shape)


def _rows(spark, path: str) -> list:
    return sorted((tuple(r) for r in spark.read.parquet(path).collect()), key=repr)


@pytest.fixture(scope="module")
def swap_users(spark, tmp_path_factory):
    """``user -> (SwapUser, live rows)``, set up once per module."""
    made: dict = {}

    def get(user):
        if user not in made:
            u = USERS[user](spark, tmp_path_factory.mktemp(user))
            rows = _rows(spark, os.path.join(u.root, u.live))
            assert rows
            made[user] = (u, rows)
        return made[user]

    return get


@pytest.mark.parametrize(
    "shape",
    [
        "partial_staged_live_intact",
        "live_to_old_staged_complete",
        "live_to_old_staged_partial",
        "swap_done_old_left",
    ],
)
@pytest.mark.parametrize("user", sorted(USERS))
def test_crash_window_heals_to_complete_live_table(spark, swap_users, user, shape):
    u, before = swap_users(user)
    live, staged, old = (os.path.join(u.root, n) for n in (u.live, u.staged, u.old))
    assert not os.path.exists(staged) and not os.path.exists(old)

    _stage_crash(shape, live, staged, old)
    u.heal()

    assert os.path.exists(f"{live}/_SUCCESS")
    assert not os.path.exists(staged) and not os.path.exists(old)
    assert _rows(spark, live) == before
