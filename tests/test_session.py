"""get_spark's local-only split floors follow the master the session
actually runs on, not the ``master`` argument or ``SPARK_MASTER``."""

from __future__ import annotations

import pytest

from fluent_plugin_sql_spark.session import get_spark

FLOORS = (
    "spark.sql.files.openCostInBytes",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
)


@pytest.fixture
def floors(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_OPEN_COST", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MIN_PARTITION_SIZE", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    before = {k: spark.conf.get(k) for k in FLOORS}
    yield
    for k, v in before.items():
        spark.conf.set(k, v)


def test_cluster_master_from_outside_keeps_spark_defaults(spark, floors, monkeypatch):
    # a master set by spark-defaults.conf / spark-submit never reaches
    # get_spark's arguments; only the running context knows it
    monkeypatch.setattr(spark.sparkContext, "master", "yarn")
    for k in FLOORS:
        spark.conf.set(k, "1048576")
    get_spark()
    assert [spark.conf.get(k) for k in FLOORS] == ["1048576", "1048576"]


def test_local_session_gets_floors_whatever_the_argument(spark, floors):
    # the running session is local even though the argument names a
    # cluster (getOrCreate returns the existing local session)
    get_spark(master="spark://cluster:7077")
    assert [spark.conf.get(k) for k in FLOORS] == ["65536", "65536"]


def test_env_override_applies_on_any_master(spark, floors, monkeypatch):
    monkeypatch.setattr(spark.sparkContext, "master", "yarn")
    monkeypatch.setenv("SPARK_GRAFT_OPEN_COST", "131072")
    get_spark()
    assert spark.conf.get("spark.sql.files.openCostInBytes") == "131072"
