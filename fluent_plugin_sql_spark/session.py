"""SparkSession factory.

Defaults are chosen for correctness-vs-oracle (UTC timestamps) and for
scale (AQE, skew-join handling).  On a real cluster the same builder is
used — only ``master`` and memory sizing change; nothing in this engine
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "fluent-plugin-sql-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes (100 TB design):
    - AQE is always on: runtime partition coalescing, skew-join splitting
      and dynamic broadcast decisions replace hand-tuned plans.
    - ``spark.sql.shuffle.partitions`` defaults to the local core count;
      on a cluster set it ≈ 2-3× total executor cores (AQE coalesces down).
    - Session timezone is pinned to UTC so timestamp semantics are
      deterministic and match the DuckDB oracle (naive-UTC).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning: a selective fact-fact join
        # (q18/q21 shape) builds a bloom filter on the filtered side and
        # prunes the big side's scan before the shuffle.  Size thresholds
        # (creationSideThreshold / applicationSideScanSizeThreshold) keep
        # it a no-op on small inputs; it engages exactly where it pays —
        # 100 TB fact tables.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI pinned ON deliberately (not left to the Spark default):
        # strict SQL semantics match the DuckDB oracle, and genuinely
        # broken plans fail loudly instead of silently NULLing.  Dirty
        # DATA never gets to raise: every data-dependent division/cast in
        # the operators is an explicit try_* / guard (cosine(),
        # jaccard, time parsing quarantine) — tolerance is implemented at
        # the known-dirty sites, not by blanket permissive mode.  The
        # registry wrapper re-pins this per query for sessions not built
        # by this factory.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # floor on scan splits: a single small parquet file otherwise
        # plans as ONE split, serializing compute-heavy map stages
        # (minhash signing, text stats) onto one core.  At cluster scale
        # files outnumber cores and this is a no-op; on small inputs it
        # keeps every core busy.  AQE still coalesces downstream.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _set_split_floors(spark)
    return spark


def _set_split_floors(spark: SparkSession) -> None:
    """Lower two split-sizing floors to 64 KB when the session runs on a
    local master.

    The floors fix measured single-task stages on SMALL single-file
    inputs in local mode.  On a cluster master the Spark defaults (4 MB
    open cost, 1 MB AQE floor) or the deployment's own settings are
    kept — many-small-file workloads there would otherwise multiply task
    counts.  The decision reads the master the session actually runs on,
    so a master set by spark-defaults.conf, ``spark-submit --master`` or
    an already running session counts.  Both are runtime SQL confs, so
    they can be set after the build.  The env overrides apply to both.

    - ``spark.sql.files.openCostInBytes`` makes the ``minPartitionNum``
      split floor actually bind (guide §6): maxSplitBytes =
      min(maxPartitionBytes, max(openCostInBytes,
      totalBytes/minPartitionNum)), so with the default 4 MB every table
      under ~4 MB×cores still scans as a handful of splits — measured:
      the minhash signature stage and the ANN scoring stage each ran as
      ONE 0.6-1.0 s task with 31 cores idle at sf0.1.  Deployments
      drowning in tiny files should leave it at the default and fix the
      file sizing upstream.
    - ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` is AQE
      coalescing's floor on post-shuffle partition sizes: the default
      1 MB collapses every small shuffle to ONE reduce task (measured:
      the MergingSessions stage of session_windows ran 0.3-0.4 s
      single-task behind a 1.9 MB exchange).  64 KB lets
      parallelismFirst spread small shuffles across the cores.
    """
    is_local = spark.sparkContext.master.startswith("local")
    floor = str(64 * 1024) if is_local else None
    for key, env in (
        ("spark.sql.files.openCostInBytes", "SPARK_GRAFT_OPEN_COST"),
        (
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "SPARK_GRAFT_MIN_PARTITION_SIZE",
        ),
    ):
        value = os.environ.get(env, floor)
        if value is not None:
            spark.conf.set(key, value)
