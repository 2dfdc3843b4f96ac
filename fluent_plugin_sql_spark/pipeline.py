"""Config-driven pipeline runner — the migration path for reference users.

A fluent-plugin-sql deployment is two config blocks (``<source>`` with
``<table>`` sections; ``<match>`` with ``<table [pattern]>`` sections,
README.md:17-63, 109-131).  This module accepts the same information as a
YAML/JSON document and runs the equivalent Spark pipeline, so a reference
user can switch by translating their fluentd config 1:1:

```yaml
source:
  adapter: postgresql          # JDBC URL parts (or `path:` for parquet)
  host: db.example.com
  port: 5432
  database: me
  username: me
  password: secret
  tag_prefix: my.rdb
  select_interval: 60
  select_limit: 500
  state_file: /var/run/fpss/state.json
  tables:
    - table: logs
      tag: logs
      update_column: id
      time_column: created_at
sink:
  remove_tag_prefix: my.rdb
  num_retries: 5
  tables:
    - table: logs_default          # pattern-less = default route
      column_mapping: 'timestamp:created_at,message'
    - table: logs_error
      pattern: 'error.**'
      column_mapping: 'timestamp:created_at,message'
```

Run:  ``python -m fluent_plugin_sql_spark.pipeline config.yaml [--once]``
(or ``--stream <checkpoint_dir>`` for continuous mode on Spark's streaming
engine — offsets live in the Spark checkpoint instead of ``state_file``).
"""

from __future__ import annotations

import difflib
import json
import logging
import sys
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import SinkRoute, SourceTable, SQLInputConfig, SQLOutputConfig
from .session import get_spark
from .sinks.router import SQLOutput
from .sources.incremental import SQLInput, discover_tables
from .sources.jdbc import write_jdbc

log = logging.getLogger(__name__)


def load_config(path: str) -> dict[str, Any]:
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        return yaml.safe_load(text)
    return json.loads(text)


# The keys each config block reads, one set per block; CONFIG.md's key
# tables name the same keys.  Pipeline warns about any other key
# (warn_unknown_keys).
CONFIG_KEYS = frozenset({"source", "sink", "logical_now"})
CONNECTION_KEYS = frozenset({
    "url", "adapter", "host", "port", "database", "username", "password",
    "driver", "socket", "schema_search_path",
})


def jdbc_url(src: dict[str, Any]) -> str:
    """Compose a JDBC URL from the reference's connection params
    (adapter/host/port/database, in_sql.rb:28-43); an explicit ``url``
    passes through untouched (embedded DBs like Derby).  The only place
    that knows adapter aliases: the SQL rules follow the URL's
    subprotocol (sources.jdbc.dialect_for_url)."""
    if "url" in src:
        return src["url"]
    adapter = src.get("adapter", "postgresql")
    if "socket" in src:
        # reference `socket` param (in_sql.rb:41): unix-socket connections
        # have no portable JDBC equivalent (driver-specific socketFactory
        # plugins only) — fail loudly instead of silently ignoring it.
        raise ValueError(
            "unix 'socket' connections are not supported over JDBC; "
            "use host/port (or an explicit 'url' with a driver-specific "
            "socketFactory)"
        )
    # Rails adapter names → JDBC subprotocol
    scheme = {"postgres": "postgresql", "mysql2": "mysql", "trilogy": "mysql"}.get(
        adapter, adapter
    )
    host = src.get("host", "localhost")
    port = src.get("port") or {"mysql": 3306, "mariadb": 3306}.get(scheme, 5432)
    return f"jdbc:{scheme}://{host}:{port}/{src['database']}"


SOURCE_KEYS = CONNECTION_KEYS | {
    "path", "tables", "tag_prefix", "select_interval", "select_limit",
    "state_file", "all_tables", "update_column", "quarantine_time_fallback",
    "dedup_compact_every",
    # streaming stage blocks (streaming.stages.stages_from_config)
    "quality_filter", "exact_dedup", "simhash_dedup", "near_dedup",
    "embedding_dedup", "semantic_dedup", "rollup", "ivf_index",
}
SOURCE_TABLE_KEYS = frozenset({
    "table", "tag", "update_column", "tiebreak_column", "time_column",
    "time_parse_format", "primary_key",
})


def build_input_config(src: dict[str, Any]) -> SQLInputConfig:
    tables = [
        SourceTable(
            table=t["table"],
            tag=t.get("tag"),
            update_column=t.get("update_column"),
            tiebreak_column=t.get("tiebreak_column"),
            time_column=t.get("time_column"),
            time_parse_format=t.get("time_parse_format"),
            primary_key=t.get("primary_key"),
        )
        for t in src.get("tables", [])
    ]
    return SQLInputConfig(
        tables=tables,
        tag_prefix=src.get("tag_prefix"),
        select_interval=float(src.get("select_interval", 60)),
        select_limit=int(src.get("select_limit", 500)),
        state_file=src.get("state_file"),
        all_tables=bool(src.get("all_tables", False)),
    )


SINK_KEYS = CONNECTION_KEYS | {
    "path", "tables", "mode", "merge_keys", "partition_cols", "order_column",
    "remove_tag_prefix", "num_retries", "pool", "enable_fallback",
    "num_partitions", "batchsize",
}
SINK_TABLE_KEYS = frozenset({"table", "pattern", "column_mapping"})


def warn_unknown_keys(config: dict[str, Any]) -> None:
    """Log one WARNING per key that no config block reads, naming the
    nearest known key: a misspelt ``select_limt`` would otherwise be
    ignored without a word and the engine run on the default.  A warning
    rather than an error, so a config that still sets a retired key
    (``dialect``, ``quote_identifiers``) keeps running.  Stage sub-blocks
    are not checked."""
    src, sink = config.get("source", {}), config.get("sink", {})
    blocks = [("", config, CONFIG_KEYS), ("source.", src, SOURCE_KEYS),
              ("sink.", sink, SINK_KEYS)]
    blocks += [(f"source.tables[{i}].", t, SOURCE_TABLE_KEYS)
               for i, t in enumerate(src.get("tables", []))]
    blocks += [(f"sink.tables[{i}].", t, SINK_TABLE_KEYS)
               for i, t in enumerate(sink.get("tables", []))]
    for where, block, known in blocks:
        for key in block:
            if key not in known:
                near = difflib.get_close_matches(key, known, n=1)
                log.warning(
                    "unknown config key '%s%s' is ignored%s", where, key,
                    f"; did you mean {near[0]!r}?" if near else "",
                )


def build_output_config(sink: dict[str, Any]) -> SQLOutputConfig:
    routes = [
        SinkRoute(
            table=t["table"],
            pattern=t.get("pattern"),
            column_mapping=t.get("column_mapping"),
        )
        for t in sink.get("tables", [])
    ]
    return SQLOutputConfig(
        routes=routes,
        remove_tag_prefix=sink.get("remove_tag_prefix"),
        num_retries=int(sink.get("num_retries", 5)),
        pool=int(sink.get("pool", 5)),
        enable_fallback=bool(sink.get("enable_fallback", True)),
    )


def build_readers(
    spark: SparkSession, src: dict[str, Any], cfg: SQLInputConfig
) -> dict[str, Callable[[], DataFrame]]:
    """Readers for a parquet-dir source (``path:``); with ``all_tables``
    the tables are discovered under the base path first."""
    from .io import load_table

    base = src["path"]
    names = (
        discover_tables(spark, base)
        if cfg.all_tables
        else [t.table for t in cfg.tables]
    )
    if cfg.all_tables and not cfg.tables:
        cfg.tables.extend(SourceTable(table=n, update_column=src.get("update_column")) for n in names)
    return {n: (lambda n=n: load_table(spark, base, n)) for n in names}


def _jdbc_props(block: dict[str, Any]) -> dict[str, str]:
    props = {
        jdbc_k: str(block[k])
        for k, jdbc_k in [("username", "user"), ("password", "password"),
                          ("driver", "driver")]
        if k in block
    }
    # reference `schema_search_path` (in_sql.rb:43): PostgreSQL schema
    # scoping.  pgJDBC's equivalent is the `currentSchema` connection
    # property, which accepts the same comma-separated search path.
    if "schema_search_path" in block:
        props["currentSchema"] = str(block["schema_search_path"])
    return props


def build_jdbc_scans(spark: SparkSession, src: dict[str, Any], cfg: SQLInputConfig):
    """Pushdown scans for a JDBC source: the poll query executes in the
    database (row cap and escaping from the URL, identifier quoting from
    the connection; see sources.jdbc.JdbcIncrementalScan); with
    ``all_tables`` the tables are discovered in the database catalog
    first.  The pushed query has a single-column watermark, so a
    ``tiebreak_column`` is rejected rather than ignored (ignoring it
    would skip rows tied at a batch boundary)."""
    from .sources.jdbc import JdbcIncrementalScan, discover_jdbc_tables

    url = jdbc_url(src)
    props = _jdbc_props(src)
    if cfg.all_tables and not cfg.tables:
        # S3 all_tables against the DB catalog (in_sql.rb:214-230): every
        # discovered table polls on its primary key / update_column.  The
        # full search path is walked in declared order, first match wins
        # (in_sql.rb:43 semantics via ActiveRecord); schema=None when the
        # key is absent means the connection's own tables
        names = discover_jdbc_tables(spark, url, props, schema=src.get("schema_search_path"))
        cfg.tables.extend(
            SourceTable(table=n, update_column=src.get("update_column"))
            for n in names
        )
    for t in cfg.tables:
        if t.tiebreak_column:
            raise ValueError(
                f"source table {t.table!r}: tiebreak_column is supported for "
                "parquet (path:) sources only, not JDBC sources"
            )
    return {
        t.table: JdbcIncrementalScan(
            spark, url, t.table, t.resolve_update_column(), cfg.select_limit, props
        )
        for t in cfg.tables
    }


def build_writer(spark: SparkSession, sink: dict[str, Any]) -> Callable[[DataFrame, str], None]:
    """Parquet-dir sink (``path:``, append or upsert) or JDBC sink
    (``database:``).

    Lake upsert mode (``mode: upsert`` + ``merge_keys``): each emitted
    batch MERGEs into the per-table parquet directory instead of
    appending — the CDC shape for an incremental source whose rows are
    UPDATES to existing keys, not just inserts.  With
    ``partition_cols``, only the partitions the batch touches are
    rewritten (sinks.lake.merge_into_parquet)."""
    if "path" in sink:
        base = sink["path"]
        if sink.get("mode") == "upsert":
            keys = sink.get("merge_keys")
            if not keys:
                raise ValueError("sink mode 'upsert' requires merge_keys: [..]")
            part_cols = sink.get("partition_cols")
            # str or list: a non-unique order column (second-granularity
            # updated_at) needs a tiebreak component, or two same-instant
            # changes to one key would apply nondeterministically — pass
            # e.g. ["updated_at", "seq"] exactly like the source layer's
            # tiebreak_column
            order_col = sink.get("order_column")
            order_cols = (
                [order_col] if isinstance(order_col, str) else list(order_col or [])
            )

            def write_upsert(df: DataFrame, table: str) -> None:
                from .sinks.lake import merge_into_parquet

                if order_cols:
                    # a CDC batch can carry SEVERAL changes to one key;
                    # merge semantics need exactly one row per key, so
                    # reduce the batch to its latest change first (by the
                    # change-log order column — typically update_column)
                    from pyspark.sql import Window

                    w = Window.partitionBy(*keys).orderBy(
                        *[F.desc(c) for c in order_cols]
                    )
                    reduced = (
                        df.withColumn("_rn", F.row_number().over(w))
                        .where(F.col("_rn") == 1)
                        .drop("_rn")
                    )
                else:
                    reduced = df
                merge_into_parquet(
                    spark, f"{base}/{table}", reduced, list(keys),
                    partition_cols=list(part_cols) if part_cols else None,
                )

            return write_upsert

        def write_parquet(df: DataFrame, table: str) -> None:
            df.write.mode("append").parquet(f"{base}/{table}")

        return write_parquet
    url = jdbc_url(sink)
    props = _jdbc_props(sink)
    pool = int(sink.get("pool", 5))
    # write parallelism defaults to the pool size (each write partition
    # holds one JDBC connection); an explicit num_partitions above the
    # pool means writers queue on the database — the reference's
    # pool-vs-flush_thread_count sanity warning (out_sql.rb:179-181)
    num_partitions = int(sink.get("num_partitions", pool))
    if pool < num_partitions:
        log.warning(
            "connection pool size (%d) is smaller than write parallelism "
            "num_partitions (%d). Recommend to increase pool value",
            pool, num_partitions,
        )

    def write_db(df: DataFrame, table: str) -> None:
        write_jdbc(df, url, table, props, batchsize=int(sink.get("batchsize", 1000)),
                   num_partitions=num_partitions)

    return write_db


class Pipeline:
    """in_sql → router → out_sql, wired from one config document."""

    def __init__(self, spark: SparkSession, config: dict[str, Any]):
        self.spark = spark
        self.config = config
        warn_unknown_keys(config)
        self.in_cfg = build_input_config(config["source"])
        self.out_cfg = build_output_config(config["sink"])
        self.output = SQLOutput(self.out_cfg, build_writer(spark, config["sink"]))
        src = config["source"]
        if "path" in src:
            readers, scans = build_readers(spark, src, self.in_cfg), None
        else:
            readers, scans = {}, build_jdbc_scans(spark, src, self.in_cfg)
        quarantine = bool(src.get("quarantine_time_fallback", False))

        def emit(tag, df):
            if quarantine:
                from .sinks.router import quarantine_time_fallback

                df = quarantine_time_fallback(df)
            self.output.write_batch(df)

        self.input = SQLInput(
            spark,
            self.in_cfg,
            readers,
            emit=emit,
            now=config.get("logical_now"),
            scans=scans,
        )

    def run_once(self, drain: bool = True) -> dict[str, int]:
        return self.input.run_once(drain=drain)

    def run_forever(self) -> None:
        self.input.run_forever()

    def run_streaming(self, checkpoint_dir: str, trigger_seconds: int | None = None):
        """Continuous mode on Spark's own engine: each source table tails
        through the streaming-native incremental source (offsets in the
        Spark checkpoint, NOT the engine StateStore), every micro-batch
        routes through the same tag-routed sink as batch mode.  Returns
        the list of running ``StreamingQuery`` handles, one per table.

        Single-table parquet sources only (the streaming source reads one
        table per query); JDBC sources keep the poll-loop mode.

        Optional ``source`` blocks (``quality_filter``, ``exact_dedup``,
        ``simhash_dedup``, ``near_dedup``, ``embedding_dedup``,
        ``semantic_dedup``, ``rollup``, ``ivf_index``) add curation
        stages; CONFIG.md lists their keys, the stage order and the
        at-least-once contract (streaming.stages)."""
        src = self.config["source"]
        if "path" not in src:
            raise ValueError("run_streaming requires a parquet-dir source (path:)")
        from .sources.stream_source import incremental_stream
        from .streaming.stages import stage_handler, stages_from_config

        # 0/None disables
        compact_every = int(src.get("dedup_compact_every", 64) or 0)
        queries = []
        for t in self.in_cfg.tables:
            df = incremental_stream(
                self.spark,
                f"{src['path']}/{t.table}.parquet",
                t.resolve_update_column(),
                self.in_cfg.select_limit,
            )
            filters, followers = stages_from_config(
                self.spark, src, t.table, t.resolve_update_column()
            )

            def sink(pinned: DataFrame, epoch_id: int, _tag: str = self.in_cfg.tag_for(t)):
                self.output.write_batch(pinned.withColumn("tag", F.lit(_tag)))

            writer = (
                df.writeStream.foreachBatch(
                    stage_handler(filters, followers, sink, compact_every)
                )
                .option("checkpointLocation", f"{checkpoint_dir}/{t.table}")
            )
            if trigger_seconds:
                writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
            queries.append(writer.start())
        return queries


def main(argv: list[str] | None = None) -> int:
    args = argv if argv is not None else sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    once = "--once" in args
    stream = None
    if "--stream" in args:  # --stream <checkpoint_dir>: continuous mode
        stream = args[args.index("--stream") + 1]
    cfg = load_config(args[0])
    spark = get_spark("fpss-pipeline")
    pipe = Pipeline(spark, cfg)
    if stream:
        for q in pipe.run_streaming(stream):
            q.awaitTermination()
    elif once:
        print(json.dumps(pipe.run_once()))
    else:
        pipe.run_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
