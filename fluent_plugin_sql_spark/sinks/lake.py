"""Data-lake sinks: partitioned and bucketed parquet.

- ``write_partitioned``: directory-partitioned parquet (``partitionBy``) —
  downstream queries with partition-column predicates scan only matching
  directories (partition pruning, audited in tests).
- ``write_bucketed``: hash-bucketed managed table (``bucketBy`` +
  ``saveAsTable``) — joins/aggregations on the bucket key between
  co-bucketed tables skip the shuffle entirely, the prerequisite for
  repeated co-located joins at 100 TB.

Delta/Iceberg/Hudi would subsume both with ACID + MERGE; their jars are
not in this environment, so plain parquet + the metastore-backed bucketed
table is the lake layer (operators.scale.merge_upsert supplies the MERGE
semantics on top).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fs import _StoreFS


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Directory-partitioned parquet.  Keep partition cardinality sane
    (date/hour/tenant — thousands, not millions of directories); combine
    with ``maxRecordsPerFile`` to bound file sizes under skew."""
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table.  Two tables bucketed the same way on
    the join key equi-join WITHOUT a shuffle (audited in
    tests/test_lake.py).  ``sortBy`` additionally pre-sorts within buckets
    so sort-merge join skips its sort."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def compact_parquet_dir(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction for append-heavy parquet sinks (a streaming
    ``foreachBatch``/file sink accretes one file per micro-batch per
    partition — thousands of tiny files kill scan planning long before
    they kill I/O).

    Rewrites the directory to ``ceil(rows / target_rows_per_file)`` files
    (optionally sorted, so downstream range predicates benefit from
    parquet row-group min/max pruning), staging into the sibling
    ``{path}.__compact_tmp__`` and swapping it in with the staged swap of
    ``fs._StoreFS`` — scheme-agnostic, and a crash at any
    point is healed on the next call, before it starts.  Concurrent
    READERS of the old listing are fine; pause writers (or compact
    between polls) since appends during compaction would be lost.
    Returns the new file count.

    At real scale this is the nightly-compaction shape; table formats
    (Delta/Iceberg OPTIMIZE) do the same rewrite transactionally.
    """
    import math

    fs, name, swap = _table_fs(spark, path)
    fs.recover(name, **swap)

    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    if sort_cols:
        # repartitionByRange + sortWithinPartitions → globally range-
        # clustered files, ideal for min/max pruning on sort_cols
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(f"{fs.path}/{swap['staged']}")
    fs.swap(name, **swap)
    return n_files


def _table_fs(spark, path: str):
    """``(fs, name, swap)``: a ``_StoreFS`` on the table's parent
    directory, the table's name in it, and the staged/old names of its
    swap (the sibling ``{name}.__compact_tmp__``/``.__compact_old__``)."""
    import posixpath

    parent, name = posixpath.split(path.rstrip("/"))
    swap = {"staged": f"{name}.__compact_tmp__", "old": f"{name}.__compact_old__"}
    return _StoreFS(spark, parent or "."), name, swap


def _check_partition_value(col: str, v) -> None:
    """Partition values are rendered into ``col=value`` directory names;
    anything Hive would escape (NULL → __HIVE_DEFAULT_PARTITION__,
    URL-escaped specials like space/':'/'%', timestamps) would silently
    miss the staged directory and DROP the batch's rows for that
    partition — so refuse them loudly instead."""
    import re

    if v is None or isinstance(v, bool) or not isinstance(v, (int, str)):
        raise ValueError(
            f"partition column {col!r}: unsupported partition value {v!r} "
            "(merge_into_parquet requires non-null int/string values)"
        )
    if not re.fullmatch(r"[A-Za-z0-9_.\-]+", str(v)):
        raise ValueError(
            f"partition column {col!r}: value {v!r} needs Hive path "
            "escaping, which the partition swap does not implement — "
            "restrict partition values to [A-Za-z0-9_.-]"
        )


def _leaf_dirs(fs, root: str, depth: int) -> list[str]:
    """Relative paths of the ``col=value`` directories exactly ``depth``
    levels under ``root`` (the partition leaves)."""
    rels = [""]
    for _ in range(depth):
        rels = [
            f"{rel}/{name}" if rel else name
            for rel in rels
            for name in fs.list(f"{root}/{rel}" if rel else root)
            if "=" in name
        ]
    return rels


def merge_into_parquet(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> None:
    """MERGE INTO for a plain-parquet lake table (upsert semantics:
    updates replace matching keys, inserts pass through) — the Delta/
    Iceberg ``MERGE`` shape without table-format jars, built on
    ``operators.scale.merge_upsert``.

    Two physical strategies:

    - **Unpartitioned**: merge against the whole table and swap the
      rewritten directory in (the staged swap of
      :func:`compact_parquet_dir`, crash-window self-healing included).
      O(table) per merge — fine for dimensions, wrong for facts.
    - **Partitioned** (``partition_cols`` given): rewrite ONLY the
      partitions the update batch touches — the merge reads just the
      affected partition directories (partition pruning on the touched
      values) and the swap replaces just those directories.  At 100 TB
      this is the difference between rewriting a day and rewriting the
      table.  Partition swaps are per-directory renames (a reader can
      observe partition A new while B is still old — the same
      non-atomicity as Hive dynamic partition overwrite; table formats
      fix this with a transaction log).  Untouched partitions are never
      read, never rewritten.  Constraint (shared with every
      partition-local merge): an update must not MOVE a key to a
      different partition value, or the stale copy in the old partition
      survives.

    First write (no existing table) degrades to a plain write.
    Partition values must be simple scalars (int/string) — the touched
    list is rendered into ``col=value`` directory names.
    """
    import posixpath

    from pyspark.sql import functions as F

    from ..operators.scale import merge_upsert

    fs, name, swap = _table_fs(spark, path)
    staging = swap["staged"]
    if partition_cols:
        backup = f"{name}.__merge_old__"
        # crash-window recovery from a previous partitioned merge — the
        # backups live OUTSIDE the live tree (a marker dir inside it
        # would corrupt partition-value inference), keyed by the same
        # col=value relative path:
        #  - backup exists, live partition missing → crashed between the
        #    two renames: restore the backup.
        #  - backup exists, live exists → crashed after the swap, before
        #    cleanup: the new data is live, drop the backup.
        if fs.exists(backup):
            for rel in _leaf_dirs(fs, backup, len(partition_cols)):
                if not fs.exists(f"{name}/{rel}"):
                    fs.mkdirs(posixpath.dirname(f"{name}/{rel}"))
                    fs.rename(f"{backup}/{rel}", f"{name}/{rel}")
            fs.delete(backup)
        if fs.exists(staging):
            fs.delete(staging)
        # one small driver-side list of touched partition values bounds
        # the read to affected directories (pushed partition filter);
        # validated BEFORE the first write too, so a fresh table can't
        # accept values every later merge would refuse
        touched = [
            tuple(r[c] for c in partition_cols)
            for r in updates.select(*partition_cols).distinct().collect()
        ]
        for vals in touched:
            for c, v in zip(partition_cols, vals):
                _check_partition_value(c, v)
        if not fs.exists(name):
            updates.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
            return
        pred = F.lit(False)
        for vals in touched:
            clause = F.lit(True)
            for c, v in zip(partition_cols, vals):
                clause = clause & (F.col(c) == F.lit(v))
            pred = pred | clause
        base = spark.read.parquet(path).where(pred)
        merged = merge_upsert(base, updates, key_cols)
        # stage the merged partitions, then swap each touched partition
        # directory under the live root (writing straight back to `path`
        # would both trip Spark's read-your-own-overwrite guard and lose
        # the untouched partitions)
        merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            f"{fs.path}/{staging}"
        )
        for vals in touched:
            rel = "/".join(f"{c}={v}" for c, v in zip(partition_cols, vals))
            live_p, stag_p, back_p = f"{name}/{rel}", f"{staging}/{rel}", f"{backup}/{rel}"
            had_live = fs.exists(live_p)
            if had_live:
                fs.mkdirs(posixpath.dirname(back_p))
                fs.rename(live_p, back_p)
            if fs.exists(stag_p):
                fs.mkdirs(posixpath.dirname(live_p))
                try:
                    fs.rename(stag_p, live_p)
                except IOError:
                    if had_live:
                        fs.rename(back_p, live_p)  # roll this partition back
                    raise
        fs.delete(backup)
        fs.delete(staging)
        return
    fs.recover(name, **swap)
    if not fs.exists(name):
        updates.write.mode("overwrite").parquet(path)
        return
    base = spark.read.parquet(path)
    merged = merge_upsert(base, updates, key_cols)
    merged.write.mode("overwrite").parquet(f"{fs.path}/{staging}")
    fs.swap(name, **swap)


# ---------------------------------------------------------------- z-order


def zorder_key(df: DataFrame, cols: list[str], bits_per_col: int = 8):
    """Morton (Z-order) key expression over ``cols``: each column is
    quantized to ``2**bits_per_col`` EQUAL-FREQUENCY bins (boundaries from
    ``approxQuantile`` — a bounded driver collect of ``2**bits`` doubles
    per column; equal-width binning would collapse under skew), then the
    bin ids' bits are interleaved.  Rows close in the key are close in
    EVERY clustered dimension, so range-sorting by it gives parquet files
    whose per-file min/max stats are tight on ALL the columns at once —
    multi-column data skipping, where a plain sort only skips on its
    leading column.  Pure codegen arithmetic: the per-row cost is
    O(bins + bits · cols) JVM expression ops, no UDFs, no shuffle.
    """
    from pyspark.sql import functions as F

    nbins = 1 << bits_per_col
    qs = [i / nbins for i in range(1, nbins)]
    # timestamp/date dimensions cluster by their epoch value (a pure
    # monotone recode, so equal-frequency bins are unchanged); numerics
    # pass through
    dtypes = dict(df.dtypes)

    def _as_num(c):
        t = dtypes.get(str(c), "")
        if t.startswith("timestamp"):
            return F.unix_timestamp(F.col(c)).cast("double")
        if t == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        return F.col(c).cast("double")

    num_names = [f"_zq_{i}" for i in range(len(cols))]
    numeric = df.select(
        *[_as_num(c).alias(n) for c, n in zip(cols, num_names)]
    )
    # one pass over the data per call; boundaries become plan literals
    bounds = numeric.approxQuantile(num_names, qs, 0.001)
    bin_ids = []
    for c, bnds in zip(cols, bounds):
        uniq = sorted(set(bnds))
        # count boundaries <= value == equal-frequency bin id (codegen
        # fold over a literal array; ≤ nbins adds per row)
        arr = F.array(*[F.lit(float(b)) for b in uniq])
        expr = _as_num(c)
        bin_ids.append(
            F.aggregate(
                arr,
                F.lit(0),
                lambda acc, b: acc + F.when(expr >= b, 1).otherwise(0),
            )
        )
    morton = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for k, b in enumerate(bin_ids):
            morton = morton + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)).cast("long"),
                bit * len(cols) + k,
            )
    return morton


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 32,
    bits_per_col: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: range-partition + sort by the Morton
    key of ``cols`` so every output file covers a tight hyper-rectangle
    of the clustered space.  A selective predicate on ANY clustered
    column then prunes most files/row-groups via parquet min/max stats —
    the access-pattern win Delta's OPTIMIZE ZORDER BY provides, built
    from stock DataFrame ops (one range shuffle, in-partition sort,
    stats come free from the parquet writer).

    At 100 TB: ``num_files`` sizes the range shuffle (one task per output
    file); re-cluster cold partitions with this + ``compact_parquet_dir``
    rather than the whole table.
    """
    z = zorder_key(df, cols, bits_per_col)
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


# ------------------------------------------------------- training shards
def write_training_shards(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_shards: int = 16,
) -> dict:
    """Final-stage training-data export: deterministic, token-balanced
    shard files plus a manifest.

    Shard assignment is the portable content hash of the id
    (``md5 % num_shards``), so a document lands in the same shard across
    runs, engines, and incremental re-exports, and token mass balances
    across shards by the law of large numbers (no global sort, no
    driver-side packing).  Each shard writes as ONE file with rows
    sorted by id inside it — a stable, reproducible training order a
    loader can seek into.  ``_manifest.json`` records per-shard doc and
    whitespace-token counts so downstream schedulers can plan epochs
    without opening parquet footers.

    Scale shape: one hash map + one shuffle on the shard column
    (repartition aligns write tasks 1:1 with shards) + one write; the
    manifest aggregation reuses the same shuffle's output.  Returns the
    manifest dict."""
    import json

    from pyspark.sql import functions as F

    from ..functions.text import md5_long, token_count

    if "shard" in df.columns:
        # withColumn would silently REPLACE the user's column and export
        # the partition key in its place — refuse instead of losing data
        raise ValueError(
            "write_training_shards: input already has a 'shard' column; "
            "rename it before export (the shard partition key is derived "
            f"from {id_col!r} and owns that name in the output layout)"
        )
    sh = F.pmod(md5_long(F.col(id_col).cast("string")), F.lit(num_shards))
    out = df.withColumn("shard", sh)
    (
        out.repartition(F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    # aggregate the WRITTEN files, not the input lineage: re-evaluating
    # the upstream plan would double its I/O and, on nondeterministic
    # lineage (samples, limits), could describe different rows than the
    # shards actually hold
    stats = (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(text_col)).alias("n_tokens"),
        )
        .collect()
    )
    by_shard = {int(r["shard"]): r for r in stats}
    manifest = {
        "num_shards": num_shards,
        # every shard id appears; hash buckets that received no docs are
        # recorded as legitimately empty (no shard=N directory exists)
        "shards": {
            str(i): {
                "n_docs": by_shard[i]["n_docs"] if i in by_shard else 0,
                "n_tokens": int(by_shard[i]["n_tokens"]) if i in by_shard else 0,
            }
            for i in range(num_shards)
        },
    }
    _StoreFS(spark, path).write_text("_manifest.json", json.dumps(manifest))
    return manifest
