"""Table loading for the engine's parquet-backed tables.

Some driver tables carry parquet TIMESTAMP(NANOS) columns (e.g.
``events.ts``), which Spark's vectorized reader rejects outright
(PARQUET_TYPE_ILLEGAL).  We read them with
``spark.sql.legacy.parquet.nanosAsLong`` and convert ns→µs ourselves
(floor division — identical to DuckDB's ns→µs truncation, so oracle
comparisons agree).  The conversion is detected from the parquet footer,
not hardcoded per table, so any future nanos column is handled.

Scale note: footer inspection reads one file's metadata only; the data
path stays the normal vectorized parquet scan with pushdown intact.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return ()
    import pyarrow as pa

    if os.path.isdir(path):
        files = [
            os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        ]
        if not files:
            return ()
        path = files[0]
    # one footer open serves both views of the schema (arrow-level for
    # the logical ns unit, parquet-level for the INT96 physical type)
    pf = pq.ParquetFile(path)
    schema = pf.schema_arrow
    # Arrow reports legacy INT96 timestamps as timestamp[ns] too, but
    # Spark reads INT96 natively — only true TIMESTAMP(NANOS) (INT64
    # physical) columns need the nanosAsLong + ns→µs conversion path.
    int96 = set()
    pf_schema = pf.schema
    for i in range(len(pf_schema)):
        col = pf_schema.column(i)
        if col.physical_type == "INT96":
            int96.add(col.name)
    return tuple(
        name
        for name, typ in zip(schema.names, schema.types)
        if pa.types.is_timestamp(typ) and typ.unit == "ns" and name not in int96
    )


# (path, mtime_ns, size) -> Spark schema of the raw parquet read.
# Passing an explicit schema skips the per-read footer-inference JOB
# (measured ~40-60 ms of driver latency per table per query execution —
# q5 paid six of them per run).  Keyed on stat() so a rewritten file
# re-infers; stores only the schema, never data — every query still
# computes from the parquet bytes.
_schema_cache: dict[tuple[str, int, int], object] = {}

# (app_id, keep_ns, path, mtime_ns, size) -> the UNEXECUTED base-table
# DataFrame (reader + ns-conversion projections).  A DataFrame is a lazy
# plan — no rows, no results — so reusing it is the catalog-resolution
# step a real engine performs once per table, not caching of data:
# every query execution still scans the parquet bytes.  What it removes
# is ~40 ms of py4j round-trips (reader construction, schema parse,
# column projections) per table per query build on the driver — the
# reference's poll loop pays that on every tick.  Keyed on the session's
# applicationId (unique per SparkSession) and the file's stat, so a new
# session or a rewritten file rebuilds the plan.
_table_cache: dict[tuple[str, bool, str, int, int], DataFrame] = {}


def _stat_key(path: str) -> tuple[str, int, int] | None:
    # directory tables are excluded from the lazy-plan cache: their
    # top-level mtime/size does not change when a nested partition file
    # is rewritten, so a cached reader (whose file listing snapshots at
    # analysis time) could silently serve stale files.  Driver tables
    # are single parquet files; anything else re-reads fresh.
    if not os.path.isfile(path):
        return None
    st = os.stat(path)
    return (path, st.st_mtime_ns, st.st_size)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, keep_ns: bool = False
) -> DataFrame:
    """Load one driver table; nanos timestamps come back as proper
    ``TimestampType`` (µs, UTC) columns.

    ``keep_ns=True`` additionally exposes EVERY timestamp column ``c``
    as an exact int64 ``c_ns`` (nanoseconds since epoch) — raw physical
    value for TIMESTAMP(NANOS) columns, ``unix_micros * 1000`` for µs
    columns — a uniform exact-ns surface regardless of the file's
    physical unit.  This closes the reference's ns-resolution event
    time (fluentd EventTime is ns — reference ChangeLog:21) that
    Spark's µs ``TimestampType`` cannot carry: ns ordering, watermarks
    and tiebreaks run on the long column (``IncrementalScan`` with
    ``update_column="ts_ns"`` is an exact ns watermark, since the
    strict ``>`` scan predicate and the JSON checkpoint are both exact
    on int64), while windows/intervals keep the µs timestamp.

    Scale note: both derived forms are pure codegen projections over the
    same vectorized scan; pushdown on the raw column is unaffected."""
    path = f"{sf_dir}/{name}.parquet"
    nanos = _nanos_columns(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        key = _stat_key(path)
    except OSError:
        key = None
    tkey = None
    if key is not None:
        # keyed on the SESSION uuid, not just the applicationId:
        # spark.newSession() shares the app but has its own temp-view
        # catalog, and a DataFrame is bound to the session that built it
        # (parameterized spark.sql({t}=df) resolves in the calling
        # session's catalog) — serving one session's plan to another
        # breaks resolution.  applicationId is the fallback for session
        # impls without a uuid.
        try:
            skey = spark._jsparkSession.sessionUUID()  # noqa: SLF001
        except Exception:
            skey = spark.sparkContext.applicationId
        tkey = (skey, keep_ns, *key)
        hit = _table_cache.get(tkey)
        if hit is not None:
            return hit
        if len(_table_cache) > 256:
            # bound the leak from cycled sessions: drop every other
            # session's entries once the cache grows past the cap (each
            # holds a py4j DataFrame reference).  Current session's
            # entries — the only ones that can still hit — survive.
            stale = [k for k in _table_cache if k[0] != skey]
            for k in stale:
                del _table_cache[k]
    cached = _schema_cache.get(key) if key is not None else None
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            # an older (mtime, size) of this file can never hit again
            for k in [k for k in _schema_cache if k[0] == path]:
                del _schema_cache[k]
            _schema_cache[key] = df.schema
    for c in nanos:
        if keep_ns:
            df = df.withColumn(f"{c}_ns", F.col(c))
        # integer `div` — a double division would lose precision above 2^53 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if keep_ns:
        for field in df.schema.fields:
            # driver parquet is isAdjustedToUTC=false → TIMESTAMP_NTZ;
            # under the factory's UTC session pin the NTZ→TIMESTAMP cast
            # is value-identity, matching DuckDB's epoch_ns on the same
            # naive value.
            if (
                field.dataType.typeName() in ("timestamp", "timestamp_ntz")
                and f"{field.name}_ns" not in df.columns
            ):
                # try_multiply: int64 ns only spans ~1677..2262 — a time
                # outside it gets a NULL ns twin (deterministic, ANSI-safe)
                # rather than an ARITHMETIC_OVERFLOW job kill.
                df = df.withColumn(
                    f"{field.name}_ns",
                    F.try_multiply(
                        F.unix_micros(F.col(field.name).cast("timestamp")),
                        F.lit(1000),
                    ),
                )
    if tkey is not None:
        # same rule for the plans: this session's entries for an older
        # version of the file are dead weight (other sessions' entries
        # are dropped by the size cap above)
        for k in [k for k in _table_cache if k[0] == tkey[0] and k[2] == path]:
            if k[3:] != tkey[3:]:
                del _table_cache[k]
        _table_cache[tkey] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the driver tables as temp views for the SQL API."""
    for name in tables or TABLES:
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
