"""Tag-routed buffered sink (reference out_sql, re-expressed on Spark).

Reference semantics rebuilt:
- O3 first-match-wins routing in declared pattern order, with a required
  default route (out_sql.rb:229-235, README.md:140-146).
- F5 tag prefix strip via anchored regex (out_sql.rb:253-259).
- F6 fluentd glob patterns (``*`` one part, ``**`` any parts, ``{a,b}``).
- P4 inject ``tag``/``time`` as record fields before mapping (out_sql.rb:96).
- P3 ``column_mapping`` projection/rename that DROPS unmapped fields
  (out_sql.rb:64-72, 140-148).
- S8 degraded one-by-one load with bounded retries on deterministic
  errors (out_sql.rb:103-136) — :func:`resilient_rows_writer` builds it as
  a ``foreachPartition`` function, but the Pipeline's JDBC sink does not
  use it yet: that sink is a plain bulk ``write_jdbc``.

Spark design: routing is a single ``CASE WHEN`` column (one pass over the
data, whole-stage codegen, no per-route rescans).  The routed batch is
cached; one collect of that column fills the cache and counts the rows
per route, then each non-empty route writes its slice, filtered on that
column.  In streaming mode, wrap :meth:`SQLOutput.write_batch` in
``foreachBatch``.
"""

from __future__ import annotations

import logging
import time as _time
from collections import Counter
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SinkRoute, SQLOutputConfig, strip_tag_prefix_regex

log = logging.getLogger(__name__)

WriteFn = Callable[[DataFrame, str], None]


def quarantine_time_fallback(
    df: DataFrame,
    tag_col: str = "tag",
    flag_col: str = "_time_fallback",
    suffix: str = "quarantine",
) -> DataFrame:
    """T3 companion: rows whose event time fell back to "now" get their
    tag suffixed (``db.events`` → ``db.events.quarantine``) so a pattern
    route like ``**.quarantine`` can divert them to a quarantine table for
    inspection — the reference only logs a warning (in_sql.rb:120-125);
    this makes the dirty stream routable."""
    if flag_col not in df.columns:
        return df
    return df.withColumn(
        tag_col,
        F.when(
            F.col(flag_col), F.concat_ws(".", F.col(tag_col), F.lit(suffix))
        ).otherwise(F.col(tag_col)),
    )


def apply_column_mapping(df: DataFrame, mapping: list[tuple[str, str]]) -> DataFrame:
    """P3: project+rename per mapping pairs; unmapped columns are dropped
    (out_sql.rb:64-72).  Missing source columns become NULL — the
    row-construction-failure analogue is handled by the writer fallback."""
    cols = []
    for src, dst in mapping:
        if src in df.columns:
            cols.append(F.col(src).alias(dst))
        else:
            cols.append(F.lit(None).alias(dst))
    return df.select(*cols)


def route_expr(routes: list[SinkRoute], default_table: str, tag_col: str = "tag") -> Column:
    """O3: one CASE WHEN chain over the glob-compiled patterns, in declared
    order — first match wins, everything else falls to the default table."""
    expr: Column | None = None
    for r in routes:
        cond = F.col(tag_col).rlike(r.pattern_regex())
        expr = F.when(cond, F.lit(r.table)) if expr is None else expr.when(cond, F.lit(r.table))
    return F.lit(default_table) if expr is None else expr.otherwise(F.lit(default_table))


def route_index_expr(routes: list[SinkRoute], tag_col: str = "tag") -> Column:
    """Same CASE WHEN chain, but valued with the ROUTE's position (-1 for
    the default route).  The writer slices on this, not the table name:
    two routes may target the SAME table with different column_mappings
    (e.g. a pattern route plus the default), and each matched slice must
    go through its own route's mapping (out_sql.rb:226-237 applies each
    <table> section's mapping independently)."""
    expr: Column | None = None
    for i, r in enumerate(routes):
        cond = F.col(tag_col).rlike(r.pattern_regex())
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    return F.lit(-1) if expr is None else expr.otherwise(F.lit(-1))


class SQLOutput:
    """The routed sink engine (reference SQLOutput, out_sql.rb:151-237)."""

    def __init__(self, config: SQLOutputConfig, write: WriteFn):
        self.config = config
        self.write = write  # (mapped_df, table) → None; JDBC/parquet/…

    def prepare(self, df: DataFrame, tag_col: str = "tag") -> DataFrame:
        """Strip the tag prefix (F5) and compute the destination table for
        every row in ONE pass (no per-route job)."""
        out = df
        if self.config.remove_tag_prefix:
            out = out.withColumn(
                tag_col,
                F.regexp_replace(
                    F.col(tag_col),
                    strip_tag_prefix_regex(self.config.remove_tag_prefix),
                    "",
                ),
            )
        return out.withColumn(
            "_route_idx",
            route_index_expr(self.config.pattern_routes, tag_col),
        )

    def write_batch(self, df: DataFrame, tag_col: str = "tag") -> dict[str, int]:
        """Route one micro-batch/chunk to its tables (out_sql.rb:226-237).

        The routed frame is cached once (bounded: one micro-batch), and
        one collect of its route column fills that cache and gives the
        rows per route.  Each non-empty ROUTE then writes its slice
        through its OWN column_mapping — small writes off one shared
        scan, none for an empty slice.  Counts aggregate per table (two
        routes may share a table); an empty route's table reports 0.
        """
        routed = self.prepare(df, tag_col).cache()
        written: dict[str, int] = {}
        try:
            per_route = Counter(r[0] for r in routed.select("_route_idx").collect())
            slices = list(enumerate(self.config.pattern_routes))
            slices.append((-1, self.config.default_route))
            for idx, route in slices:
                n = per_route[idx]
                if n:
                    part = routed.where(F.col("_route_idx") == idx).drop("_route_idx")
                    mapping = route.mapping_pairs()
                    if mapping:
                        part = apply_column_mapping(part, mapping)
                    self.write(part, route.table)
                written[route.table] = written.get(route.table, 0) + n
            return written
        finally:
            routed.unpersist()


def resilient_rows_writer(
    insert_batch: Callable[[list[dict]], None],
    insert_row: Callable[[dict], None],
    num_retries: int = 5,
    retry_sleep_s: float = 0.5,
    enable_fallback: bool = True,
) -> Callable[[iter], None]:
    """S8: build a ``foreachPartition`` function with the reference's
    degraded-load behavior (out_sql.rb:103-136): try the bulk insert; on
    failure fall back to row-at-a-time, retrying each row ≤ ``num_retries``
    with a sleep, then log-and-drop.  Runs executor-side — each partition
    is one connection's work, so scale = partition count, and a poison row
    only costs its own partition's fallback."""

    def write_partition(rows_iter) -> None:
        rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows_iter]
        if not rows:
            return
        try:
            insert_batch(rows)
            return
        except Exception:  # noqa: BLE001
            if not enable_fallback:
                raise
            log.exception("bulk insert failed; degrading to one-by-one")
        for row in rows:
            for attempt in range(num_retries + 1):
                try:
                    insert_row(row)
                    break
                except Exception:  # noqa: BLE001
                    if attempt == num_retries:
                        log.error("dropping row after %d retries: %r", num_retries, row)
                    else:
                        _time.sleep(retry_sleep_s)

    return write_partition
