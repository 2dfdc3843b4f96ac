"""Effectively-once JDBC delivery for streaming micro-batches.

Spark's ``foreachBatch`` is at-least-once: after a crash between the data
write and the checkpoint commit, the SAME epoch is re-delivered.  The
reference accepts duplicate rows in that window (at-least-once,
out_sql.rb:103-136); this sink upgrades to effectively-once with the
standard epoch-marker + delete-then-insert protocol, no XA required:

1. if (target, epoch_id) is in the marker table → the epoch fully
   committed before the crash → skip entirely (idempotent redelivery);
2. otherwise DELETE the epoch's rows from the target (clears a PARTIAL
   write from a crashed attempt — rows carry their ``_epoch``), then
   bulk-INSERT the batch, then INSERT the marker.

The marker insert is the commit point: it happens only after the data is
fully written, and step 2 makes retries idempotent either side of it.

Control statements (marker lookup/insert, epoch delete) run on the
driver over ``java.sql.DriverManager`` through the py4j gateway — the
same JVM that already holds the JDBC driver for the bulk writes; the
data path stays Spark's partitioned ``write_jdbc``.  At scale the
control statements are O(1) per micro-batch and the marker table gains
one row per epoch per target.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.jdbc import dialect_for_url, jdbc_connection, write_jdbc

MARKER_TABLE = "fpss_epochs"

_IDENT_OK = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")


def _check_ident(name: str) -> str:
    """Table names come from config, but they are interpolated into
    control SQL — reject anything that isn't a plain identifier."""
    if not _IDENT_OK.match(name):
        raise ValueError(f"invalid table identifier: {name!r}")
    return name


# "object does not exist" across dialects: Derby 42X05/42Y55, SQL-server
# family S0002, MySQL 42S02, PostgreSQL 42P01, DB2 42704
MISSING_OBJECT_SQLSTATES = frozenset(
    {"42X05", "42Y55", "S0002", "42S02", "42P01", "42704"}
)
# "object already exists": Derby X0Y32, PostgreSQL 42P07, MySQL 42S01,
# DB2 42710, SQL-server create-exists S0001
EXISTS_SQLSTATES = frozenset({"X0Y32", "42P07", "42S01", "42710", "S0001"})
# Oracle flattens both ORA-00942 (does not exist) and ORA-00955 (already
# exists) — and plain syntax errors — into the generic SQLState 42000, so
# tolerating 42000 is gated on a jdbc:oracle URL rather than global (on
# every other system 42000 is a real error that must abort the batch)
ORACLE_SQLSTATES = frozenset({"42000"})


def _sqlstates(exc: Exception):
    """Yield the SQLState of every java.sql.SQLException in the py4j
    exception's cause chain (empty for non-JVM errors)."""
    je = getattr(exc, "java_exception", None)
    seen = 0
    while je is not None and seen < 16:
        seen += 1
        try:
            state = je.getSQLState()
        except Exception:
            state = None
        if state:
            yield str(state)
        try:
            je = je.getCause()
        except Exception:
            return


class EpochMarkerStore:
    """Driver-side control-plane statements for the marker protocol.

    The identifier quote character and the tolerated SQLStates follow the
    URL (``sources.jdbc.dialect_for_url``): on MySQL/MariaDB the
    retry cleanup must name ``_epoch`` in backticks, since a
    double-quoted ``"_epoch"`` there is a string literal and the DELETE
    would match no row."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        properties: dict[str, str] | None = None,
        marker_table: str = MARKER_TABLE,
    ):
        self.spark = spark
        self.url = url
        self.properties = properties or {}
        self.marker_table = _check_ident(marker_table)
        d = dialect_for_url(url)
        # Spark's JDBC writer QUOTES column names (preserving case), so
        # control SQL must quote them too on case-folding databases
        # (Derby/Oracle uppercase unquoted idents)
        self.quote = d.quote_char
        extra = ORACLE_SQLSTATES if d.name == "oracle" else frozenset()
        self._missing_states = MISSING_OBJECT_SQLSTATES | extra
        self._exists_states = EXISTS_SQLSTATES | extra
        self._ensure_marker_table()

    def _conn(self):
        return jdbc_connection(self.spark, self.url, self.properties)

    def _execute(
        self,
        sql: str,
        ignore_errors: bool = False,
        ignore_sqlstates: frozenset[str] | None = None,
    ) -> None:
        """Run one control statement.  ``ignore_sqlstates`` swallows ONLY
        failures whose SQLState chain matches (e.g. table-not-found on the
        first epoch); anything else — lock timeout, dropped connection —
        propagates so the caller's batch aborts and Spark retries it,
        instead of silently proceeding past a failed DELETE and breaking
        the effectively-once guarantee."""
        conn = self._conn()
        try:
            st = conn.createStatement()
            try:
                st.execute(sql)
            finally:
                st.close()
        except Exception as exc:
            if ignore_errors:
                return
            if ignore_sqlstates and any(s in ignore_sqlstates for s in _sqlstates(exc)):
                return
            raise
        finally:
            conn.close()

    def _query_one(self, sql: str):
        conn = self._conn()
        try:
            st = conn.createStatement()
            rs = st.executeQuery(sql)
            val = rs.getLong(1) if rs.next() else None
            rs.close()
            st.close()
            return val
        finally:
            conn.close()

    def _ensure_marker_table(self) -> None:
        # CREATE TABLE IF NOT EXISTS is not universal (Derby) → create and
        # swallow only the "already exists" SQLState
        self._execute(
            f"CREATE TABLE {self.marker_table} "
            "(target VARCHAR(128) NOT NULL, epoch_id BIGINT NOT NULL, "
            "PRIMARY KEY (target, epoch_id))",
            ignore_sqlstates=self._exists_states,
        )

    def committed(self, target: str, epoch_id: int) -> bool:
        n = self._query_one(
            f"SELECT COUNT(*) FROM {self.marker_table} "
            f"WHERE target = '{_check_ident(target)}' AND epoch_id = {int(epoch_id)}"
        )
        return bool(n)

    def mark(self, target: str, epoch_id: int) -> None:
        self._execute(
            f"INSERT INTO {self.marker_table} (target, epoch_id) "
            f"VALUES ('{_check_ident(target)}', {int(epoch_id)})"
        )

    def prune(self, target: str, keep_last: int = 1000) -> None:
        """Bound the marker table in long-lived deployments: epochs older
        than the newest ``keep_last`` can never be redelivered (Spark
        retries only the latest uncommitted batch), so their markers are
        dead weight.  One DELETE per call; run it occasionally (e.g. from
        the same foreachBatch every N epochs)."""
        t = _check_ident(target)
        self._execute(
            f"DELETE FROM {self.marker_table} WHERE target = '{t}' AND epoch_id < "
            f"(SELECT MAX(epoch_id) FROM {self.marker_table} WHERE target = '{t}')"
            f" - {int(keep_last) - 1}",
            ignore_errors=True,
        )

    def clear_epoch(self, target: str, epoch_id: int) -> None:
        # The target table may not exist yet on the very first epoch —
        # that exact case (and only it) is ignorable.  Any OTHER delete
        # failure (lock timeout, dropped connection) must abort the batch:
        # swallowing it would let the append run with a crashed attempt's
        # partial rows still in place, then commit the marker — duplicates
        # under the effectively-once contract.
        q = self.quote
        self._execute(
            f"DELETE FROM {_check_ident(target)} "
            f"WHERE {q}_epoch{q} = {int(epoch_id)}",
            ignore_sqlstates=self._missing_states,
        )


def idempotent_jdbc_writer(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 1000,
    num_partitions: int | None = None,
    marker_store: EpochMarkerStore | None = None,
):
    """Build a ``foreachBatch``-compatible ``(df, epoch_id) -> None``
    handler delivering each epoch effectively-once into ``table`` (rows
    gain an ``_epoch`` BIGINT column — the retry-cleanup key)."""
    store = marker_store or EpochMarkerStore(spark, url, properties)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if store.committed(table, epoch_id):
            return  # full redelivery of a committed epoch
        store.clear_epoch(table, epoch_id)  # partial write from a crash
        write_jdbc(
            batch_df.withColumn("_epoch", F.lit(int(epoch_id))),
            url,
            table,
            properties,
            mode="append",
            batchsize=batchsize,
            num_partitions=num_partitions,
        )
        store.mark(table, epoch_id)  # commit point

    return handle
