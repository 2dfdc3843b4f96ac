"""Crash-safe Hadoop-FS access for the tables the engine rewrites in
place — the dedup, rollup and IVF state stores (``operators``) and the
parquet lake tables (``sinks.lake``) — behind one class,
:class:`_StoreFS`, so the staged swap and its recovery exist once."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConcurrentStoreWriterError(RuntimeError):
    """A second writer (or a stale lock from a crashed one) holds the
    store's mutation lock.  The dedup stores are SINGLE-WRITER: absorbs
    and compactions from concurrent sessions against one store path are
    not safe (a compact's staging swap deletes trees an in-flight append
    may be writing into).  Run one ingest pipeline per store path; after
    a writer crash, delete ``{path}/_writer.lock`` to recover."""


class _StoreFS:
    """Hadoop-FS access for every state or lake table the engine rewrites
    in place: the dedup, rollup and IVF stores are rooted at ``path``, a
    lake table at its parent directory.  Uses the Hadoop
    FileSystem API, so it works unchanged on any Hadoop-compatible
    filesystem (local, HDFS, object stores).  Paths passed to every
    method are relative to ``path``.

    **Staged swap.**  A rewrite of the live table ``sub`` writes the
    complete new table to a staged sibling, then :meth:`swap` renames
    live → old, staged → live, and deletes old.  Each rename is atomic on
    POSIX/HDFS (an O(data) copy on S3A — use a table format there); the
    pair is not, and :meth:`recover` heals a crash at any point:

    - live present: any staged tree is an unswapped or partial rewrite
      and any old tree a finished swap's leftover — drop both;
    - live missing (crashed between the renames): roll forward from a
      staged tree that has ``_SUCCESS``, else roll back from old; then
      drop what is left.

    Writers run :meth:`recover` under :meth:`lock` before staging; a
    read-only open heals only while no writer holds the lock
    (:meth:`heal_on_open`).  The staged and old names per table:

    ==================================  ============================  ============================
    table                               staged                        old
    ==================================  ============================  ============================
    store tables (dedup, rollup, IVF)   ``_compact_{sub}``            ``_old_{sub}``
    embedding-store ``drift``           ``_drift_staged``             ``_old_drift``
    lake table ``{name}`` (sinks.lake)  ``{name}.__compact_tmp__``    ``{name}.__compact_old__``
    ==================================  ============================  ============================

    Two callers keep their own protocol on the primitives below
    (:meth:`exists`, :meth:`list`, :meth:`rename`, :meth:`delete`,
    :meth:`mkdirs`, :meth:`touch`, :meth:`read_text`, :meth:`write_text`):
    the embedding store's recluster swaps two tables under one marker,
    and the lake's partitioned merge swaps single partition directories.
    """

    LOCK = "_writer.lock"

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        jvm = spark._jvm  # noqa: SLF001
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(self.path).getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )

    def _p(self, sub: str):
        return self._jpath(f"{self.path}/{sub}" if sub else self.path)

    def exists(self, sub: str) -> bool:
        return self._fs.exists(self._p(sub))

    def list(self, sub: str = "") -> list[str]:
        """Names of the entries directly under ``sub`` (which must exist)."""
        return [st.getPath().getName() for st in self._fs.listStatus(self._p(sub))]

    def has_data(self, sub: str) -> bool:
        """True iff ``sub`` exists AND contains at least one non-marker
        entry (a ``part=`` directory or data file — anything not
        ``_``-prefixed).  The probe-side existence check for state
        tables: an absorb of an EMPTY batch creates the table directory
        with only ``_SUCCESS``, and a bare exists() would then route the
        next probe into ``spark.read.parquet`` on a data-less dir —
        UNABLE_TO_INFER_SCHEMA, wedging every subsequent batch.  One
        driver-side listStatus; no Spark job."""
        if not self.exists(sub):
            return False
        return any(not name.startswith("_") for name in self.list(sub))

    def size(self, sub: str) -> int:
        """Total bytes of the files under ``sub``."""
        return self._fs.getContentSummary(self._p(sub)).getLength()

    def rename(self, src: str, dst: str) -> None:
        """rename() with its boolean result CHECKED — Hadoop's rename
        reports failure (e.g. a pre-existing destination) by returning
        False, and an unchecked first rename would make the second one
        nest the staged dir inside the live path."""
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {self.path}/{src} -> {self.path}/{dst}")

    def delete(self, sub: str, recursive: bool = True) -> bool:
        return self._fs.delete(self._p(sub), recursive)

    def mkdirs(self, sub: str = "") -> None:
        self._fs.mkdirs(self._p(sub))

    def touch(self, sub: str) -> bool:
        """Atomically create an empty file; False if it already exists."""
        return self._fs.createNewFile(self._p(sub))

    def read_text(self, sub: str) -> str | None:
        """UTF-8 contents of file ``sub``; None when it does not exist."""
        if not self.exists(sub):
            return None
        jvm = self.spark._jvm  # noqa: SLF001
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(self._fs.open(self._p(sub)), "UTF-8")
        )
        lines = []
        try:
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
        finally:
            reader.close()
        return "\n".join(lines)

    def write_text(self, sub: str, text: str) -> None:
        """Create or overwrite file ``sub`` with UTF-8 ``text``."""
        out = self._fs.create(self._p(sub), True)
        try:
            out.write(bytearray(text, "utf-8"))
        finally:
            out.close()

    def swap(self, sub: str, staged: str | None = None, old: str | None = None) -> None:
        """Make the complete staged table ``staged`` (default
        ``_compact_{sub}``) the live table ``sub``: rename live → ``old``
        (default ``_old_{sub}``), staged → live, then delete old.  A
        failed second rename rolls back at once.  Run :meth:`recover`
        before staging, so no old tree is in the way."""
        staged = staged or f"_compact_{sub}"
        old = old or f"_old_{sub}"
        had_live = self.exists(sub)
        if had_live:
            self.rename(sub, old)
        try:
            self.rename(staged, sub)
        except Exception:
            if had_live:
                self.rename(old, sub)
            raise
        if had_live:
            self.delete(old)

    def recover(self, sub: str, staged: str | None = None, old: str | None = None) -> None:
        """Heal an interrupted :meth:`swap` of ``sub`` (names as there) so
        a crash at ANY point leaves or restores a complete live table:
        with live missing, roll forward from a staged tree that has
        ``_SUCCESS``, else back from old; then drop the leftovers."""
        staged = staged or f"_compact_{sub}"
        old = old or f"_old_{sub}"
        if not self.exists(sub):
            if self.exists(f"{staged}/_SUCCESS"):
                self.rename(staged, sub)
            elif self.exists(old):
                self.rename(old, sub)
        for leftover in (staged, old):
            if self.exists(leftover):
                self.delete(leftover)

    def lock(self, op: str = "mutate"):
        """Exclusive store-mutation lock (atomic ``createNewFile``).
        Fails FAST with :class:`ConcurrentStoreWriterError` instead of
        corrupting state when two writers race — the documented
        single-writer contract, enforced."""
        import contextlib

        @contextlib.contextmanager
        def _held():
            if not self.exists(""):
                self.mkdirs()
            if not self.touch(self.LOCK):
                raise ConcurrentStoreWriterError(
                    f"store {self.path} is locked by another writer "
                    f"(op={op}); if that writer crashed, delete "
                    f"{self.path}/{self.LOCK} and retry"
                )
            try:
                yield
            finally:
                self.delete(self.LOCK, recursive=False)

        return _held()

    META = "_meta.json"

    def read_meta(self) -> dict | None:
        """Store metadata (creation-time layout constants).  None when
        the store predates metadata or doesn't exist yet."""
        import json

        text = self.read_text(self.META)
        return json.loads(text) if text else None

    def write_meta(self, meta: dict) -> None:
        import json

        self.write_text(self.META, json.dumps(meta))

    def pin_layout(
        self, store, keys: tuple[str, ...], tables: tuple[str, ...] = ()
    ) -> dict | None:
        """Set ``store``'s layout constants ``keys`` to the values the
        store was CREATED with, warning when the caller asked for others.
        Stored rows carry bucket ids and the constants shape the stored
        keys, so probing with any other value would push filters that
        match no stored row and SILENTLY miss every duplicate.

        ``layout``, when in ``keys``, is the on-disk format version and
        is checked, not warned about: the metadata's value, or 1 when it
        has no ``layout`` key or predates metadata while ``tables``
        hold data; a fresh store keeps ``store.layout``, and a version
        newer than it raises.  Returns the metadata (None before the
        first absorb, or for a store that predates metadata)."""
        meta = self.read_meta()
        if "layout" in keys:
            if meta is not None:
                version = int(meta.get("layout", 1))
            elif any(self.has_data(t) for t in tables):
                version = 1
            else:
                version = store.layout
            if version > store.layout:
                raise ValueError(
                    f"store {self.path} has layout {version}; this engine "
                    f"reads layouts up to {store.layout}"
                )
            store.layout = version
        if meta is None:
            return None
        for key in keys:
            if key == "layout":
                continue
            if meta[key] != getattr(store, key):
                import logging

                logging.getLogger(__name__).warning(
                    "store %s was created with %s=%s; overriding the "
                    "requested %s", self.path, key, meta[key], getattr(store, key),
                )
            setattr(store, key, int(meta[key]))
        return meta

    def write_meta_if_absent(self, store, keys: tuple[str, ...]) -> None:
        """Record ``store``'s layout constants ``keys`` on first absorb."""
        if self.read_meta() is None:
            self.write_meta({key: getattr(store, key) for key in keys})

    def append(self, sub: str, df: DataFrame, part_col: str) -> None:
        """Append ``df`` to ``{path}/{sub}``, directory-partitioned by
        ``part_col``.  Repartitioning on the partition column first lands
        ONE file per touched bucket instead of one per (task × bucket)."""
        (
            df.repartition(F.col(part_col))
            .write.mode("append")
            .partitionBy(part_col)
            .parquet(f"{self.path}/{sub}")
        )

    def heal_on_open(self, *subs: str) -> bool:
        """Run :meth:`recover` for ``subs`` UNLESS another session's
        writer lock is present.  Healing deletes staging trees; doing
        that from a read-only open while a live writer is mid-compact
        would destroy its in-flight work (the documented recovery for a
        CRASHED writer is deleting the lock file, after which the next
        open heals).  Returns True if healing ran."""
        if self.exists(self.LOCK):
            return False
        for sub in subs:
            self.recover(sub)
        return True

    def compact_table(
        self, sub: str, part_col: str, num_files: int, sort_col: str | None = None
    ) -> None:
        """Rewrite ``{path}/{sub}`` with ``num_files`` files total,
        preserving the ``part_col`` directory partitioning, via a
        staging-dir swap: bucket ids (hence probe pruning) are identical
        before and after, and the live tree stays readable until the
        swap.  ``sort_col`` additionally clusters rows WITHIN each
        rewritten file so parquet page/row-group min-max statistics
        become selective for the probe's pushed ``In`` filter — the
        second-level prune that keeps probe I/O o(store) even when a
        large batch touches every bucket directory.  Crash safety: the
        staged swap (class docstring)."""
        self.recover(sub)
        if not self.exists(sub):
            return
        df = self.spark.read.parquet(f"{self.path}/{sub}")
        df = df.repartition(num_files, F.col(part_col))
        if sort_col is not None:
            df = df.sortWithinPartitions(part_col, sort_col)
        df.write.mode("overwrite").partitionBy(part_col).parquet(
            f"{self.path}/_compact_{sub}"
        )
        self.swap(sub)
