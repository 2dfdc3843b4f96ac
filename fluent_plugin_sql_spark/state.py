"""Checkpoint state store for incremental table scans.

The reference persists ``{last_records: {table → last_row_hash}}`` to a
YAML ``state_file``, tolerating an empty file, and rewrites it after every
table poll (in_sql.rb:269-271, 280-320).  We keep the same contract with
JSON + atomic rename (write tmp, fsync, rename) so a crash never leaves a
torn checkpoint.  The at-least-once ordering — emit downstream FIRST, then
persist (in_sql.rb:151-158, 270-271) — is enforced by the poll loop in
``sources.incremental``, not here.

For the Structured Streaming mode the Spark checkpoint directory replaces
this store; this class serves the batch-incremental mode.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import tempfile
from decimal import Decimal
from typing import Any


def _encode_value(v: Any) -> Any:
    """Type-tagged JSON encoding for watermark values: a restart must
    resume with the SAME predicate typing (a timestamp watermark coming
    back as a string would compare a timestamp column against a string
    literal — implicit-cast roulette on strict dialects)."""
    if isinstance(v, _dt.datetime):
        return {"$t": "timestamp", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"$t": "date", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"$t": "decimal", "v": str(v)}
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    return {"$t": "str", "v": str(v)}


def _decode_value(v: Any) -> Any:
    if isinstance(v, dict) and "$t" in v:
        t, s = v["$t"], v["v"]
        if t == "timestamp":
            return _dt.datetime.fromisoformat(s)
        if t == "date":
            return _dt.date.fromisoformat(s)
        if t == "decimal":
            return Decimal(s)
        return s
    return v


def _parse_state(text: str, path: str) -> dict[str, dict[str, Any]]:
    """Decode a non-empty state file.  A corrupt one raises rather than
    reading as "no state", which would silently re-ingest every table
    from the beginning."""
    try:
        data = json.loads(text)
    except json.JSONDecodeError as e:
        raise _corrupt_state(path, e) from e
    records = data.get("last_records", {}) if isinstance(data, dict) else None
    if not isinstance(records, dict) or not all(
        isinstance(rec, dict) for rec in records.values()
    ):
        raise _corrupt_state(
            path, 'expected {"last_records": {table: {column: value}}}'
        )
    return {
        table: {k: _decode_value(v) for k, v in rec.items()}
        for table, rec in records.items()
    }


def _corrupt_state(path: str, why: object) -> ValueError:
    return ValueError(
        f"state file {path} is corrupt ({why}); restore it, or delete it to "
        "restart without state (every table is then re-ingested from the "
        "beginning; SQLInput.reset_to moves a table's watermark to an "
        "explicit point)"
    )


class StateStore:
    """File-backed ``{table → last_record}`` map (reference StateStore,
    in_sql.rb:280-320)."""

    def __init__(self, path: str | None):
        self.path = path
        self.last_records: dict[str, dict[str, Any]] = {}
        if path and os.path.exists(path):
            with open(path) as f:
                text = f.read().strip()
            # empty state file is valid and means "no state" (in_sql.rb:291-295)
            if text:
                self.last_records = _parse_state(text, path)

    def last_record(self, table: str) -> dict[str, Any] | None:
        return self.last_records.get(table)

    def update(self, table: str, record: dict[str, Any] | None) -> None:
        """Advance ``table``'s checkpoint to ``record`` and persist.

        Called once per table per poll, AFTER the batch was emitted
        downstream (at-least-once: crash between emit and this call ⇒
        re-emission next poll; the strict ``>`` predicate in the scan
        makes checkpoint ties at-most-once, in_sql.rb:131-132).
        """
        if record is not None:
            self.last_records[table] = record
        self._persist()

    def _persist(self) -> None:
        if not self.path:
            return
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".state.", suffix=".tmp")
        try:
            encoded = {
                table: {k: _encode_value(v) for k, v in rec.items()}
                for table, rec in self.last_records.items()
            }
            with os.fdopen(fd, "w") as f:
                json.dump({"last_records": encoded}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)


class MemoryStateStore(StateStore):
    """No-file variant (reference MemoryStateStore, in_sql.rb:309-320)."""

    def __init__(self) -> None:
        super().__init__(None)
