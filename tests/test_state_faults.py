"""Fault paths of the poll checkpoint: a failed state write after emit,
and a corrupt state file at open."""

from __future__ import annotations

import os

import pytest

from fluent_plugin_sql_spark import state as state_mod
from fluent_plugin_sql_spark.config import SourceTable, SQLInputConfig
from fluent_plugin_sql_spark.sources.incremental import SQLInput
from fluent_plugin_sql_spark.state import StateStore


def test_checkpoint_write_fault_after_emit_replays_batch(spark, tmp_path, monkeypatch):
    """The state write fails once AFTER the batch was emitted: the poll
    reports -1, the file keeps the previous watermark, no temp file is
    left, and a fresh input re-emits that batch exactly once, then only
    new rows — no row is lost."""
    state_file = str(tmp_path / "state.json")
    rows = spark.createDataFrame([(i,) for i in range(120)], "id LONG")
    cfg = SQLInputConfig(
        tables=[SourceTable(table="t", update_column="id")],
        select_limit=50,
        state_file=state_file,
    )
    batches: list[list[int]] = []

    def new_input():
        return SQLInput(
            spark, cfg, {"t": lambda: rows},
            emit=lambda tag, df: batches.append(
                sorted(r["id"] for r in df.select("id").collect())
            ),
            state=StateStore(state_file),
        )

    inp = new_input()
    assert inp.run_once() == {"t": 50}
    assert StateStore(state_file).last_record("t") == {"id": 49}

    real_replace = os.replace
    calls = []

    def replace_fails_once(src, dst):
        calls.append(dst)
        if len(calls) == 1:
            raise OSError("disk full")
        return real_replace(src, dst)

    monkeypatch.setattr(state_mod.os, "replace", replace_fails_once)
    assert inp.run_once() == {"t": -1}
    assert batches[-1] == list(range(50, 100))  # emitted before the fault
    assert StateStore(state_file).last_record("t") == {"id": 49}
    assert not list(tmp_path.glob(".state.*.tmp"))

    resumed = new_input()
    assert resumed.run_once() == {"t": 50}
    assert batches[-1] == list(range(50, 100))  # the batch, once more
    assert resumed.run_once() == {"t": 20}
    assert batches[-1] == list(range(100, 120))  # then only new rows
    assert resumed.run_once() == {"t": 0}
    assert [b[0] for b in batches] == [0, 50, 50, 100]
    assert set().union(*batches) == set(range(120))


@pytest.mark.parametrize(
    "text",
    [
        '{"last_records": {"t": {"id": 4',  # torn write
        "not json at all",
        "[1, 2, 3]",  # valid JSON, wrong shape
        '{"last_records": [["t", 4]]}',
        '{"last_records": {"t": 4}}',
    ],
    ids=["truncated", "non_json", "list", "records_list", "record_not_object"],
)
def test_corrupt_state_file_fails_loudly_with_its_path(tmp_path, text):
    p = tmp_path / "state.json"
    p.write_text(text)
    with pytest.raises(ValueError) as exc:
        StateStore(str(p))
    msg = str(exc.value)
    assert str(p) in msg
    assert "reset_to" in msg and "delete" in msg
    assert p.read_text() == text  # never rewritten as "no state"
