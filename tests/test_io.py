"""load_table's schema and lazy-plan caches stay bounded when one file
is rewritten many times within a session."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from fluent_plugin_sql_spark import io as fio


def test_rewritten_file_keeps_one_entry_per_cache(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    for n in range(1, 6):
        # n rows: the size changes, so every rewrite is a new stat key
        pq.write_table(pa.table({"id": list(range(n))}), path)
        assert fio.load_table(spark, str(tmp_path), "t").count() == n
        fio.load_table(spark, str(tmp_path), "t", keep_ns=True)
    assert len([k for k in fio._schema_cache if k[0] == path]) == 1
    plans = [k for k in fio._table_cache if k[2] == path]
    # one per keep_ns flavour, both for the latest version of the file
    assert len(plans) == 2
    st = (path, *fio._stat_key(path)[1:])
    assert {k[2:] for k in plans} == {st}
