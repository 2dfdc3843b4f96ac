import pytest

from fluent_plugin_sql_spark.config import (
    SinkRoute,
    SourceTable,
    SQLOutputConfig,
    fluentd_glob_to_regex,
    parse_column_mapping,
)
import re


def test_parse_column_mapping_rename_and_bare():
    # out_sql.rb:140-148 semantics
    assert parse_column_mapping("a:b, c ,d:e") == [("a", "b"), ("c", "c"), ("d", "e")]


@pytest.mark.parametrize(
    "pattern,tag,expect",
    [
        ("hello.*", "hello.world", True),
        ("hello.*", "hello.world.x", False),  # '*' is one part only
        ("hello.*", "hello", False),
        ("hello.**", "hello", True),  # '**' matches zero parts
        ("hello.**", "hello.a.b", True),
        ("a.**.b", "a.b", True),
        ("a.**.b", "a.x.y.b", True),
        ("a.**.b", "a.bc", False),
        ("{foo,bar}.x", "foo.x", True),
        ("{foo,bar}.x", "baz.x", False),
        ("plain", "plain", True),
        ("plain", "plainer", False),
    ],
)
def test_fluentd_glob(pattern, tag, expect):
    assert bool(re.match(fluentd_glob_to_regex(pattern), tag)) is expect


def test_exactly_one_default_route_required():
    # out_sql.rb:183-185
    with pytest.raises(ValueError):
        SQLOutputConfig(routes=[SinkRoute(table="t", pattern="x.*")])
    cfg = SQLOutputConfig(
        routes=[SinkRoute(table="t1", pattern="x.*"), SinkRoute(table="dflt")]
    )
    assert cfg.default_route.table == "dflt"
    assert [r.table for r in cfg.pattern_routes] == ["t1"]


def test_composite_pk_rejected():
    # in_sql.rb:107-114
    t = SourceTable(table="t", primary_key=["a", "b"])
    with pytest.raises(ValueError, match="composite"):
        t.resolve_update_column()
    assert SourceTable(table="t", primary_key=["a"]).resolve_update_column() == "a"
    assert SourceTable(table="t", primary_key="id").resolve_update_column() == "id"
    assert SourceTable(table="t", update_column="u", primary_key=["a", "b"]).resolve_update_column() == "u"


def test_jdbc_url_adapter_aliases_and_socket_rejection():
    from fluent_plugin_sql_spark.pipeline import jdbc_url

    assert (
        jdbc_url({"adapter": "postgres", "host": "h", "database": "d"})
        == "jdbc:postgresql://h:5432/d"
    )
    assert (
        jdbc_url({"adapter": "mysql2", "host": "h", "database": "d"})
        == "jdbc:mysql://h:3306/d"
    )
    # Rails' trilogy adapter speaks MySQL; MariaDB listens on 3306
    assert (
        jdbc_url({"adapter": "trilogy", "host": "h", "database": "d"})
        == "jdbc:mysql://h:3306/d"
    )
    assert (
        jdbc_url({"adapter": "mariadb", "host": "h", "database": "d"})
        == "jdbc:mariadb://h:3306/d"
    )
    assert jdbc_url({"url": "jdbc:derby:/tmp/x;create=true"}).startswith("jdbc:derby:")
    # reference `socket` param (in_sql.rb:41) has no JDBC equivalent
    with pytest.raises(ValueError, match="socket"):
        jdbc_url({"adapter": "mysql", "socket": "/var/run/mysqld.sock", "database": "d"})


def test_config_md_key_tables_name_the_known_keys():
    """CONFIG.md's key tables and the sets Pipeline checks keys against
    name the same ``source.*`` / ``sink.*`` keys, so neither can drift:
    a documented key the code does not read would draw an unknown-key
    warning, an undocumented one would be a hidden option."""
    from pathlib import Path

    from fluent_plugin_sql_spark import pipeline

    text = (Path(__file__).resolve().parents[1] / "CONFIG.md").read_text()
    named: dict[str, set[str]] = {}
    for line in text.splitlines():
        cells = line.split("|")
        if not line.startswith("|") or len(cells) < 4:
            continue
        # the Engine key column
        for key in re.findall(r"`((?:source|sink)\.[^`]+)`", cells[2]):
            block, _, name = key.rpartition(".")
            named.setdefault(block, set()).add(name)
            if block.endswith("[]"):  # source.tables[].x names source.tables too
                parent, _, child = block[:-2].partition(".")
                named.setdefault(parent, set()).add(child)
    assert named == {
        "source": set(pipeline.SOURCE_KEYS),
        "source.tables[]": set(pipeline.SOURCE_TABLE_KEYS),
        "sink": set(pipeline.SINK_KEYS),
        "sink.tables[]": set(pipeline.SINK_TABLE_KEYS),
    }
