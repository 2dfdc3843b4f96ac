"""Typed configuration for sources, sinks and routing.

Mirrors the reference's config surface (not its code):
- ``<table>`` sections of in_sql (reference: lib/fluent/plugin/in_sql.rb:54-77)
  → :class:`SourceTable` / :class:`SQLInputConfig`.
- ``<table pattern>`` sections of out_sql (reference:
  lib/fluent/plugin/out_sql.rb:40-89, 166-185) → :class:`SinkRoute` /
  :class:`SQLOutputConfig`, including the "exactly one default route"
  validation (out_sql.rb:183-185) and composite-PK rejection
  (in_sql.rb:107-114).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


def parse_column_mapping(mapping: str) -> list[tuple[str, str]]:
    """Parse ``'from:to,from2:to2,key'`` into ordered (src, dst) pairs.

    Semantics match the reference parser (out_sql.rb:140-148): entries are
    comma-separated; ``src:dst`` renames, a bare ``key`` maps to itself;
    unmapped input fields are DROPPED by the projection that consumes this.
    """
    pairs: list[tuple[str, str]] = []
    for entry in mapping.split(","):
        entry = entry.strip()
        if not entry:
            continue
        if ":" in entry:
            src, dst = entry.split(":", 1)
            pairs.append((src.strip(), dst.strip()))
        else:
            pairs.append((entry, entry))
    return pairs


def fluentd_glob_to_regex(pattern: str) -> str:
    """Translate a Fluentd tag match pattern into an anchored regex.

    Fluentd match syntax (reference README.md:132-146; semantics of
    Fluent::MatchPattern used at out_sql.rb:56):
    - ``*``  matches exactly one tag part (no dots),
    - ``**`` matches zero or more tag parts (including dots),
    - ``{a,b}`` alternation,
    - everything else is literal; ``.`` separates parts.
    """
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            if pattern[i : i + 2] == "**":
                # '**' matches zero or more tag parts; it absorbs the
                # adjacent dot so 'a.**' also matches bare 'a', and
                # 'a.**.b' matches 'a.b' (fluentd MatchPattern semantics).
                if out and out[-1] == r"\.":
                    out.pop()
                    if i + 2 < len(pattern) and pattern[i + 2] == ".":
                        out.append(r"\.(.*\.)?")
                        i += 3
                    else:
                        out.append(r"(\..*)?")
                        i += 2
                else:
                    out.append(".*")
                    i += 2
                continue
            out.append(r"[^.]*")
            i += 1
        elif ch == "{":
            j = pattern.index("}", i)
            alts = pattern[i + 1 : j].split(",")
            out.append("(" + "|".join(re.escape(a) for a in alts) + ")")
            i = j + 1
        else:
            out.append(re.escape(ch))
            i += 1
    return "^" + "".join(out) + "$"


def strip_tag_prefix_regex(prefix: str) -> str:
    """Anchored regex that strips ``prefix.`` from a tag (out_sql.rb:253-259)."""
    return "^" + re.escape(prefix) + r"\.?"


@dataclass
class SourceTable:
    """One polled source table (reference in_sql.rb:54-77)."""

    table: str
    tag: str | None = None  # defaults to table name (in_sql.rb:222-227)
    update_column: str | None = None  # defaults to primary key (in_sql.rb:107-114)
    # engine extension: unique column for lexicographic (upd, tie) progress
    # when update_column has duplicates (see sources.incremental)
    tiebreak_column: str | None = None
    time_column: str | None = None
    # engine extension: explicit PARSE pattern for non-standard time
    # columns (Spark datetime pattern).  The reference's Time.parse and
    # Spark's try_cast both accept standard ISO/zone forms without this;
    # set it only for layouts like 'dd/MM/yyyy HH:mm:ss'.  Rows the
    # pattern rejects still fall back leniently (T3).
    time_parse_format: str | None = None
    primary_key: str | list[str] | None = None

    def resolved_tag(self) -> str:
        return self.tag or self.table

    def resolve_update_column(self) -> str:
        """Default update_column := primary key; composite PK is an error
        unless update_column was given explicitly (in_sql.rb:107-114)."""
        if self.update_column:
            return self.update_column
        pk = self.primary_key
        if pk is None:
            raise ValueError(
                f"table {self.table}: no update_column and no primary key"
            )
        if isinstance(pk, list):
            if len(pk) != 1:
                raise ValueError(
                    f"table {self.table}: composite primary key detected "
                    "(set update_column explicitly)"
                )
            return pk[0]
        return pk


@dataclass
class SQLInputConfig:
    """Input-plugin level config (reference in_sql.rb:28-52)."""

    tables: list[SourceTable] = field(default_factory=list)
    tag_prefix: str | None = None
    select_interval: float = 60.0  # seconds (in_sql.rb:49-50)
    select_limit: int = 500  # rows per poll per table (in_sql.rb:51-52)
    state_file: str | None = None
    all_tables: bool = False

    def tag_for(self, t: SourceTable) -> str:
        base = t.resolved_tag()
        return f"{self.tag_prefix}.{base}" if self.tag_prefix else base


@dataclass
class SinkRoute:
    """One ``<table pattern>`` sink route (out_sql.rb:44-89).

    ``pattern is None`` marks the default route (the pattern-less
    ``<table>`` section, out_sql.rb:168-176).
    """

    table: str
    pattern: str | None = None
    column_mapping: str | None = None

    def mapping_pairs(self) -> list[tuple[str, str]] | None:
        return parse_column_mapping(self.column_mapping) if self.column_mapping else None

    def pattern_regex(self) -> str | None:
        return fluentd_glob_to_regex(self.pattern) if self.pattern else None


@dataclass
class SQLOutputConfig:
    """Output-plugin level config (out_sql.rb:20-39, 166-185)."""

    routes: list[SinkRoute] = field(default_factory=list)
    remove_tag_prefix: str | None = None
    num_retries: int = 5  # out_sql.rb:49
    pool: int = 5  # out_sql.rb:32-33
    enable_fallback: bool = True  # out_sql.rb:30-31

    def __post_init__(self) -> None:
        defaults = [r for r in self.routes if r.pattern is None]
        if len(defaults) != 1:
            raise ValueError(
                "There must be exactly one default <table> route "
                f"(got {len(defaults)}); see out_sql.rb:183-185"
            )

    @property
    def default_route(self) -> SinkRoute:
        return next(r for r in self.routes if r.pattern is None)

    @property
    def pattern_routes(self) -> list[SinkRoute]:
        """Pattern routes in declared order — first match wins (out_sql.rb:229-235)."""
        return [r for r in self.routes if r.pattern is not None]
