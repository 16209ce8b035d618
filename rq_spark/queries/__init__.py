"""Query catalog: every operator from SURVEY.md §2.2, as
(spark, sf_dir) -> DataFrame callables plus a DuckDB oracle SQL string.

Each pack module exposes ``QUERIES: dict[str, callable]`` and
``ORACLE: dict[str, str]``; this module merges them. Keys without an
ORACLE entry get the driver's weaker rows-only check (reserved for
genuinely non-SQL-expressible operators, e.g. approximate ANN).

The catalog is kept ≤50 keys (the driver's per-round correctness-row
budget) by merging related operators into tagged multi-op queries —
SURVEY.md §2.2 "Catalog key consolidation (r5)" maps consolidated keys
to their former standalone branches; tests/test_merged.py asserts the
budget and per-branch falsifiability.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Order = the order a correctness run executes keys in. The dedup
# pack carries the only multi-second queries in the catalog, so it
# registers LAST: a budget-limited correctness run records every other
# pack first.
from . import (
    core,
    joins,
    windows,
    funcs,
    events,
    text,
    similarity,
    nested,
    udfs,
    dedup,
)

_PACKS = [core, joins, windows, funcs, events, text, similarity, nested,
          udfs, dedup]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Merged catalog, in plain pack/catalog order. The library must not
    influence which queries an external verification harness samples, so
    ordering is a pure function of the source (no environment or artifact
    introspection)."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for pack in _PACKS:
        dup = set(out) & set(pack.QUERIES)
        if dup:
            raise ValueError(f"duplicate query keys: {dup}")
        out.update(pack.QUERIES)
    return out


def all_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for pack in _PACKS:
        out.update(pack.ORACLE)
    return out
