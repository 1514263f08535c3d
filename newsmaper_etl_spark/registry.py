"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2) registers a named query
here: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle SQL string.
The driver runs both sides at sf0.01 and hash-compares (row count + schema
+ order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- floats are stabilized with ROUND(); timestamps are emitted as formatted
  strings (Spark session tz is UTC, DuckDB parquet timestamps are naive
  UTC, so wall-clock text matches);
- anything ranked/limited carries a total order (deterministic tie-breaks).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: statistical surfaces (sketch/hash-order-dependent output with no
    #: portable oracle) live in a SIDE registry: still benchmarked and
    #: property-tested, but excluded from the driver contract so every
    #: driver-visible query carries a full hash oracle (VERDICT r11 #3).
    #: Each statistical query is paired with at least one deterministic
    #: planted/selfpair twin that IS driver-visible and hash-checked.
    statistical: bool = False


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    statistical: bool = False,
):
    """Decorator registering a declared correctness query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        if statistical and oracle is not None:
            raise ValueError(
                f"{name}: statistical queries are by definition "
                "un-oracle-able; drop one flag"
            )
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags,
            statistical=statistical,
        )
        return fn

    return deco


def driver_specs() -> dict[str, QuerySpec]:
    """The driver-visible registry: every entry carries a DuckDB oracle
    (statistical side-registry queries are exercised by bench.py and the
    pytest property suites instead — see QuerySpec.statistical)."""
    _ensure_loaded()
    return {n: s for n, s in QUERIES.items() if not s.statistical}


def all_queries() -> dict[str, QueryFn]:
    """Every driver-visible query, in registration order."""
    return {name: spec.fn for name, spec in driver_specs().items()}


def all_oracles() -> dict[str, str]:
    """Every driver-visible oracle, in registration order."""
    return {
        name: spec.oracle
        for name, spec in driver_specs().items()
        if spec.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import newsmaper_etl_spark.plans  # noqa: F401  (registers on import)

    _LOADED = True
