"""Query registry: the engine's public query surface.

Each operator/query from SURVEY.md §2.C registers here with an optional
DuckDB oracle SQL string. ``queries()`` / ``oracle_sql()`` feed the driver
contract in ``__spark_entry__.py``. Queries without an oracle (``None``)
get the driver's weaker rows-only check (non-SQL-expressible ops).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_OPERATOR_MODULES = (
    "operators.triple",
    "operators.joins",
    "operators.aggregates",
    "operators.windows",
    "operators.setops",
    "operators.scalars",
    "operators.eventtime",
    "operators.dedup",
    "operators.text",
    "operators.vector",
    "operators.graph",
    "operators.multimodal",
    "operators.bgp_queries",
    "operators.relational_ext",
    "operators.relational_ext2",
    "operators.relational_ext3",
    "operators.graph_ext",
    "operators.relational_ext4",
    "operators.subqueries",
    "operators.relational_ext5",
    "operators.vector_ext",
    "operators.tpch_ext",
    "operators.relational_ext6",
    "operators.dedup_ext",
    "operators.graph_ext2",
    "operators.layout",
    "operators.bgp_ext",
    "operators.bucketed",
    "operators.relational_ext7",
    "operators.relational_ext8",
    "operators.relational_ext9",
    "operators.vector_ext2",
    "operators.pipeline",
    "operators.tpch_ext2",
    "operators.relational_ext10",
    "operators.relational_ext11",
    "operators.bgp_ext2",
    "operators.graph_ext3",
    "operators.vector_ext3",
    "operators.tpch_ext3",
    "operators.tpch_ext4",
    "operators.relational_ext12",
    "operators.relational_ext13",
    "operators.relational_ext14",
    "operators.relational_ext15",
    "operators.relational_ext16",
    "operators.relational_ext17",
    "operators.relational_ext18",
    "operators.relational_ext19",
    "operators.relational_ext20",
    "operators.relational_ext21",
    "operators.relational_ext22",
    "operators.relational_ext23",
    "operators.relational_ext24",
    "operators.relational_ext25",
    "operators.relational_ext26",
    "operators.relational_ext27",
    "operators.relational_ext28",
    "operators.relational_ext29",
    "operators.relational_ext30",
    "operators.relational_ext31",
    "operators.graph_ext4",
    "operators.vector_ext4",
    "operators.dedup_pipeline",
    "operators.register_ext",
    "operators.quality_ext",
    "operators.graph_ext5",
    "operators.vector_ext5",
    "operators.dedup_pipeline2",
    "operators.dedup_prefix",
    "operators.text_ext",
    "operators.vector_ext6",
    "operators.relational_ext32",
    "operators.relational_ext33",
    "operators.relational_ext34",
    "operators.relational_ext35",
    "operators.graph_ext6",
    "operators.relational_ext36",
    "operators.relational_ext37",
    "operators.relational_ext38",
    "operators.relational_ext39",
    "operators.relational_ext40",
    "operators.relational_ext41",
    "operators.relational_ext42",
    "operators.relational_ext43",
    "operators.relational_ext44",
    "operators.relational_ext45",
    "operators.relational_ext46",
    "operators.relational_ext47",
    "operators.relational_ext48",
    "operators.relational_ext49",
    "operators.relational_ext50",
    "operators.relational_ext51",
    "operators.relational_ext52",
    "operators.relational_ext53",
    "operators.relational_ext54",
    "operators.vector_ext7",
    "operators.vector_ext8",
    "operators.graph_ext8",
    "operators.graph_ext7",
    "operators.graph_ext9",
    "operators.relational_ext55",
    "operators.vector_ext9",
    "operators.relational_ext56",
    "operators.relational_ext57",
    "operators.multimodal_ext",
    "operators.sparql_queries",
    "operators.sparql_ext9",
    "operators.sparql_ext10",
    "operators.sparql_ext11",
    "operators.sparql_ext12",
    "operators.source_jdbc",
    "operators.text_ext9",
    "operators.text_ext10",
    "streaming.queries",
    "streaming.transform_state",
    "streaming.dedup_stream",
    "streaming.bgp_stream",
    "streaming.quota_stream",
    "streaming.quality_stream",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for rows-only checks
    # Deliberate exact-complexity baseline (e.g. the O(n^2/block) GEMM
    # twins the ANN recall tests certify against): kept registered and
    # correctness-checked, but NOT a production scale path — timing
    # artifacts tag these so scaling curves can be read with and
    # without them (VERDICT r10 #4).
    ground_truth_twin: bool = False


_REGISTRY: dict[str, QuerySpec] = {}
_SKIPPED: dict[str, str] = {}
_LOADED = False


def register(
    name: str,
    oracle: str | None = None,
    ground_truth_twin: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            ground_truth_twin=ground_truth_twin,
        )
        return fn

    return deco


def register_skip(name: str, reason: str) -> None:
    """Record a query this runtime cannot register (missing optional
    dependency / API). The full-surface correctness artifact then shows
    an explicit `skipped` entry with the probe reason instead of the
    query silently vanishing from the surface."""
    _SKIPPED[name] = reason


def skipped_queries() -> dict[str, str]:
    """name -> skip reason for queries probed-out of this runtime."""
    _load_operators()
    return dict(_SKIPPED)


def _load_operators() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"{__package__}.{mod}")
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load_operators()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
