"""Query registry: the SURVEY §2 inventory as named builders.

Every operator module registers its queries here with an optional
DuckDB oracle SQL string. ``__spark_entry__`` exposes the dicts to
the driver; tests iterate the same dicts (one source of truth).

Determinism rules enforced by convention (SURVEY §5.2):
- every query is a pure function of (spark, sf_dir);
- floating AGGREGATES are rounded (4-6 dp) in BOTH engine and oracle;
  per-row arithmetic is NOT rounded (bit-identical IEEE on both sides);
- ties at LIMIT/top-k boundaries broken by a unique key;
- no rand(), no nondeterministic dropDuplicates, seeded hashes only.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLES: dict[str, str] = {}

_LOADED = False


def register(name: str, oracle: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        fn.query_name = name
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so its registrations run."""
    global _LOADED
    if _LOADED:
        return
    # Imports are side-effecting (decorators fill QUERIES/ORACLES).
    from .operators import aggregates, analytics, graph, joins, lake, relational, setops, sorts, stats, tpch, windows  # noqa: F401
    from .functions import scalar  # noqa: F401
    from .sources import ingest, sinks  # noqa: F401
    from .streaming import batch_windows, streams  # noqa: F401
    from .llmops import dedup, multimodal, pipeline, similarity, text, udfs  # noqa: F401

    _LOADED = True


def clear_caches(spark: Any) -> None:
    """Release every block the builders materialized: persisted frames
    (clearCache) and checkpointed ones (the localCheckpoint blocks
    behind session.superstep_checkpoint, which clearCache misses).
    Callers running many queries in one session call this between
    them."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def queries() -> dict[str, Callable[[Any, str], Any]]:
    load_all()
    return dict(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
