"""Query registry: every operator from SURVEY.md §2 (plus the scale
extensions) as a named (Spark callable, DuckDB oracle SQL) pair.

The Spark side is idiomatic DataFrame code (what this engine IS); the
oracle side is ANSI SQL the driver runs on DuckDB over the same parquet
tables. Column names and numeric determinism rules (see
``functions/numeric.py``) must agree exactly — the harness hash-compares
values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None => non-SQL-expressible, rows-only check
    headline: bool = False  # included in bench.py
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, headline: bool = False,
          doc: str = ""):
    def deco(fn):
        if name in REGISTRY:
            # a silent overwrite would drop a query from the driver's
            # correctness matrix with no failing signal
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, headline, doc)
        return fn
    return deco


# Matrix ordering: the driver records ~50 CORRECTNESS rows per round
# in registration order over a 90+ query registry, so queries that
# still NEED a fresh driver verdict must come first. The order is
# GENERATED (never-green, then changed-since-last-green by content
# hash, then stalest-green-first) by ``tools/matrix_rotation.py`` into
# ``_matrix_first.py``; ``tests/test_matrix_rotation.py`` fails when a
# code change leaves that file stale — hand-curating this list twice
# left changed queries riding stale green rows (r3, r4).


def load_registry() -> dict[str, QuerySpec]:
    # Import side-effect modules once, on demand.
    from distributed_computing_projects_spark.queries import (  # noqa: F401
        reference,
        streaming_queries,
        relational,
        ext_dedup,
        ext_ann,
        ext_bpe,
        ext_lm,
        ext_graph,
        ext_text,
        ext_multimodal,
        ext_pipeline,
    )
    try:
        from distributed_computing_projects_spark.queries._matrix_first import (
            MATRIX_ORDER,
        )
    except ImportError:  # pre-generation bootstrap: registration order
        MATRIX_ORDER = []
    first = {n: REGISTRY[n] for n in MATRIX_ORDER if n in REGISTRY}
    rest = {n: s for n, s in REGISTRY.items() if n not in first}
    return {**first, **rest}
