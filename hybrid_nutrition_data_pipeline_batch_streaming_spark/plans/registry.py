"""Query registry: name → Spark callable (+ optional DuckDB oracle SQL).

Every operator claimed in SURVEY.md §2 registers here. The driver runs the
Spark callable and the oracle SQL side-by-side and compares row count, schema
and an order-insensitive value hash — so registered pairs must agree on
column NAMES and exact VALUES.

Float-exactness discipline (used throughout the query modules): aggregate
sums over doubles are order-dependent in IEEE arithmetic, so any SUM/AVG that
feeds the oracle hash is computed in exact DECIMAL (associative, order-free)
and cast to double once at the end — identical bits in Spark and DuckDB
regardless of partitioning. See ``functions.parity``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import query_scope

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB-equivalent ANSI SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator (streaming,
    external-I/O, iterative) — the driver then applies its weaker rows-only
    check.

    Each registered callable builds inside ``session.query_scope``. A
    top-level invocation first releases the ``QueryScope`` of its session's
    previous top-level query — plan functions persist intermediates their
    callers materialize later (ADVICE r7), so the release point is the start
    of the next query, by which time the prior result has been consumed —
    then opens a fresh scope that owns the frames, cuts and memory-sink
    views this query makes. A registered query invoked inside another one's
    build joins the outer scope.

    CONTRACT: materialize each query's result before building the next
    top-level query on the same session — its lineage cuts are freed then
    and cannot be recomputed.
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
            with query_scope(spark):
                return fn(spark, sf_dir, *args, **kwargs)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return wrapped

    return deco
