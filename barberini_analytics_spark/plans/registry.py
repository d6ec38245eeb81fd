"""Registry wiring SURVEY §2 operators to runnable, oracle-checked queries.

Every implemented operator registers a query ``(spark, sf_dir) -> DataFrame``
and (when SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.
The driver compares both at sf0.01 (row count + schema + value hash), so:

- every computed column is aliased identically on both sides,
- floating-point aggregates are rounded on both sides (double summation
  order differs between engines; rounding makes the hash stable),
- counts/sums of integers are cast to BIGINT on both sides (DuckDB sums
  integers into HUGEINT, Spark into LONG).

Eager-construction contract (ADVICE r13): building a registered query's
DataFrame MAY run Spark jobs before any action — the statistics layer's
``measured_hint`` measures a join side once per corpus version (zero jobs
on a catalog hit), and driver-folded models (``ngram_lm_score``'s C₃
collect, the gated ML fits) collect bounded frames at plan-construction
time.  ``ngram_lm_score`` memoizes its model per input version in the
process, so a re-construction over unchanged files collects nothing.
Callers that only want to INSPECT a plan (explain, tests) should
expect those jobs; the bench/driver time construction + execution
together, so the contract costs nothing it wouldn't pay anyway.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..core.cache import release_scoped

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and its DuckDB oracle SQL, if expressible).

    The registered (top-level) entry releases the previous query's scoped
    persists on entry — queries run sequentially in the driver/bench, so by
    then the prior result is fully consumed and its staging frames are
    dead.  The module-level function stays unwrapped, so queries composing
    other queries internally don't trigger a mid-plan release.
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scoped()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
