"""Named-query registry backing the driver contract (__spark_entry__.py).

Each query is a ``(spark: SparkSession, sf_dir: str) -> DataFrame``
callable; most also carry an equivalent ANSI-SQL oracle string that DuckDB
runs on the same parquet tables. Registration happens at import time via
the ``@query`` decorator.

Conventions enforced here (driver compare is name-sorted + value-hashed):

* every computed column is aliased identically in Spark and SQL;
* float aggregates are rounded (ROUND_DIGITS) on BOTH sides so
  accumulation-order ULP drift can't flip the hash;
* timestamps are formatted to strings on BOTH sides (session TZ pinned to
  UTC) so tz-naive DuckDB values compare equal.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

ROUND_DIGITS = 4


def format_doc(fn: Callable, **params: object) -> None:
    """Substitute ``{NAME}`` placeholders in ``fn``'s docstring with the
    module constants the prose quotes, safely:

    * under ``python -OO`` docstrings are stripped to ``None`` — a bare
      ``fn.__doc__.format(...)`` would raise AttributeError at import
      and take down the whole plans package (round-7 ADVICE);
    * substitution is explicit per-placeholder (no ``str.format``), so a
      literal brace elsewhere in the docstring — a regex ``{m,n}``
      quantifier, a dict example — can never raise KeyError at import.
    """
    if not fn.__doc__:
        return
    doc = fn.__doc__
    for key, val in params.items():
        doc = doc.replace("{" + key + "}", str(val))
    fn.__doc__ = doc


def query(
    name: str, oracle: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and (optionally) its DuckDB oracle SQL.

    Queries without an oracle get the driver's weaker rows-only check —
    reserved for genuinely non-SQL-expressible ops (ML training, LSH
    bucketing with library hashes, streaming state). An oracle holds at
    every corpus size: a query has one plan, so an approximate variant
    is registered as its own query with its own oracle.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
