"""Query registry: the driver contract surface.

Each entry pairs a Spark implementation (built from the operator
library) with an ANSI-SQL oracle that DuckDB runs on the same parquet
tables. The driver compares row-count + schema + order-insensitive
value hash at sf=0.01 (SURVEY §5.2 — the reference's differential
GPU-vs-CPU testing, done properly).

Conventions that make the differential comparison deterministic:
  * every computed column is aliased identically on both sides;
  * aggregates over many doubles are ROUND()ed on both sides (double
    addition is non-associative; Spark and DuckDB sum in different
    orders — SURVEY §2.3 float caveat);
  * rankings always carry a unique tiebreaker column;
  * per-row arithmetic (same IEEE ops, same order) is left exact.

The queries live in ``stockify_spark/queries/``, one module per
domain; each registers its queries with :func:`register` on import.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stockify_spark.sources.io import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    """Decorator: add a query (and optionally its DuckDB oracle).

    Duplicate names are an error: a re-registration would silently
    SHADOW the earlier query (the dict keeps one entry), dropping an
    operator from the driver contract with no local signal — caught
    live in round 7 when a new pivot query reused an existing name.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"query name {name!r} is already registered "
                f"(by {QUERIES[name].__module__}); pick a distinct name"
            )
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Every module of the ``queries`` package registers its domain's
# queries on import. pkgutil lists them sorted by name; the driver
# order is __spark_entry__._PRIORITY, not this import order.
from stockify_spark import queries  # noqa: E402

for _mod in pkgutil.iter_modules(queries.__path__):
    importlib.import_module(f"{queries.__name__}.{_mod.name}")
