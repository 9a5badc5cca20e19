"""Registry-wide smoke: every driver-contract query must execute and
return a stable schema at the smallest scale factor. The DuckDB
differential gate (tools/check_oracle.py) checks VALUES at sf0.01;
this net catches a query that stops even running (schema drift,
missing column, bad import) inside the pytest loop."""

from __future__ import annotations

from stockify_spark.registry import ORACLE, QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_every_query_executes_with_stable_schema(spark):
    failures = []
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            n = df.count()
            assert isinstance(n, int) and n >= 0
            assert cols == fn(spark, SF_DIR).columns  # schema is deterministic
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


def test_contract_shape():
    """Every oracle belongs to a registered query; names are unique
    (the dict guarantees it) and shell-safe."""
    assert set(ORACLE) <= set(QUERIES)
    for name in QUERIES:
        assert name.replace("_", "").isalnum(), name
    # the driver treats oracle-less queries as rows-only; keep that
    # set intentional and small relative to the whole surface
    rows_only = set(QUERIES) - set(ORACLE)
    assert len(rows_only) <= len(QUERIES) // 4, sorted(rows_only)


def test_driver_module_exposes_contract():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 100
    assert callable(next(iter(q.values())))


def test_priority_lists_every_query_once():
    """__spark_entry__._PRIORITY fixes the driver order of queries()
    and oracle_sql(), so that order cannot depend on the order in
    which pkgutil imports the query modules."""
    import __spark_entry__ as e

    assert len(e._PRIORITY) == len(set(e._PRIORITY))
    assert sorted(e._PRIORITY) == sorted(QUERIES)
    assert list(e.queries()) == e._PRIORITY
    assert list(e.oracle_sql()) == [n for n in e._PRIORITY if n in ORACLE]
