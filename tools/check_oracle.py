"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at
sf0.01 and compares BOTH ways the driver might:

1. python-value path: row count, column names, and an
   order-insensitive value multiset over ``fetchall()`` /
   ``collect()`` (floats rounded to 9 significant-ish decimals).
2. pandas path: ``con.execute(sql).df()`` vs ``sdf.toPandas()`` —
   per-column dtype-kind comparison plus an EXACT (no rounding)
   value multiset. This is the path the driver hashes through, and
   it is where DuckDB silently degrades HUGEINT (any SUM over
   integers) and DECIMAL outputs to float64: round 2 lost five
   driver rows on bit-identical answers because the old gate only
   looked at ``fetchall()``, which sees those types at full
   fidelity. An oracle is only green if it survives both paths.

    python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def row_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm_value(r[i]) for i in order) for r in rows)


def _dtype_kind(series):
    """Collapse a pandas dtype to the kind class the driver's hash is
    sensitive to: int/float/bool/datetime/object. For object columns
    the python type of the first non-null element matters too (a
    Decimal column and a str column are both 'O')."""
    kind = series.dtype.kind
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    nonnull = series.dropna()
    if len(nonnull) == 0:
        return "object:empty"
    return f"object:{type(nonnull.iloc[0]).__name__}"


def _norm_cell(v):
    """Exact (no-rounding) cell normalization for the pandas path —
    mirrors hashing str()-rendered values, so int64 2 vs float64 2.0
    differ, exactly as they do for the driver."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    try:
        if pd.isna(v):  # NaT, pd.NA
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def pandas_path_problems(spark_pdf, duck_pdf):
    """Compare the two frames the way the driver does: sort columns
    by name, require matching dtype kinds, then compare the exact
    value multiset. Returns a list of problem strings."""
    problems = []
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        return [f"pandas cols spark={scols} duckdb={dcols}"]
    spark_pdf, duck_pdf = spark_pdf.copy(), duck_pdf.copy()
    # The driver canonicalizes with pandas.sort_values over the RAW
    # columns, which factorizes object columns; a list/dict/ndarray
    # cell raises "unhashable type" there and kills the whole row.
    # Round 3 shipped fn_array_ops with raw array<string> outputs
    # because this gate string-normalized cells before comparing —
    # so replicate the driver and fail any non-scalar cell outright.
    _UNHASHABLE = {"list", "dict", "ndarray", "tuple", "set"}
    for side, pdf in (("spark", spark_pdf), ("duckdb", duck_pdf)):
        for c in scols:
            kind = _dtype_kind(pdf[c])
            if kind.startswith("object:") and kind.split(":", 1)[1] in _UNHASHABLE:
                problems.append(
                    f"driver-unhashable {side} column [{c}] ({kind}): "
                    "scalarize with array_join/to_json before projecting"
                )
    if problems:
        return problems
    for c in scols:
        sk, dk = _dtype_kind(spark_pdf[c]), _dtype_kind(duck_pdf[c])
        # DATE columns: Spark toPandas yields datetime.date objects,
        # DuckDB .df() yields datetime64 at midnight. The driver
        # demonstrably accepts this pairing (groupby_month green in
        # r01, groupby_mom_change in r02) while rejecting int/float
        # and Decimal/float — so normalize midnight timestamps to
        # dates instead of flagging.
        if {sk, dk} == {"object:date", "datetime"}:
            for pdf in (spark_pdf, duck_pdf):
                if pdf[c].dtype.kind == "M":
                    if not (pdf[c].dropna().dt.normalize() == pdf[c].dropna()).all():
                        problems.append(f"pandas dtype[{c}]: non-midnight times vs dates")
                        break
                    pdf[c] = pdf[c].dt.date
            continue
        # int-with-nulls degrades to float on BOTH sides, so a kind
        # mismatch here is a real cross-engine divergence.
        if sk != dk:
            problems.append(f"pandas dtype[{c}] spark={sk} duckdb={dk}")
    if problems:
        return problems
    sm = Counter(
        tuple(_norm_cell(v) for v in row) for row in spark_pdf[scols].itertuples(index=False)
    )
    dm = Counter(
        tuple(_norm_cell(v) for v in row) for row in duck_pdf[dcols].itertuples(index=False)
    )
    if sm != dm:
        diff = (sm - dm) + (dm - sm)
        problems.append(f"pandas values differ; sample diff {list(diff.items())[:3]}")
    return problems


def main(only: list[str]) -> int:
    from stockify_spark.registry import ORACLE, QUERIES
    from stockify_spark.session import get_spark

    spark = get_spark("oracle-check", cpus=8)
    con = duckdb.connect()
    # Optional DuckDB thread cap for SHARDED gate runs (r15): the
    # quadratic reference oracles take 30+ min each at sf0.1, and N
    # concurrent gates each defaulting to all-cores DuckDB thrash
    # the box into zero progress. Values verified thread-count-
    # independent for the float-boundary rows before adopting.
    th = os.environ.get("SPARK_GRAFT_ORACLE_THREADS")
    if th:
        con.execute(f"SET threads={int(th)}")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    names = only or sorted(QUERIES)
    failures = []
    for name in names:
        fn = QUERIES[name]
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in ORACLE:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.execute(ORACLE[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sm, dm = row_multiset(srows, scols), row_multiset(drows, dcols)
            if sm != dm:
                diff = (sm - dm) + (dm - sm)
                sample = list(diff.items())[:3]
                problems.append(f"values differ; sample diff {sample}")
        if not problems:
            try:
                duck_pdf = con.execute(ORACLE[name]).df()
                spark_pdf = sdf.toPandas()
            except Exception as e:  # noqa: BLE001
                problems.append(f"pandas path error: {e}")
            else:
                problems.extend(pandas_path_problems(spark_pdf, duck_pdf))
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    print(f"\n{len(names) - len(failures)}/{len(names)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
