"""Check that a change to the query registry kept the driver contract.

    python tools/registry_gate.py PARENT_DIR SF_DIR [SF_DIR ...]

PARENT_DIR is a checkout of the commit to compare against (made with
``git archive`` or ``git clone``); each SF_DIR holds the parquet tables
of one scale factor. The gate compares, between PARENT_DIR and this
checkout:

* ``sorted(QUERIES)``, ``list(__spark_entry__.queries())`` and
  ``list(__spark_entry__.oracle_sql())``, which must be identical;
* every ORACLE text. An unchanged text passes. A changed text runs on
  DuckDB in both versions at every SF_DIR, and must return the same
  column names and the same exact row multiset.

It prints one line per changed oracle and SF_DIR, and exits 1 on any
difference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
DUMP = """
import json, sys
sys.path.insert(0, ".")
import __spark_entry__ as e
from stockify_spark.registry import QUERIES, ORACLE
print(json.dumps({"sorted": sorted(QUERIES), "queries": list(e.queries()),
                  "oracle_sql": list(e.oracle_sql()), "oracle": ORACLE}))
"""


def contract(checkout: str) -> dict:
    out = subprocess.run([sys.executable, "-c", DUMP], cwd=checkout, check=True,
                         capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def rows(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, Counter(tuple(map(repr, r)) for r in cur.fetchall())


def main(parent: str, sf_dirs: list[str]) -> int:
    old, new = contract(parent), contract(ROOT)
    bad = 0
    for key in ("sorted", "queries", "oracle_sql"):
        same = old[key] == new[key]
        bad += not same
        print(f"{'ok' if same else 'DIFFER'} {key}: {len(old[key])} -> {len(new[key])} names")
    changed = [n for n in old["oracle"] if old["oracle"][n] != new["oracle"].get(n)]
    print(f"{len(changed)} oracle texts changed")
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in changed:
            a, b = rows(con, old["oracle"][name]), rows(con, new["oracle"].get(name, "SELECT 1"))
            same = a == b
            bad += not same
            print(f"{'same rows' if same else 'DIFFER'} {name} @ {os.path.basename(sf_dir)}: "
                  f"{sum(a[1].values())} -> {sum(b[1].values())} rows")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2:]))
