"""Expected answers, computed apart from the engine under test.

* Registry queries: the query's DuckDB oracle SQL (``registry.ORACLE``)
  over the same parquet files, with DuckDB held to ``threads`` threads.
* ``dedup_clusters``: its oracle is a brute-force recursive CTE that
  runs for tens of minutes at sf0.1, so the answer comes from
  :func:`dedup_clusters_answer` instead: a shingle inverted index,
  exact Jaccard >= 0.5 on every pair that shares a shingle, then
  union-find labelling each component with its minimum ``doc_id``.

Answers are cached as parquet under ``<cache>/<fingerprint>/``, so they
are computed once per input-file version, never inside a timed span.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from datagen import TABLES

INDEPENDENT = {"dedup_clusters"}


def dedup_clusters_answer(sf_dir: str) -> pa.Table:
    """Connected components of the Jaccard >= 0.5 graph over word
    3-shingles, labelled by their minimum doc_id; only documents with at
    least one such pair appear (the oracle's semantics)."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    sets = []
    for text in docs.column("text").to_pylist():
        toks = re.split(r"\s+", text.lower().strip())
        sets.append({" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 3, 0) + 1)})
    postings: dict[str, list[int]] = {}
    for i, sh in enumerate(sets):
        for s in sh:
            postings.setdefault(s, []).append(i)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linked = set()
    for i, sh in enumerate(sets):
        shared: dict[int, int] = {}
        for s in sh:
            for j in postings[s]:
                if j > i:
                    shared[j] = shared.get(j, 0) + 1
        for j, inter in shared.items():
            if inter / (len(sh) + len(sets[j]) - inter) >= 0.5:
                linked.update((i, j))
                ri, rj = find(i), find(j)
                if ri != rj:
                    # keep the smaller doc_id as the root: the label
                    if ids[ri] < ids[rj]:
                        parent[rj] = ri
                    else:
                        parent[ri] = rj
    nodes = sorted(linked)
    return pa.table({
        "doc_id": pa.array([ids[i] for i in nodes], pa.int64()),
        "component": pa.array([ids[find(i)] for i in nodes], pa.int64()),
    })


def oracle_sql(name: str) -> str:
    from stockify_spark.registry import ORACLE

    return ORACLE[name]


def answers(sf_dir: str, names: list[str], cache_dir: str, threads: int) -> dict[str, pa.Table]:
    """Expected answer per query name, from the cache when present."""
    out: dict[str, pa.Table] = {}
    missing = []
    for n in names:
        p = os.path.join(cache_dir, f"{n}.parquet")
        if os.path.exists(p):
            out[n] = pq.read_table(p)
        else:
            missing.append(n)
    if not missing:
        return out
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    for n in missing:
        if n in INDEPENDENT:
            tb = dedup_clusters_answer(sf_dir)
        else:
            if con is None:
                import duckdb

                con = duckdb.connect()
                con.execute(f"SET threads TO {int(threads)}")
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                    )
            tb = con.execute(oracle_sql(n)).arrow()
            if isinstance(tb, pa.RecordBatchReader):
                tb = tb.read_all()
        tmp = os.path.join(cache_dir, f".{n}.{os.getpid()}.tmp")
        pq.write_table(tb, tmp)
        os.replace(tmp, os.path.join(cache_dir, f"{n}.parquet"))
        out[n] = tb
    if con is not None:
        con.close()
    return out
