"""Set operations (north-star extension, SURVEY §7.6.3; absent from
the reference, §2.6).

UNION ALL is shuffle-free (plan concatenation). DISTINCT variants
(intersect / except / union-distinct) shuffle on the full row hash —
at scale prefer deduplicating on a key column first, or semi/anti
joins on keys, which shuffle only the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all(a: DataFrame, b: DataFrame, by_name: bool = True) -> DataFrame:
    return a.unionByName(b) if by_name else a.union(b)


def intersect(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_duplicates else a.intersect(b)


def except_(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)
