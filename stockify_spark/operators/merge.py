"""Upsert / merge over plain Parquet (north-star: "Parquet/Delta
tables" — Delta's MERGE re-expressed as a DataFrame transformation,
since the Delta runtime isn't part of this container).

``merge_upsert`` is the logical MERGE: rows of ``base`` whose key
appears in ``updates`` are replaced, new keys are appended, and an
optional delete predicate drops rows. At table scale the physical
companion is partition-scoped rewrite: join the update keys to their
hive partitions and rewrite ONLY those partitions
(``upsert_partitioned`` below) — never the full 100 TB table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    delete_condition: Column | None = None,
) -> DataFrame:
    """MERGE semantics as one plan: anti-join base against update keys
    (matched rows drop out), union the updates back in, optionally
    delete. One shuffle of the key columns for the anti join; the
    update side is typically small enough to broadcast (Catalyst/AQE
    decides)."""
    if base.columns != updates.columns:
        raise ValueError(
            f"schema mismatch: base {base.columns} vs updates {updates.columns}"
        )
    keep = base.join(updates.select(*key_cols), key_cols, "left_anti")
    merged = keep.unionByName(updates)
    if delete_condition is not None:
        merged = merged.filter(~delete_condition)
    return merged


def upsert_partitioned(
    spark,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> list:
    """Partition-scoped upsert into a hive-partitioned parquet table:
    only the partitions containing updated keys are read, merged, and
    rewritten (dynamic partition overwrite). Returns the partition
    values that were rewritten.

    This is the 100 TB write path: cost scales with the touched
    partitions, not the table. Requires
    spark.sql.sources.partitionOverwriteMode=dynamic for the rewrite
    to leave untouched partitions alone.
    """
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not touched:
        return []
    base = spark.read.parquet(table_path).filter(F.col(partition_col).isin(touched))
    merged = merge_upsert(base, updates, key_cols)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(table_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return touched


def merge_scd2(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    effective_col: str = "effective_from",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Type-2 slowly-changing-dimension MERGE as one plan.

    ``dim`` is the current dimension snapshot carrying
    ``valid_from``/``valid_to`` (NULL valid_to = open row); ``updates``
    carries the business columns plus ``effective_col``. Per updated
    key: the open row is CLOSED (valid_to := effective date) and a new
    open row is appended; unmatched dim rows pass through; history
    rows (valid_to already set) are never touched. Output schema is
    the dim schema plus ``is_current``.

    Scale shape: one equi-join of dim against the (typically
    broadcast-sized) update-key set decides closed-vs-kept; the new
    rows are a map-side projection of updates — same single-shuffle
    budget as merge_upsert, and the partition-scoped physical
    companion (upsert_partitioned) applies unchanged when the
    dimension is hive-partitioned."""
    upd_keys = updates.select(*key_cols, F.col(effective_col).alias("_eff"))
    open_rows = dim.filter(F.col(valid_to_col).isNull())
    history = dim.filter(F.col(valid_to_col).isNotNull())

    closed = open_rows.join(upd_keys, key_cols, "inner").select(
        *[
            F.col("_eff").alias(valid_to_col) if c == valid_to_col else F.col(c)
            for c in dim.columns
        ]
    )
    kept_open = open_rows.join(upd_keys.select(*key_cols), key_cols, "left_anti")
    fresh = updates.select(
        *[
            F.col(effective_col).alias(valid_from_col)
            if c == valid_from_col
            else (F.lit(None).cast(dim.schema[valid_to_col].dataType).alias(valid_to_col)
                  if c == valid_to_col else F.col(c))
            for c in dim.columns
        ]
    )
    out = history.unionByName(closed).unionByName(kept_open).unionByName(fresh)
    return out.withColumn("is_current", F.col(valid_to_col).isNull())
