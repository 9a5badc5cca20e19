"""stockify_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
engine (AaditT/stockify, a single-file CUDA query engine at
/root/reference/stockify.cu) as an idiomatic PySpark library, plus
the large-scale data-pipeline operators (dedup, similarity search,
text analysis, streaming) a 100 TB training-data pipeline needs.

Design rules (see SURVEY.md §7.0):
  * every operator takes and returns DataFrames — no ``collect()``
    inside operators, so everything composes at cluster scale;
  * declarative plans — Catalyst does pushdown/pruning/join choice;
  * built-in ``pyspark.sql.functions`` in the hot path; Pandas UDFs
    (Arrow-batched) only where built-ins can't express the op;
  * windows always accept ``partition_by`` — global-order windows
    are the documented scale hazard, used only at test scale.
"""

from stockify_spark.session import get_spark
from stockify_spark.sources.io import (
    load_table,
    load_tables,
    register_views,
    read_stocks_csv,
    write_bucketed,
    write_date_partitioned,
    write_sorted_layout,
    write_zorder_layout,
)

__all__ = [
    "get_spark",
    "load_table",
    "load_tables",
    "register_views",
    "read_stocks_csv",
    "write_bucketed",
    "write_date_partitioned",
    "write_sorted_layout",
    "write_zorder_layout",
]
__version__ = "0.1.0"
