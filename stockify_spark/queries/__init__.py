"""The registered queries, one module per domain.

Each module registers its queries into ``stockify_spark.registry`` on
import. The package imports the registry before any of its modules,
and the registry imports every module in turn, so a module that
imports another domain's helpers never finds that module half-imported,
whichever module a caller imports first.
"""

from stockify_spark import registry  # noqa: F401
