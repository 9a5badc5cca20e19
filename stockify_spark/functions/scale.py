"""Scale helpers: scan parallelism for map-heavy operators, and the
one materialization primitive.

Materialization policy. Every site that materializes a shared subtree
or iterative state calls :func:`materialize`; no other module decides
how an intermediate result is stored. The policy is LOCAL:
``localCheckpoint`` keeps the blocks on the executors that computed
them, unreplicated, and truncates the lineage, so an executor lost
mid-query fails the query (there is no recompute path) and the query
is rerun. That is the right trade for local and bench runs and for
idempotent batch jobs, where a rerun is the retry. The blocks are
RDD-level, so the ContextCleaner reclaims them once the plan is
garbage-collected, and a later call on the same plan computes afresh
instead of reusing a pinned cache entry.

Scan parallelism. A small or single-file parquet scan (single row
group — byte-range splitting cannot parallelize it) arrives in fewer
partitions than the session has slots, which serializes any expensive
map pass that runs BEFORE the operator's first shuffle. These
operators call :func:`spread_small_scan` at their input boundary: a
conditional round-robin repartition that is a NO-OP whenever the input
already has at least slot-count partitions — i.e., always at warehouse
scale, where inputs arrive in thousands of splits and adding a
corpus-sized shuffle would be a defect. The condition, not the
repartition, is the design: pay one small-table shuffle to engage all
cores at bench scale, add zero exchanges at 100 TB.

Measured boundary (r11, sf0.1): this pays ONLY where the serial map
pass dwarfs the repartition — the substring-dedup family's
interpreted per-position slice+hash (4.5s -> 1.7s). For cheap
whole-stage-codegen token explodes (perplexity, DSIR, ngram LM, BPE
word counts) the added shuffle plus lost scan fusion made queries
10-30% SLOWER, so those call sites deliberately do NOT spread.
Measure before adding a call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` for several consumers or to cut a deep
    lineage: ``df.localCheckpoint(eager=eager)``, under the policy in
    the module docstring. With ``eager`` the frame is computed before
    this returns. Under AQE, ``eager=False`` still runs the map stages
    of any exchange in the frame before this returns."""
    return df.localCheckpoint(eager=eager)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism ONLY
    when it currently has fewer partitions than that (see module
    docstring). Safe anywhere a row-wise map pass follows."""
    try:
        # sparkContext/.rdd are unsupported on Spark Connect sessions
        # — degrade to a no-op there rather than crash the operator
        sc = df.sparkSession.sparkContext
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def spread_cpu_dense(df: DataFrame) -> DataFrame:
    """Unconditional round-robin repartition of a SLIM frame whose
    DOWNSTREAM work is CPU-dense (e.g. the dedup candidate id-pair
    frames: a few bytes per row in, an ``array_intersect`` over two
    shingle arrays per row out).

    Why AQE cannot do this: coalescing decides partition counts from
    shuffle BYTES (``advisoryPartitionSizeInBytes`` /
    ``minPartitionSize``), and for these frames bytes are maximally
    misleading — our own shuffle-slimming makes the exchange ~16
    bytes/row while the per-row verify costs ~30 µs, so AQE packs the
    whole stage into one or two partitions and the verify serializes
    on one core (r14 measured dedup_ngram_jaccard 18.1 s → 3.3 s once
    the stage was spread). The r14 session-wide fix
    (``minPartitionSize=64k``) repaired this family but taxed every
    sub-second query 5–10 % (more, smaller post-shuffle tasks
    everywhere); this helper is the scoped replacement the r14
    verdict asked for — the floor goes back to its 1m default and
    ONLY the verify boundaries pay the explicit exchange.

    Scale behavior: the repartitioned frame is ids-only, so the added
    exchange is linear in candidate count and orders of magnitude
    cheaper than the verify it parallelizes; at any scale the
    byte-vs-CPU mismatch above persists (candidate bytes stay ~16/row
    while verify cost stays per-pair), so the explicit spread is the
    scale-correct shape, not a local[32] tuning. Unlike
    :func:`spread_small_scan` this must NOT inspect
    ``df.rdd.getNumPartitions()``: on a post-shuffle AQE frame that
    would force execution of the upstream stages as a side job.
    """
    try:
        sc = df.sparkSession.sparkContext
    except Exception:
        return df
    return df.repartition(sc.defaultParallelism)
