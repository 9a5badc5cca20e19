"""Deduplication operators for training-data pipelines (north-star
extension — the reference's only dedup is an accidental index quirk,
std::map last-write-wins on volume, stockify.cu:713, which SURVEY
§4.3 explicitly excludes from the engine).

Scale design:
  * exact dedup — hash-groupBy on a fingerprint: one shuffle keyed on
    a 32-char digest, partial aggregation map-side.
  * MinHash+LSH — signatures are seeded linear permutations of a
    60-bit md5-prefix shingle hash, min-aggregated map-side (no
    Python, and nameable in ANSI SQL, so the oracle reproduces them);
    candidate generation is an equi-join on (band, band_key), so cost
    tracks the number of *colliding* pairs, not n². The streaming
    ingest sinks keep their own xxhash64 family
    (:func:`_signatures_from_base`).
  * SimHash — 60-bit signature per doc from the same md5-prefix token
    hash: per-bit one-counts packed four to a long, one map-side
    partial aggregate, then a banded equi-join on 15-bit chunks + exact
    hamming verify with built-in ``bit_count``.
  * n-gram Jaccard — candidates from a shared-shingle equi-join
    (inverted-index style), verified with exact set Jaccard on
    distinct shingles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from stockify_spark.functions.scale import materialize, spread_cpu_dense, spread_small_scan
from stockify_spark.functions.text import fingerprint, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One surviving id per distinct (normalized) text.

    Returns (fingerprint, keeper_id = min id, n_copies). Deterministic
    keeper choice — ``dropDuplicates`` picks an arbitrary row, which
    is fine for filtering but not for a differential oracle.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct word k-shingles as an array<string> column expression.

    Built from sequence+transform+slice — pure JVM, no explode, no
    shuffle. Docs shorter than k words yield their whole token array
    joined (one shingle).

    The token array is BOUND ONCE per row as a lambda variable (the
    one-element outer ``transform``): referencing ``tokens(col)``
    directly inside the per-position lambda re-evaluates the whole
    lower+trim+split chain at EVERY position — O(T²) per document.
    Higher-order-function lambdas get no cross-invocation CSE, so the
    hoist must be structural. Measured at sf0.1 (guide §1.2 per-task
    work): 2.77 s → 0.33 s for the corpus shingle pass, byte-identical
    output.
    """
    t = tokens(col)
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(t),
                lambda ts: F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(ts) - k, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(ts, i + 1, k)),
                ),
            )
        )
    )


def _rotl(c, i: int):
    """64-bit rotate-left as bit ops (never overflows under ANSI)."""
    i = i % 64
    if i == 0:
        return c
    return F.shiftleft(c, i).bitwiseOR(F.shiftrightunsigned(c, 64 - i))


def _signatures_from_base(base: DataFrame, num_hashes: int) -> DataFrame:
    """(_id, _sig) from a materialized (_id, _sh) base: explode → two
    xxhash64 per shingle → XOR-rotate derivation of ``num_hashes``
    near-independent hashes (bit ops only — a multiply-based
    Kirsch-Mitzenmacher scheme overflows under ANSI mode) → map-side
    partial min-agg, one signature row per doc across the shuffle."""
    inv = base.select("_id", F.explode_outer("_sh").alias("_shingle"))
    h1 = F.xxhash64("_shingle", F.lit(0))
    h2 = F.xxhash64("_shingle", F.lit(1))
    hashed = inv.select(
        "_id",
        *[h1.bitwiseXOR(_rotl(h2, 2 * i + 1)).alias(f"_h{i}") for i in range(num_hashes)],
    )
    mins = hashed.groupBy("_id").agg(
        *[F.min(f"_h{i}").alias(f"_h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "_id",
        F.array(
            *[F.coalesce(F.col(f"_h{i}"), F.lit(2**63 - 1)) for i in range(num_hashes)]
        ).alias("_sig"),
    )


# Cross-engine MinHash: permutations are (a*h + b) mod P over a
# 60-bit md5-prefix base hash — md5 exists in every engine, so the
# WHOLE signature family is nameable in ANSI SQL (unlike xxhash64,
# which is JVM-only). P = 2^31 - 1 keeps a*h + b under 2^62: no
# overflow under ANSI mode, identical % semantics on positives.
MINHASH_P = 2_147_483_647


def minhash_seed_constants(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """The (a_i, b_i) permutation constants, derived from one seed —
    shared by the Spark expressions AND the differential oracle's SQL
    so both engines name the exact same hash family."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = [int(x) for x in rng.randint(1, MINHASH_P, size=num_hashes)]
    b = [int(x) for x in rng.randint(0, MINHASH_P, size=num_hashes)]
    return a, b


def minhash_lsh_pairs_seeded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with a fully deterministic,
    SQL-expressible hash family (see :func:`minhash_seed_constants`).

    Explode → per-shingle base hash → ``num_hashes`` seeded
    permutation mins collapsed map-side in one partial aggregate,
    band keys as an ids-only equi-join, exact Jaccard verification —
    every step reproducible in ANSI SQL, so the differential oracle
    hash-checks the LSH *semantics* (which pairs band-collide AND
    verify), not just row counts. Band keys join on the literal
    min-value tuple rendered as a string (collision-free), not an
    engine hash of it."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    A, B = minhash_seed_constants(num_hashes)

    # doc-level spread before shingling + the per-shingle md5 fan-out
    # (single-file scans serialize the expensive map; no-op at scale)
    base = materialize(
        spread_small_scan(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", shingles(text_col, k).alias("_sh"))
    )
    inv = base.select("_id", F.explode("_sh").alias("_s"))
    hv = F.conv(F.substring(F.md5("_s"), 1, 15), 16, 10).cast("long") % MINHASH_P
    hashed = inv.select(
        "_id",
        *[((F.lit(A[i]) * hv + F.lit(B[i])) % MINHASH_P).alias(f"_h{i}") for i in range(num_hashes)],
    )
    sig = hashed.groupBy("_id").agg(
        *[F.min(f"_h{i}").alias(f"_h{i}") for i in range(num_hashes)]
    )
    banded = materialize(
        sig.select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.concat_ws(
                                ",", *[F.col(f"_h{b * r + j}") for j in range(r)]
                            ).alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        ).select("_id", "band.band_id", "band.band_key")
    )
    cand = (
        banded.select(F.col("_id").alias("id_a"), "band_id", "band_key")
        .join(
            banded.select(F.col("_id").alias("id_b"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # scoped verify-boundary spread (see functions/scale.spread_cpu_dense):
    # the exact-Jaccard verify below is broadcast-joined, so its
    # parallelism is whatever AQE leaves this ids-only frame — bytes
    # say "one partition", CPU says "every core"
    cand = spread_cpu_dense(cand)
    joined = cand.join(
        base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), F.size("_sh").alias("_na")),
        "id_a",
    ).join(
        base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), F.size("_sh").alias("_nb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    # Filter on the UNROUNDED ratio — the oracle's WHERE clause does —
    # and round only the projected column. Filtering post-round would
    # admit pairs with raw jaccard in [threshold-5e-7, threshold) that
    # the oracle rejects (reachable once union sizes reach ~1e6).
    return (
        joined.filter(inter / union >= jaccard_threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("id_a", "id_b", "jaccard")
    )


def _ceil_bound(expr: Column) -> Column:
    """``ceil`` of a threshold·size product, robust to FP double
    rounding. The prune bounds below compare against
    ``ceil(t * n)`` where ``t`` is a decimal like 0.6 with no exact
    binary representation: ``0.6 * 35`` evaluates to
    ``21.000000000000004`` and a bare ``ceil`` returns 22, silently
    tightening the bound by 1 and pruning a boundary pair the exact
    verify would have accepted — a recall hole the brute-force
    oracles would eventually expose. Rounding to 9 decimals first
    kills the ~1e-15 representation error (set sizes are far below
    1e9, so a true fractional part can never be erased)."""
    return F.ceil(F.round(expr, 9))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    Candidates come from a PREFIX-FILTERED inverted index (the
    AllPairs/PPJoin bound): sort each doc's shingles by global
    document frequency (rarest first); if J(A,B) >= t then A and B
    must share a shingle within the first ``|d| - ceil(t*|d|) + 1``
    of each — so only that prefix is indexed. High-frequency shingles
    ("the x of" 3-grams), which drive the naive self-join quadratic,
    fall outside every prefix and generate no candidates, while
    recall stays exactly 1.0. Cost: one df-count aggregation + a per-doc
    window rank, both keyed on naturally-spread hash keys.
    """
    # base and prefix feed multiple downstream branches (self-join
    # sides + verification); materialize them or the shingle pipeline
    # is re-evaluated once per branch. At warehouse scale this is the
    # materialized shingle/prefix index you would write to storage.
    # spread before shingling: the per-doc regex split + k-gram build
    # is the expensive serial map, and a single-row-group scan arrives
    # in one partition (no-op at warehouse scale — see functions/scale)
    base = materialize(
        spread_small_scan(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", shingles(text_col, k).alias("_sh"))
    )
    inv = base.select("_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("shingle"))

    # document frequency: groupBy + join-back, NOT a count window over
    # the shingle partition — shingle frequency is power-law, and a
    # window puts every row of a stopword-grade shingle in ONE
    # WindowExec buffer (AQE splits skewed joins, not windows; the
    # substring-dedup lesson, r11 verdict). The groupBy's map-side
    # partial aggregation absorbs the hot key into one (shingle, n)
    # row, the shuffled count table is vocabulary-sized, and the
    # join-back is broadcast-able or AQE-skew-splittable. inv itself
    # re-derives map-side from the PERSISTED base on each consumer —
    # no second pass over the source text.
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = inv.join(dfreq, "shingle").withColumn(
        "_pos",
        F.row_number().over(
            W.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("shingle"))
        ),
    )
    prefix = materialize(
        ranked.filter(
            F.col("_pos") <= F.col("_n") - _ceil_bound(F.lit(threshold) * F.col("_n")) + 1
        ).select("_id", "_n", "_pos", "shingle")
    )

    # overlap needed for J >= t: O >= ceil(t/(1+t) * (|A|+|B|))
    minoverlap = _ceil_bound(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a._n") + F.col("b._n"))
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a._id") < F.col("b._id"))
        # length bound: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so sets
        # whose sizes differ by more than t can never qualify
        .filter(
            F.least(F.col("a._n"), F.col("b._n"))
            >= _ceil_bound(F.lit(threshold) * F.greatest(F.col("a._n"), F.col("b._n")))
        )
        # PPJoin positional filter: past this shared shingle, at most
        # min(remaining_a, remaining_b) + 1 shingles can still overlap
        # — for the pair's FIRST shared prefix shingle this is a valid
        # upper bound on the whole overlap, and keeping a pair when
        # ANY occurrence passes equals deciding on the first (looser-
        # bound) occurrence, so recall stays exactly 1.0.
        .filter(
            F.least(
                F.col("a._n") - F.col("a._pos"), F.col("b._n") - F.col("b._pos")
            )
            + 1
            >= minoverlap
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # scoped verify-boundary spread (functions/scale.spread_cpu_dense):
    # the array_intersect verify below must engage every slot even
    # though the candidate frame is only ~16 bytes/row
    cand = spread_cpu_dense(cand)
    sh_a = base.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), F.size("_sh").alias("_na")
    )
    sh_b = base.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), F.size("_sh").alias("_nb")
    )
    joined = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    # |A ∪ B| = |A| + |B| - |A ∩ B|: sizes are already known, so only
    # the intersection array is materialized — half the verify cost
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    # match the oracle: WHERE on the unrounded ratio, ROUND in SELECT
    return (
        joined.filter(inter / union >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("id_a", "id_b", "jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs: C(A→B) =
    |S(A) ∩ S(B)| / |S(A)| >= threshold, A != B.

    Containment is the corpus-hygiene relation Jaccard misses: a
    short document pasted inside a longer one scores near-zero
    Jaccard (the union is dominated by B) but containment 1.0 —
    quote-inclusion, boilerplate-wrapping, and excerpt duplicates at
    LLM-pipeline scale. Emitted as (contained_id, container_id).

    Candidate generation is the ASYMMETRIC prefix filter: if
    C(A,B) >= t then B misses at most |A| - ceil(t*|A|) shingles of
    A, so A must share a shingle with B inside A's rarest
    |A| - ceil(t*|A|) + 1 shingles (pigeonhole over the
    document-frequency-sorted order). Only the probe side A is
    prefix-PRUNED (B contributes its full inverted index — any
    superset qualifies — the standard containment-join asymmetry),
    but candidates are still filtered on the B side (r14): B must
    hold at least ceil(t*|A|) shingles (containment needs that many
    INSIDE B), and the match position pair (posA, posB) in the shared
    global (df, shingle) order bounds the reachable overlap by
    1 + min(|A|-posA, |B|-posB), which must also reach ceil(t*|A|).
    Recall is exactly 1.0 — A's FIRST common shingle with any true
    container satisfies both bounds; the oracle brute-forces all
    ordered pairs to prove it. At 100 TB the probe prefix is
    rarest-first, so high-frequency shingles never generate
    candidates and the join stays bounded by sum-of-prefix-df, the
    same bound ngram_jaccard_pairs carries.
    """
    # spread before shingling (see ngram_jaccard_pairs)
    base = materialize(
        spread_small_scan(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", shingles(text_col, k).alias("_sh"))
        .filter(F.size("_sh") > 0)
    )
    inv = base.select(
        "_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("shingle")
    )
    # skew-safe df (see ngram_jaccard_pairs: groupBy partial-agg +
    # join-back, never a window over the power-law shingle key)
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = inv.join(dfreq, "shingle").withColumn(
        "_pos",
        F.row_number().over(
            W.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("shingle"))
        ),
    )
    probe = ranked.filter(
        F.col("_pos") <= F.col("_n") - _ceil_bound(F.lit(threshold) * F.col("_n")) + 1
    ).select(
        F.col("_id").alias("_ida"),
        F.col("_n").alias("_npr"),
        F.col("_pos").alias("_posa"),
        "shingle",
    )
    # container side carries its df-sorted position too: both lists
    # are sorted by the SAME global (_df asc, shingle) order, so for
    # the candidate's match at (posa, posb) every other common
    # shingle sits after BOTH positions, bounding the reachable
    # overlap by 1 + min(|A|-posa, |B|-posb). Requiring that bound
    # >= ceil(t*|A|) (plus the |B| >= ceil(t*|A|) length bound —
    # containment needs t*|A| shingles INSIDE B) prunes candidates
    # whose only matches are late/frequent shingles with recall
    # exactly 1.0: if C(A,B) >= t, A's FIRST common shingle passes
    # the bound, so the pair survives the pre-distinct filter
    # (guide §3.3 — prune the join's output before the expensive
    # array_intersect verify; r14 measured 693k -> 462k candidates)
    need = _ceil_bound(F.lit(threshold) * F.col("_npr"))
    cand = (
        probe.join(
            ranked.select(
                F.col("_id").alias("_idb"),
                F.col("_n").alias("_nb"),
                F.col("_pos").alias("_posb"),
                "shingle",
            ),
            "shingle",
        )
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(F.col("_nb") >= need)
        .filter(
            F.least(F.col("_npr") - F.col("_posa"), F.col("_nb") - F.col("_posb")) + 1
            >= need
        )
        .select("_ida", "_idb")
        .distinct()
    )
    # scoped verify-boundary spread (functions/scale.spread_cpu_dense)
    cand = spread_cpu_dense(cand)
    sh_a = base.select(
        F.col("_id").alias("_ida"), F.col("_sh").alias("_sha"), F.size("_sh").alias("_na")
    )
    sh_b = base.select(F.col("_id").alias("_idb"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    c = inter / F.col("_na").cast("double")
    return (
        cand.join(sh_a, "_ida")
        .join(sh_b, "_idb")
        .filter(c >= threshold)
        .select(
            F.col("_ida").alias("contained_id"),
            F.col("_idb").alias("container_id"),
            F.round(c, 6).alias("containment"),
        )
    )


# Largest per-bit one-count a 15-bit packed field holds.
SIMHASH_MAX_TOKENS = (1 << 15) - 1


def simhash_near_dup_pairs_seeded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 10,
) -> DataFrame:
    """SimHash near-dup pairs with a fully SQL-expressible signature.

    The per-token hash is the 60-bit md5-prefix (cross-engine, see
    :data:`MINHASH_P` notes), so a differential oracle can reproduce
    signatures, banding, AND the hamming verification bit-for-bit —
    everything is integer arithmetic. Signature: per-bit ±1 counts
    over whitespace tokens (duplicates kept), sign bits packed to one
    BIGINT; candidates agree on one of 4 15-bit bands; verify
    ``bit_count(xor) <= max_hamming``. Pure column expressions — no
    Python in the plan.

    A document may hold at most :data:`SIMHASH_MAX_TOKENS` tokens: the
    per-bit counts are packed into 15-bit fields, and a longer document
    raises instead of overflowing one field into the next. Chunk such
    documents upstream.
    """
    n_bits, n_bands = 60, 4
    band_bits = n_bits // n_bands  # 15
    # materialize the md5-prefix hash once per token in a projection
    # so single evaluation is guaranteed by the plan shape rather
    # than left to codegen subexpression elimination (measured ~6%
    # at sf0.1 — CSE was already firing — but the guarantee is the
    # point; CSE does not apply in interpreted fallback mode)
    # doc-level spread before the per-token md5 map (the expensive-map
    # case functions/scale documents — a single-file scan serializes
    # it); round-robin on whole docs keeps every doc's tokens in one
    # partition, so the signature aggregate still collapses map-side
    inv = spread_small_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t")
    ).select(
        "_id", F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("long").alias("_h")
    )
    # Per-bit one-counts, packed 4-to-a-long: group g holds bits
    # {g, g+15, g+30, g+45} in 15-bit fields. Because those bits sit
    # exactly 15 apart in the hash, the per-token packed contribution
    # is a single (h >> g) & SPREAD — so the whole signature
    # aggregation is 15 sum() columns + a count, not 60 sum(when())
    # columns (2.5× faster at sf0.1, identical signatures: the ±1
    # majority  Σ±1 > 0  ⇔  2·ones > n). 15-bit fields carry no
    # cross-field overflow up to SIMHASH_MAX_TOKENS tokens per doc;
    # the signature projection below raises on a longer document.
    n_groups = 15  # 60 bits / 4 fields per long
    spread = (1 << 0) | (1 << 15) | (1 << 30) | (1 << 45)
    accs = inv.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.shiftrightunsigned("_h", g).bitwiseAND(F.lit(spread))
            ).alias(f"_p{g}")
            for g in range(n_groups)
        ],
    )
    # Signature assembly as ONE constant-size higher-order aggregate
    # instead of a 60-term chained  when(...) + when(...)  column
    # (r15): the chained form's expression tree made Catalyst
    # planning the dominant cost of the whole query — ~1.5-2 s of
    # DRIVER time per fresh DataFrame (measured: plan-only 1.5 s,
    # execution 0.7 s) — and the bench constructs the query every
    # iteration, as any real caller would. Bit b of the signature is
    # field ⌊b/15⌋ of packed sum _p{b%15}; majority  Σ±1 > 0  ⇔
    # 2·ones > n. Long addition is associative, so the HOF fold
    # equals the chained sum bit-for-bit. `>>` (arithmetic shift) is
    # safe: packed sums are non-negative (≤4 fields × 15 bits + no
    # sign-bit contact within the SIMHASH_MAX_TOKENS bound).
    ps = F.array(*[F.col(f"_p{g}") for g in range(n_groups)])
    sig_expr = F.expr(
        "aggregate(sequence(0, 59), 0L, (acc, b) -> acc + "
        "CASE WHEN ((_ps[b % 15] >> ((b DIV 15) * 15)) & 32767) * 2 > _n "
        "THEN shiftleft(1L, b) ELSE 0L END)"
    )
    # One materialization barrier before the self-join: the signature
    # aggregation (explode + md5 per token + 15-way packed sum) is the
    # dominant cost of the whole query, and the band self-join's two
    # sides would otherwise each recompute it from scratch (self-joins
    # duplicate the logical subtree; ReusedExchange only dedups AFTER
    # an exchange). Halves wall-clock at sf0.1; at cluster scale the
    # materialized frame is (id, int64) per doc — ~16 bytes/row,
    # trivially memory-resident.
    too_long = F.raise_error(
        F.concat(
            F.lit("simhash_near_dup_pairs_seeded: document "),
            F.col("_id").cast("string"),
            F.lit(" has "),
            F.col("_n").cast("string"),
            F.lit(f" tokens, over the {SIMHASH_MAX_TOKENS}-token bound of the packed"
                  " 15-bit signature counts; chunk it upstream"),
        )
    )
    sig = (
        accs.select("_id", "_n", ps.alias("_ps"))
        .select(
            "_id",
            F.when(F.col("_n") > SIMHASH_MAX_TOKENS, too_long)
            .otherwise(sig_expr)
            .alias("_sig"),
        )
        .transform(materialize)
    )

    chunks = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band_id"),
                        F.shiftrightunsigned("_sig", c * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for c in range(n_bands)
                ]
            )
        ).alias("ch"),
    ).select("_id", "_sig", "ch.band_id", "ch.band_val")

    a = chunks.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"), "band_id", "band_val")
    b2 = chunks.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"), "band_id", "band_val")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # verify INSIDE the band join's projection, before the dedup
    # shuffle: candidates failing the hamming bound never leave the
    # map side, and surviving rows shuffle as (id, id, int) instead
    # of carrying both 8-byte signatures through the exchange
    return (
        a.join(b2, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a duplicate-pair graph: (node,
    component) with component = smallest reachable node id. The step
    after any near-dup detector — pairs only say "these two match";
    keeping one representative per duplicate CLUSTER needs the
    transitive closure.

    Min-label propagation WITH pointer jumping (path doubling):
    each round every node takes the min label over itself and its
    neighbors (self-loops fold "keep my own label" into the SAME
    join+groupBy as neighbor propagation — one join fewer per round
    than a separate left-join merge), then jumps to its current
    label's label — so the propagation horizon DOUBLES per round and
    a diameter-d graph converges in O(log d) rounds, not d. Both
    steps only ever assign ids of reachable nodes (a neighbor's
    label and a reachable node's label are both reachable), so the
    fixpoint is exactly component = min reachable id.

    Round structure (tuned on the r9→r10 driver-variance finding —
    dedup_clusters measured 15.7s driver vs 2.9s builder on
    identical code): near-dup graphs are near-cliques, so pointer
    jumping reaches the fixpoint in round 0 and round 1 verifies —
    measured 2 rounds at sf0.1. Extra rounds are NOT cheap (each is
    2 shuffled joins + a groupBy over the full label set), so the
    loop checks convergence EVERY round but (a) skips the provably
    redundant round-0 check (a nonempty edge set always lowers some
    label in round 0), and (b) eagerly materializes each round's
    node-sized result, so the check is a count between two CACHED
    frames and lineage/plan depth stays O(1) regardless of round
    count. max_iters=20 covers diameter ~2^19 — far beyond any
    near-dup cluster.
    """
    # materialize the symmetric edge list ONCE, before anything
    # references it twice: adj below uses sym both directly and under
    # the node-distinct — without this checkpoint each reference
    # re-runs the caller's candidate generation (the expensive pair
    # detection; the plan census showed 8 scans for
    # dedup_embedding_clusters before this checkpoint existed)
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .transform(materialize)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # adjacency WITH self-loops, checkpointed as the per-round join
    # input (built from the cached sym — one distinct shuffle, once)
    adj = sym.union(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).transform(materialize)
    # initial labels: one row per distinct node (nodes re-reads the
    # CACHED sym — a genuine self-edge in the input would make the
    # adj self-loop rows non-unique, so don't derive labels from adj)
    labels = nodes.withColumn("component", F.col("node")).transform(materialize)
    for it in range(max_iters):
        # one-hop min INCLUDING own label (self-loop supplies it)
        hop = (
            adj.join(labels, adj["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("src", "node")
        )
        # pointer jump: component <- label(component). labels(it) holds
        # the previous round's fixpoint-so-far; composing it with this
        # round's one-hop result doubles the propagation distance.
        jump = labels.select(
            F.col("node").alias("_jn"), F.col("component").alias("_jc")
        )
        new_labels = (
            hop.join(jump, hop["component"] == jump["_jn"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("_jc"), F.col("component"))
                ).alias("component"),
            )
            # eager + node-sized: truncates lineage every round (plan
            # depth stays O(1)) and makes the convergence count below
            # a cache-read job.
            .transform(materialize)
        )
        if it == 0:
            # a nonempty edge set ALWAYS changes labels in round 0
            # (for any edge (u,v) with u<v, v's label drops to <= u),
            # so the check would be a wasted job; an empty edge set
            # makes every frame here empty and round 1 terminates.
            labels = new_labels
            continue
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") < F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def duplicate_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate clusters: exact n-gram Jaccard pairs
    (:func:`ngram_jaccard_pairs`) → connected components. Returns
    (doc id, component representative) for every document with at
    least one near-duplicate — pairs only assert "these two match";
    keeping one doc per duplicate GROUP needs the transitive closure.
    """
    pairs = ngram_jaccard_pairs(df, text_col, id_col, k=k, threshold=threshold)
    edges = pairs.select("id_a", "id_b")
    return connected_components(edges).select(
        F.col("node").alias(id_col), "component"
    )


def contamination_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_max_id: int = 20,
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination report: (train doc, eval doc) pairs
    sharing at least ``min_shared`` distinct ``k``-token shingles —
    the GPT-3/Gopher-style n-gram overlap check run before training.

    Scale shape: the eval/benchmark side is small by nature, so its
    shingle hashes BROADCAST and the training corpus is never
    shuffled — the join is map-side against the scan, and only the
    matching (train, eval) pairs reach the final (tiny) aggregation
    shuffle. Shingle hashes use the cross-engine 60-bit md5-prefix
    family (see minhash notes above), so a differential oracle can
    name the identical candidate set.
    """
    hv = F.conv(F.substring(F.md5("_sh"), 1, 15), 16, 10).cast("long")

    def _hashed(side: DataFrame) -> DataFrame:
        return side.select(
            F.col(id_col), F.explode(shingles(text_col, k)).alias("_sh")
        ).select(id_col, hv.alias("h"))

    # split BEFORE hashing so (a) the id predicate reaches the scan on
    # both sides, (b) the broadcast-side job shingles only the
    # benchmark docs instead of re-running the full corpus pass, and
    # (c) the train-side md5 map (the expensive-map case
    # functions/scale documents) spreads across all slots on a
    # single-file scan — measured 4.1s → the double serial corpus
    # hash was the whole cost at sf0.1
    ev = _hashed(df.filter(F.col(id_col) < eval_max_id)).select(
        F.col(id_col).alias("eval_id"), "h"
    )
    tr = _hashed(
        spread_small_scan(df.filter(F.col(id_col) >= eval_max_id))
    ).select(F.col(id_col).alias("train_id"), "h")
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fuzzy_set_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Entity-resolution R-S join: pairs (r, s) whose DISTINCT token
    sets have Jaccard >= ``threshold`` — the two-relation cousin of
    :func:`ngram_jaccard_pairs` (same AllPairs prefix-filter bound,
    but candidates only cross relations, never within one).

    Scale shape: token document-frequency is computed over the UNION
    of both sides (skew-safe groupBy + join-back — the global
    ordering must be shared or the prefix bound is unsound), each
    side indexes only its ``|d| - ceil(t*|d|) + 1`` rarest tokens,
    and the equi-join on the indexed token replaces the cross join.
    Verification touches candidate pairs only. No all-pairs anywhere.

    Both inputs must expose ``id_col`` and an array column
    ``tokens_col`` (already distinct). Output: id_a (left), id_b
    (right), jaccard (rounded 6dp; filter on the unrounded value).
    """
    L = left.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_tk"))
    R = right.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_tk"))
    # materialized: the union feeds three subtrees (inverted index +
    # both verification sides)
    both = (
        L.withColumn("_side", F.lit(0))
        .unionByName(R.withColumn("_side", F.lit(1)))
        .transform(materialize)
    )
    inv = both.select(
        "_side", "_id", F.size("_tk").alias("_n"), F.explode("_tk").alias("tok")
    )
    # skew-safe df (see ngram_jaccard_pairs): a hot token (part-name
    # stopword) would otherwise pin one WindowExec buffer; inv
    # re-derives map-side from the CHECKPOINTED union per consumer
    dfreq = inv.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    ranked = inv.join(dfreq, "tok").withColumn(
        "_pos",
        F.row_number().over(
            W.partitionBy("_side", "_id").orderBy(F.col("_df").asc(), F.col("tok"))
        ),
    )
    prefix = ranked.filter(
        F.col("_pos") <= F.col("_n") - _ceil_bound(F.lit(threshold) * F.col("_n")) + 1
    ).select("_side", "_id", "_n", "tok")
    pl = prefix.filter(F.col("_side") == 0).drop("_side")
    pr = prefix.filter(F.col("_side") == 1).drop("_side")
    cand = (
        pl.alias("a")
        .join(pr.alias("b"), "tok")
        .filter(
            F.least(F.col("a._n"), F.col("b._n"))
            >= _ceil_bound(F.lit(threshold) * F.greatest(F.col("a._n"), F.col("b._n")))
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = both.filter(F.col("_side") == 0).select(
        F.col("_id").alias("id_a"), F.col("_tk").alias("tk_a"), F.size("_tk").alias("_na")
    )
    tb = both.filter(F.col("_side") == 1).select(
        F.col("_id").alias("id_b"), F.col("_tk").alias("tk_b"), F.size("_tk").alias("_nb")
    )
    joined = cand.join(ta, "id_a").join(tb, "id_b")
    inter = F.size(F.array_intersect("tk_a", "tk_b")).cast("double")
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    return (
        joined.filter(inter / union >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("id_a", "id_b", "jaccard")
    )


def _win_hash(w: Column) -> Column:
    """64-bit key for the substring-dedup exchanges: ``xxhash64`` of
    the window (the token-slice ARRAY on the corpus-scale pass — no
    ~L-token string is ever materialized there; the eval side of
    decontamination hashes the same slice shape), computed map-side
    so the shuffle carries an 8-byte key + positions instead of ~L
    tokens of raw text per position. Collisions are handled by the
    exact-text verification pass in the callers, so this only needs
    to be *cheap and well-spread*, not perfect.

    Test hook: monkeypatched to a deliberately narrow hash in
    tests/test_dedup.py to force collisions and prove the verify
    pass rejects them."""
    return F.xxhash64(w)


def _windows_hashed(
    df: DataFrame, text_col: str, id_col: str, L: int
) -> DataFrame:
    """All exactly-L-token windows of every doc as (_id, sp, h):
    1-based start position + 64-bit window hash. Map-side only
    (sequence/transform/explode inside JVM codegen) — crucially the
    raw window TEXT never leaves the map task; only the hash enters
    downstream exchanges. This projection's schema (no string
    column) is pinned by tests/test_dedup.py.

    The token array is bound ONCE per row as a lambda variable (the
    one-element outer ``transform`` — the shingles() idiom, r15):
    referencing the ``tokens()`` expression inside the per-window
    lambda re-ran the whole lower+trim+split chain at every window
    position — O(T²) per document (HOF lambdas get no
    cross-invocation CSE)."""

    def win_structs(ts):
        starts = F.when(
            F.size(ts) >= L, F.sequence(F.lit(1), F.size(ts) - L + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(starts, lambda i: F.struct(
            i.alias("sp"),
            _win_hash(F.slice(ts, i, L)).alias("h"),
        ))

    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.flatten(F.transform(F.array(tokens(text_col)), win_structs))
        ).alias("x"),
    ).select("_id", F.col("x.sp").cast("long").alias("sp"), "x.h")


def _candidate_window_text(
    df: DataFrame, cand: DataFrame, text_col: str, id_col: str, L: int
) -> DataFrame:
    """Re-materialize window text for CANDIDATE positions only:
    group the candidate (_id, sp) rows per doc (one row per doc,
    list bounded by the doc's own token count), join the docs once
    on id, and slice the L-token window map-side after the join.
    Returns (_id, sp, w). Shuffle cost: candidates keyed by doc id
    + one doc-keyed pass over the (typically small) contaminated
    subset of the corpus — not the full window stream."""
    per_doc = cand.groupBy("_id").agg(F.collect_list("sp").alias("_sps"))
    t = tokens(text_col)
    return (
        df.select(F.col(id_col).alias("_id"), t.alias("_t"))
        .join(per_doc, "_id")
        .select(
            "_id",
            F.explode(
                F.transform("_sps", lambda sp: F.struct(
                    sp.alias("sp"),
                    F.concat_ws(
                        " ", F.slice("_t", sp.cast("int"), L)
                    ).alias("w"),
                ))
            ).alias("x"),
        )
        .select("_id", F.col("x.sp").alias("sp"), "x.w")
    )


def _merge_spans(hits: DataFrame, id_col: str, L: int) -> DataFrame:
    """Merge overlapping/adjacent L-token windows into maximal spans:
    classic interval merge as a per-doc window — a window starting
    past the running max end of its predecessors opens a new span."""
    wd = W.partitionBy("_id").orderBy("sp")
    prev_max_end = F.max(F.col("sp") + L - 1).over(
        wd.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "new_span",
        F.when(F.col("sp") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn("span_id", F.sum("new_span").over(wd))
    return (
        flagged.groupBy("_id", "span_id")
        .agg(
            F.min("sp").alias("span_start"),
            (F.max("sp") + L - 1).alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 50,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    span covered by some verbatim repeat of >= ``min_tokens`` tokens
    anywhere in the corpus — the spans that paper removes.

    Returns (id, span_start, span_end, span_tokens), positions
    1-based inclusive over the whitespace token sequence.

    Spark-first design note: the paper builds ONE suffix array over
    the concatenated corpus (single-node, memory-resident). The
    distributed re-expression here uses the covering-window identity
    instead: a position is inside a repeated span of length >= L iff
    it is inside a repeated window of length EXACTLY L (any >= L
    repeat contains exactly-L repeats covering every position of it,
    and any exactly-L repeat IS a >= L repeat).

    Scale shape (hash-keyed; the raw window text NEVER enters an
    exchange — at ~50 tokens/window the text form would be a ~50×
    corpus-size shuffle constant, multiple PB at 100 TB):

      1. slide exactly-L windows per doc, hashing each to 64 bits
         map-side — the exchanges carry (id, pos, hash) only;
      2. count occurrences per hash — materialize the hashed-window
         frame ONCE (materializing preserves the scan-once
         property a naive groupBy+join-back loses: both join sides
         would re-run the window-materialization scan), then
         ``groupBy(h).count()`` + semi-join back on the 8-byte key.
         NOT a window count: repeated-substring hashes follow a
         power law (one boilerplate span repeated 10⁷× corpus-wide
         puts 10⁷ rows in a single WindowExec buffer — a straggler/
         OOM AQE cannot split, since skew handling covers joins,
         not windows), whereas the groupBy's partial map-side
         aggregation absorbs the hot key and the join-back is a
         shape AQE CAN skew-split (or broadcast — the hot-hash set
         is duplicated-vocabulary-sized);
      3. pull candidate positions (hash-join on the 8-byte key) and
         VERIFY them exactly: re-slice the window text for candidate
         positions only (one doc-keyed join) and re-count on the
         text itself — hash collisions (different windows, same
         64-bit key) are filtered here, so the output is exact, not
         probabilistic. Verification cost tracks the DUPLICATED
         fraction of the corpus, not the corpus;
      4. merge surviving windows per doc into maximal spans — a
         per-doc sort inside one more shuffle keyed by doc.

    Every stage is linear in corpus tokens, versus O(log n)
    prefix-doubling rounds (each a full shuffle of the position
    space) for a distributed suffix array — same output set,
    asymptotically cheaper plan.

    The two scan-once materializations are corpus-sized; their
    durability is the session's materialization policy
    (:mod:`stockify_spark.functions.scale`), as at every other site."""
    L = min_tokens
    df = spread_small_scan(df)
    # materialize the hashed-window stream ONCE: the count side and
    # the probe side below are two consumers of the same pre-exchange
    # map subtree, which would otherwise re-run the window-
    # materialization scan per side (the pca_block_pairs lesson —
    # ReusedExchange only dedups AFTER an exchange).
    wh = materialize(_windows_hashed(df, text_col, id_col, L))
    # hashes occurring > 1 time corpus-wide: groupBy + semi-join back
    # on the 8-byte key, NEVER count().over(Window.partitionBy("h"))
    # — repeated-substring hashes are power-law keys, and a window
    # puts every occurrence of the hot hash in ONE task's buffer
    # (AQE splits skewed JOINS, not windows). The groupBy's partial
    # map-side aggregation absorbs the hot key; the hot-hash set is
    # duplicated-vocabulary-sized, so the join-back broadcasts or
    # AQE-skew-splits.
    hot = (
        wh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("h")
    )
    cand = wh.join(hot, "h", "left_semi").select("_id", "sp")
    # exact-text verification of the candidate positions: a window
    # survives iff its TEXT occurs > 1 time among candidates (all
    # true repeats are candidates, so the text count is exact).
    # Same skew-safe shape — the hot TEXT keys are exactly the hot
    # hash keys that motivated it.
    cand_w = materialize(_candidate_window_text(df, cand, text_col, id_col, L))
    hot_w = (
        cand_w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("w")
    )
    verified = cand_w.join(hot_w, "w", "left_semi").select("_id", "sp")
    return _merge_spans(verified, id_col, L)


def keepone_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 50,
) -> DataFrame:
    """Keep-one exact substring dedup: the maximal spans to CUT when,
    for every corpus-repeated >= L-token window, the occurrences in
    the LOWEST-``id_col`` document containing it are retained and
    every occurrence in any other document is removed — the
    "retain one copy" policy of :func:`remove_repeated_spans`'s
    docstring, realized as the promised deterministic post-filter on
    the verified window stream. Returns
    (id, span_start, span_end, span_tokens), 1-based inclusive.

    Scale shape: identical to :func:`repeated_substring_spans`
    (hash-keyed exchanges, skew-safe groupBy counts, candidate-only
    text re-slice) plus ONE extra model-shaped aggregate — min(doc)
    per verified window text — joined back to the candidate stream;
    the keeper table is bounded by the duplicated window vocabulary,
    not the corpus, so the join-back broadcasts at any corpus size
    where dedup is meaningful."""
    L = min_tokens
    df = spread_small_scan(df)
    # same skew-safe shape as repeated_substring_spans (see its
    # step-2 comment): materialize once, groupBy-count, semi-join back
    wh = materialize(_windows_hashed(df, text_col, id_col, L))
    hot = (
        wh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("h")
    )
    cand = wh.join(hot, "h", "left_semi").select("_id", "sp")
    cand_w = materialize(_candidate_window_text(df, cand, text_col, id_col, L))
    # per verified (text-counted, collision-free) window: who keeps it
    keep = (
        cand_w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("_id").alias("_keeper"))
        .filter(F.col("n_occ") > 1)
        .select("w", "_keeper")
    )
    hits = (
        cand_w.join(keep, "w")
        .filter(F.col("_id") != F.col("_keeper"))
        .select("_id", "sp")
    )
    return _merge_spans(hits, id_col, L)


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 50,
) -> DataFrame:
    """Apply exact substring dedup (the output Lee et al. 2022
    actually ship): cut every token covered by a corpus-repeated
    >= ``min_tokens`` span out of every document. Returns
    (id, clean_text, n_tokens_removed, n_tokens_kept); documents
    with nothing removed pass through with their token stream
    re-joined (single-space normalized — same normalization the
    span detector applied).

    This removes ALL occurrences of a repeated span. The keep-one
    variant (retain the occurrence with the smallest (doc, pos)) is
    a deterministic post-filter on the span table — excluded here so
    the operator composes: filter the spans you want gone, then cut.

    Scale shape: :func:`repeated_substring_spans`'s two linear
    shuffles + one doc-keyed join of the span table (rows = spans,
    far smaller than the corpus) + a map-side lambda cut — the
    filter runs inside JVM higher-order functions, no Python."""
    # spread BEFORE both consumers: the span detector (which would
    # spread internally anyway — its check is then a no-op) AND the
    # cut side below, whose per-token covered() filter is an
    # interpreted higher-order pass that must not run on a
    # single-split scan
    df = spread_small_scan(df)
    spans = repeated_substring_spans(df, text_col, id_col, min_tokens)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    t = tokens(text_col)
    out = df.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_spans"), F.array().cast(
            "array<struct<span_start:long,span_end:long>>"
        )).alias("_spans"),
        t.alias("_t"),
    )
    # keep token i (1-based) iff NO span covers it — pure JVM lambda
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (F.lit(i) >= s["span_start"]) & (F.lit(i) <= s["span_end"]),
    )
    kept = F.filter(F.col("_t"), lambda x, i: ~covered(i + F.lit(1)))
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_tokens_removed"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
    )


def contaminated_spans(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 50,
) -> DataFrame:
    """Cross-set exact-substring decontamination (the Lee et al. 2022
    measurement applied to train-vs-benchmark leakage): every maximal
    span of a TRAIN document covered by some verbatim >= L-token
    window that also occurs ANYWHERE in the eval set — the spans a
    decontamination pass removes (or flags) before training.

    Same covering-window identity as
    :func:`repeated_substring_spans`, and the same hash-keyed
    exchanges: the 100 TB TRAIN side ships only (id, pos,
    xxhash64(window)) — never window text — into the semi-join
    against the eval set's distinct window hashes. Only the
    CANDIDATE train positions (hash hits) have their text
    re-sliced, then verified exactly against the eval windows' text;
    the eval side is the benchmark suite (millions of tokens against
    a 100 TB corpus — the natural asymmetry of decontamination), so
    carrying its raw windows is model-sized. Hash collisions are
    rejected by the text equi-join, so the output is exact.
    Returns (id, span_start, span_end, span_tokens), 1-based."""
    L = min_tokens

    # eval window (hash, text): the SMALL side — distinct'd before
    # either join so cost is the eval vocabulary, not eval positions.
    # Token array bound once per row (the shingles() idiom, r15) and
    # each window sliced once via a nested one-element transform —
    # the previous form re-tokenized at every position (O(T²)) AND
    # evaluated the slice twice (text + hash).
    def ev_structs(ts):
        starts = F.when(
            F.size(ts) >= L, F.sequence(F.lit(1), F.size(ts) - L + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda i: F.element_at(
                F.transform(F.array(F.slice(ts, i, L)), lambda win: F.struct(
                    F.concat_ws(" ", win).alias("w"),
                    _win_hash(win).alias("h"),
                )),
                1,
            ),
        )

    ev_w = (
        eval_df.select(
            F.explode(
                F.flatten(F.transform(F.array(tokens(text_col)), ev_structs))
            ).alias("x")
        )
        .select("x.w", "x.h")
        .distinct()
    )
    # train side: hash-only windows, semi-joined on the 8-byte key
    train = spread_small_scan(train)
    cand = (
        _windows_hashed(train, text_col, id_col, L)
        .join(ev_w.select("h").distinct(), "h", "left_semi")
        .select("_id", "sp")
    )
    # exact verification: candidate text must EQUAL an eval window
    cand_w = _candidate_window_text(train, cand, text_col, id_col, L)
    hits = cand_w.join(ev_w.select("w"), "w", "left_semi").select("_id", "sp")
    return _merge_spans(hits, id_col, L)


def streaming_exact_dedup(
    sdf: DataFrame,
    text_col: str,
    id_col: str,
    event_time_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Exact dedup over a STREAM: the first occurrence of each
    normalized-text fingerprint survives, across micro-batches and
    across restarts — the ingest-time half of exact dedup (the batch
    half, :func:`exact_dedup`, is a one-shot groupBy; a 100 TB
    pipeline tailing a feed cannot re-shuffle the corpus per commit).

    Spark-first: the fingerprint is one map-side column and the
    engine's OWN stateful dedup operator does the rest —
    ``dropDuplicates`` keeps the seen-fingerprint set in the state
    store, versioned with the streaming checkpoint, so a restarted
    query continues suppressing duplicates it saw before the crash
    (exactly-once with no custom state code). With
    ``event_time_col``, uses ``dropDuplicatesWithinWatermark`` so
    state is BOUNDED by the watermark ``delay`` — the form to run
    at scale: an unbounded seen-set is a state-store leak on an
    endless stream; a late duplicate beyond the delay re-admits,
    which the downstream batch dedup sweep reconciles (the standard
    streaming-ingest + periodic-compaction split).

    Returns the input columns plus ``fingerprint``."""
    tagged = sdf.withColumn("fingerprint", fingerprint(text_col))
    if event_time_col is None:
        return tagged.dropDuplicates(["fingerprint"])
    return tagged.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def dedup_ingest_sink(spark, dst: str, app_id: str, text_col: str, id_col: str):
    """foreachBatch sink for DEDUP-AGAINST-HISTORY corpus ingest: each
    micro-batch is (1) deduped within itself (first id per
    fingerprint wins — deterministic under replay), (2) anti-joined
    against the fingerprints already accumulated in the destination
    txlog table, (3) appended exactly-once via the (app, batch-id)
    idempotency marker. The standard shape for growing a training
    corpus from a feed: the table IS the dedup state, so no streaming
    state store is involved and a cold restart needs no state
    bootstrap — history is wherever the table is.

    Scale shape: step (2) is one join per batch keyed on the 32-char
    fingerprint — batch-sized build side against the corpus scan. At
    100 TB, put :func:`stockify_spark.sources.txlog.attach_bloom` on
    the fingerprint column: membership probes for mostly-ABSENT keys
    (the common case — most new docs are novel) then skip every file
    whose filter rejects, turning the scan side into bounded IO. A
    fingerprint column is added to stored rows; the destination table
    is created on first batch."""
    from stockify_spark.sources import txlog as _txlog

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.withColumn("fingerprint", fingerprint(text_col))
        # first id per fingerprint via min_by groupBy, not a window:
        # an adversarial batch (one document repeated batch-wide)
        # would pin a row_number window's single partition, while
        # the groupBy's map-side partial min_by absorbs the hot key
        cols = [c for c in tagged.columns if c != "fingerprint"]
        batch_unique = (
            tagged.groupBy("fingerprint")
            .agg(
                F.min_by(
                    F.struct(*[F.col(c) for c in cols]), F.col(id_col)
                ).alias("_r")
            )
            .select(*[F.col(f"_r.{c}").alias(c) for c in cols], "fingerprint")
        )
        try:
            seen = _txlog.snapshot(spark, dst).select("fingerprint").distinct()
            fresh = batch_unique.join(seen, "fingerprint", "left_anti")
        except FileNotFoundError:
            fresh = batch_unique  # table not born yet: everything is new
        # append_idempotent bootstraps a missing table itself: batch
        # 0's data and its marker ride commit 0 atomically
        _txlog.append_idempotent(fresh, dst, app_id, batch_id)

    return sink


def _band_key_structs(sig_col: Column, bands: int, r: int) -> Column:
    """The LSH band keys of a MinHash signature as an array of
    (band, key) structs — key is the exact textual tuple of the
    band's r signature longs (collision-free, engine-neutral),
    derived map-side from the stored signature."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.element_at(sig_col, b * r + i + 1).cast("string")
                    for i in range(r)
                ],
            ).alias("key"),
        )
        for b in range(bands)
    ])


def near_dedup_ingest_sink(
    spark,
    dst: str,
    app_id: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    instrument: dict | None = None,
):
    """NEAR-duplicate dedup-against-history ingest — the MinHash-LSH
    sibling of :func:`dedup_ingest_sink`: each micro-batch's docs are
    LSH-probed against the corpus accumulated so far, candidates are
    verified with exact shingle Jaccard, and only genuinely novel
    docs append (exactly-once via the (app, batch-id) marker).

    The destination table is self-indexing: rows store their MinHash
    signature (``_sig``, ``num_hashes`` longs) next to the text, so
    the per-batch probe derives band keys map-side from the STORED
    column — no corpus re-hash per batch, the scan ships 8·num_hashes
    bytes/row of index plus ids. Verification shingles are recomputed
    from text for CANDIDATE pairs only (band-collision-sized, not
    corpus-sized).

    Dedup rule, deterministic under replay: a batch doc is dropped if
    a verified match (Jaccard >= ``threshold``) exists against (a)
    any history doc, or (b) any smaller-id doc of the same batch —
    greedy first-id-wins, the same convention the batch LSH operator
    documents. Exact duplicates are near-duplicates at any threshold,
    so this subsumes the exact sink when fed the same stream.

    Per-batch cost is LINEAR in history: the probe derives band keys
    from every stored signature — a cheap map scan (8·num_hashes
    bytes/row), but a scan nonetheless. When the destination outgrows
    the batch by orders of magnitude, use
    :func:`near_dedup_ingest_sink_indexed`, which keeps a bloom-
    indexed band-key table beside the corpus and opens only files
    that might contain a colliding key. ``instrument``, when a dict,
    receives per-stage wall seconds (signature/probe/append) for the
    bench's history-growth probe."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    from stockify_spark.sources import txlog as _txlog

    def _jaccard_ok(sh_a: Column, sh_b: Column) -> Column:
        inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
        union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
        return (union > 0) & (inter / union >= threshold)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        t0 = _time.perf_counter()
        base = batch_df.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_text"),
            shingles(text_col, k).alias("_sh"),
        ).transform(materialize)  # batch-sized; read by signature build + joins
        sigs = _signatures_from_base(base, num_hashes)
        # materialize once: bt feeds band derivation (three join
        # branches) AND the survivor write — lazily it would re-run
        # the explode×num_hashes signature pipeline per consumer
        bt = materialize(base.join(sigs, "_id"))
        if instrument is not None:
            instrument["signature_sec"] = round(_time.perf_counter() - t0, 4)
        t1 = _time.perf_counter()
        b_bands = bt.select(
            "_id",
            F.explode(_band_key_structs(F.col("_sig"), bands, r)).alias("bk"),
        ).select("_id", "bk.band", "bk.key")
        b_sh = bt.select("_id", "_sh")
        dropped = None
        try:
            hist = _txlog.snapshot(spark, dst).select(
                F.col(id_col).alias("_hid"),
                F.col(text_col).alias("_htext"),
                F.col("_sig").alias("_hsig"),
            )
            # ids-only band join: the corpus side ships (id, band,
            # key) derived map-side from the STORED signature — never
            # text or shingles. Candidate pairs are band-collision-
            # sized; only THEIR history rows get shingles recomputed,
            # via a semi-join that prunes the text scan first.
            h_bands = hist.select(
                "_hid",
                F.explode(_band_key_structs(F.col("_hsig"), bands, r)).alias("bk"),
            ).select("_hid", "bk.band", "bk.key")
            cand = (
                b_bands.join(h_bands, ["band", "key"])
                .select("_id", "_hid")
                .distinct()
            )
            h_cand_sh = (
                hist.join(cand.select("_hid").distinct(), "_hid", "left_semi")
                .select("_hid", shingles("_htext", k).alias("_hsh"))
            )
            dropped = (
                cand.join(b_sh, "_id")
                .join(h_cand_sh, "_hid")
                .filter(_jaccard_ok(F.col("_sh"), F.col("_hsh")))
                .select("_id")
                .distinct()
            )
        except FileNotFoundError:
            pass  # table not born yet: no history to match
        # within-batch: greedy smaller-id wins (batch-sized frames)
        bb = (
            b_bands.alias("a")
            .join(b_bands.alias("b"), ["band", "key"])
            .filter(F.col("a._id") < F.col("b._id"))
            .select(
                F.col("a._id").alias("_ida"), F.col("b._id").alias("_id")
            )
            .distinct()
            .join(b_sh.select(F.col("_id").alias("_ida"), F.col("_sh").alias("_sha")), "_ida")
            .join(b_sh, "_id")
            .filter(_jaccard_ok(F.col("_sha"), F.col("_sh")))
            .select("_id")
            .distinct()
        )
        dropped = bb if dropped is None else dropped.unionByName(bb).distinct()
        if instrument is not None:
            # materialize the id-only drop set so the probe's cost is
            # separable from the append's (ids are collision-sized)
            dropped = materialize(dropped)
            instrument["probe_sec"] = round(_time.perf_counter() - t1, 4)
        t2 = _time.perf_counter()
        survivors = (
            bt.join(dropped, "_id", "left_anti")
            .select(
                F.col("_id").alias(id_col),
                F.col("_text").alias(text_col),
                "_sig",
            )
        )
        # append_idempotent bootstraps a missing table itself: batch
        # 0's data and its marker ride commit 0 atomically
        _txlog.append_idempotent(survivors, dst, app_id, batch_id)
        if instrument is not None:
            instrument["append_sec"] = round(_time.perf_counter() - t2, 4)

    return sink


def near_dedup_ingest_sink_indexed(
    spark,
    dst: str,
    app_id: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    instrument: dict | None = None,
):
    """Bloom-indexed near-dup ingest — the SUBLINEAR-in-history form
    of :func:`near_dedup_ingest_sink`. Same dedup rule and identical
    survivors on any feed (parity-pinned in tests/test_dedup.py);
    what changes is the per-batch probe's cost model.

    Beside the corpus it maintains ``<dst>_bandidx``, a txlog table
    of (bk = "band:key", id) rows — each survivor contributes
    ``bands`` rows at append time — with a per-file Bloom filter on
    ``bk`` (and one on the corpus id column), attached incrementally
    (``attach_bloom(missing_only=True)``: only the files the batch
    just added are scanned — batch-sized index maintenance).

    Per-batch probe: the batch's band keys (a bounded driver list,
    ≤ batch_rows × bands) go through
    :func:`stockify_spark.sources.txlog.snapshot_point_any` — pure
    driver-side bit tests against every index file's filter, then a
    Spark read of ONLY the files that might hold a colliding key.
    Matching history ids (bounded by true band collisions) are
    fetched the same way from the corpus table for exact-Jaccard
    verification. For the common ingest case — mostly-novel
    documents — every filter rejects and the probe opens ZERO data
    files: per-batch IO is bounded by the batch and the collision
    density, not the destination size. The residual linear term is
    driver-side bit-testing across index files, O(files × keys) with
    no IO; run :func:`stockify_spark.sources.txlog.maintain` with
    small-file compaction on the index table to keep the file count
    (and thus that term) bounded — freshly compacted files are
    re-bloomed by the next batch's missing_only pass.

    Exactly-once across restarts: corpus and index appends carry the
    same (app, batch-id) marker, each in its own log, so a replay
    after a crash between the two appends converges (the completed
    side no-ops, the missing side lands). The sink owns its
    destination from batch 0 — pointing it at a corpus built by the
    unindexed sink would silently skip history matching until the
    index catches up."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    idx_path = dst + "_bandidx"

    from stockify_spark.sources import txlog as _txlog

    def _jaccard_ok(sh_a: Column, sh_b: Column) -> Column:
        inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
        union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
        return (union > 0) & (inter / union >= threshold)

    def _flat_bk(frame: DataFrame, id_out: str) -> DataFrame:
        """(id, bk) with bk as the flat 'band:key' string the index
        table stores and the bloom filters key on."""
        return frame.select(
            F.col("_id").alias(id_out),
            F.explode(_band_key_structs(F.col("_sig"), bands, r)).alias("s"),
        ).select(
            id_out,
            F.concat_ws(
                ":", F.col("s.band").cast("string"), F.col("s.key")
            ).alias("bk"),
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        t0 = _time.perf_counter()
        base = batch_df.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_text"),
            shingles(text_col, k).alias("_sh"),
        ).transform(materialize)  # batch-sized; read by signature build + joins
        sigs = _signatures_from_base(base, num_hashes)
        bt = materialize(base.join(sigs, "_id"))
        # batch-sized, read by the probe join AND the index append
        b_bands = materialize(_flat_bk(bt, "_id"))
        b_sh = bt.select("_id", "_sh")
        if instrument is not None:
            instrument["signature_sec"] = round(_time.perf_counter() - t0, 4)
        t1 = _time.perf_counter()
        dropped = None
        try:
            # bounded collect: batch_rows × bands key strings
            keys = [x["bk"] for x in b_bands.select("bk").distinct().collect()]
            cand_idx = _txlog.snapshot_point_any(
                spark, idx_path, "bk", keys
            ).select("bk", "_hid")
            cand = (
                b_bands.join(cand_idx, "bk").select("_id", "_hid").distinct()
            ).transform(materialize)  # band-collision-sized
            # bounded collect: ids of truly colliding history docs
            hids = [x["_hid"] for x in cand.select("_hid").distinct().collect()]
            if hids:
                hist_cand = _txlog.snapshot_point_any(
                    spark, dst, id_col, hids
                ).select(
                    F.col(id_col).alias("_hid"),
                    shingles(text_col, k).alias("_hsh"),
                )
                dropped = (
                    cand.join(b_sh, "_id")
                    .join(hist_cand, "_hid")
                    .filter(_jaccard_ok(F.col("_sh"), F.col("_hsh")))
                    .select("_id")
                    .distinct()
                )
        except FileNotFoundError:
            pass  # tables not born yet: no history to match
        # within-batch: greedy smaller-id wins (batch-sized frames)
        bb = (
            b_bands.alias("a")
            .join(
                b_bands.select(
                    F.col("_id").alias("_idb"), F.col("bk").alias("bk")
                ).alias("b"),
                "bk",
            )
            .filter(F.col("a._id") < F.col("_idb"))
            .select(F.col("a._id").alias("_ida"), F.col("_idb").alias("_id"))
            .distinct()
            .join(
                b_sh.select(
                    F.col("_id").alias("_ida"), F.col("_sh").alias("_sha")
                ),
                "_ida",
            )
            .join(b_sh, "_id")
            .filter(_jaccard_ok(F.col("_sha"), F.col("_sh")))
            .select("_id")
            .distinct()
        )
        dropped = bb if dropped is None else dropped.unionByName(bb).distinct()
        if instrument is not None:
            dropped = materialize(dropped)
            instrument["probe_sec"] = round(_time.perf_counter() - t1, 4)
        t2 = _time.perf_counter()
        survivors = materialize(bt.join(dropped, "_id", "left_anti"))
        _txlog.append_idempotent(
            survivors.select(
                F.col("_id").alias(id_col), F.col("_text").alias(text_col), "_sig"
            ),
            dst,
            app_id,
            batch_id,
        )
        # self-index maintenance: survivors' band keys + blooms for
        # exactly the files these two appends created
        _txlog.append_idempotent(
            _flat_bk(survivors, "_hid").select("bk", "_hid"),
            idx_path,
            app_id,
            batch_id,
        )
        _txlog.attach_bloom(spark, idx_path, "bk", missing_only=True)
        _txlog.attach_bloom(spark, dst, id_col, missing_only=True)
        if instrument is not None:
            instrument["append_sec"] = round(_time.perf_counter() - t2, 4)

    return sink
