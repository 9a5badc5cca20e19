"""Near-duplicate detection: exact, MinHash-LSH, SimHash, substring and
clustered deduplication over the document corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.llm.dedup import exact_dedup, ngram_jaccard_pairs
from stockify_spark.queries.ml import _pca_front
from stockify_spark.queries.text import _TOKS_SQL
from stockify_spark.registry import register, _t


@register(
    "dedup_exact",
    "SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,"
    " MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies FROM documents GROUP BY 1",
)
def dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS_SQL}) - 3, 0) + 1),"
    f" i -> array_to_string({_TOKS_SQL}[i + 1:i + 3], ' ')))"
)


@register(
    "dedup_ngram_jaccard",
    f"WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    " ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard"
    " FROM s a JOIN s b ON a.doc_id < b.doc_id"
    " WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.5 via inverted-index join; the
    oracle brute-forces all pairs, proving candidate recall is 1.0."""
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", k=3, threshold=0.5)


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 16) -> str:
    """ANSI-SQL reproduction of minhash_lsh_pairs_seeded: the same
    (a_i, b_i) constants, the same md5-prefix base hash, the same
    band keys and exact-Jaccard verification — so the driver
    hash-checks which pairs band-collide AND verify."""
    from stockify_spark.llm.dedup import MINHASH_P, minhash_seed_constants

    a, b = minhash_seed_constants(num_hashes)
    r = num_hashes // bands
    mins = ", ".join(
        f"MIN(({a[i]} * hv + {b[i]}) % {MINHASH_P}) AS h{i}" for i in range(num_hashes)
    )
    bands_sql = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, CONCAT({key}) AS band_key FROM sig".format(
            b=bb,
            key=", ',', ".join(f"h{bb * r + j}" for j in range(r)),
        )
        for bb in range(bands)
    )
    return (
        f"WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),"
        " inv AS (SELECT doc_id, unnest(sh) AS tok FROM s),"
        " m AS (SELECT doc_id, CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT)"
        f" % {MINHASH_P} AS hv FROM inv),"
        f" sig AS (SELECT doc_id, {mins} FROM m GROUP BY doc_id),"
        f" bands AS ({bands_sql}),"
        " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a"
        " JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key"
        " AND a.doc_id < b.doc_id)"
        " SELECT id_a, id_b,"
        " ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard"
        " FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b"
        " WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5",
    )[0]


@register("dedup_minhash_lsh", _minhash_oracle_sql())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs, deterministic cross-engine hash
    family (md5-prefix base + seeded linear permutations): the LSH
    banding semantics are hash-exact-checked against the SQL oracle.
    The xxhash64-based minhash_lsh_pairs stays the library fast path;
    its banding recall vs exact Jaccard is pinned in tests."""
    from stockify_spark.llm.dedup import minhash_lsh_pairs_seeded

    return minhash_lsh_pairs_seeded(
        _t(spark, sf_dir, "documents"), "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.5
    )


def _simhash_oracle_sql(n_bits: int = 60, n_bands: int = 4, max_hamming: int = 10) -> str:
    """ANSI-SQL reproduction of simhash_near_dup_pairs_seeded: 60-bit
    md5-prefix token hashes, per-bit ±1 majority, 15-bit pigeonhole
    bands, bit_count(xor) verification — all integer arithmetic, so
    the comparison is hash-exact."""
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    accs = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS a{b}"
        for b in range(n_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN a{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(n_bits)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS band_id, (sig >> {c * band_bits}) & {mask} AS band_val FROM sig"
        for c in range(n_bands)
    )
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),"
        " '\\s+')) AS tok FROM documents),"
        " m AS (SELECT doc_id, CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT)"
        " AS hv FROM toks),"
        f" acc AS (SELECT doc_id, {accs} FROM m GROUP BY doc_id),"
        f" sig AS (SELECT doc_id, {sig} AS sig FROM acc),"
        f" bands AS ({bands}),"
        " cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,"
        " a.sig AS sig_a, b.sig AS sig_b FROM bands a"
        " JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val"
        " AND a.doc_id < b.doc_id)"
        " SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming"
        f" FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}"
    )


@register("dedup_simhash", _simhash_oracle_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, SQL-expressible 60-bit md5-prefix
    signature: banding and hamming verification are hash-exact-
    checked against the oracle (llm/dedup.simhash_near_dup_pairs_
    seeded — pure column expressions). The vectorized blake2b
    simhash stays the library fast path, bit-exactness vs its scalar
    reference pinned in tests."""
    from stockify_spark.llm.dedup import simhash_near_dup_pairs_seeded

    return simhash_near_dup_pairs_seeded(
        _t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=10
    )


_CLUSTER_SHINGLES = (
    "list_distinct(list_transform(range(greatest("
    "len(string_split_regex(trim(lower(text)), '\\s+')) - 3, 0) + 1),"
    " i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i + 1:i + 3], ' ')))"
)


@register(
    "dedup_clusters",
    # near-dup pairs (brute-force jaccard) → transitive closure via a
    # recursive CTE: min reachable doc_id = component representative
    f"WITH RECURSIVE s AS (SELECT doc_id, {_CLUSTER_SHINGLES} AS sh FROM documents),"
    " pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a JOIN s b"
    " ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),"
    " edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
    " UNION ALL SELECT id_b, id_a FROM pairs),"
    " reach(node, lab) AS (SELECT src, src FROM edges"
    " UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)"
    " SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node",
)
def dedup_clusters(spark, sf_dir):
    """Near-duplicate clusters: jaccard>=0.5 pair edges → connected
    components (llm/dedup.connected_components, iterative min-label
    propagation). The oracle computes the same transitive closure
    with a recursive CTE, so the graph algorithm's fixpoint is
    differentially verified."""
    from stockify_spark.llm.dedup import duplicate_clusters

    return duplicate_clusters(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_embedding_clusters",
    # bucketed near-dup pairs (same deterministic IVF spec as
    # sim_embedding_dup) → transitive closure via a recursive CTE
    "WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS cvec"
    " FROM embeddings WHERE vec_id < 16),"
    " s AS (SELECT vec_id, embedding, cid,"
    " ROW_NUMBER() OVER (PARTITION BY vec_id"
    " ORDER BY list_cosine_similarity(embedding, cvec) DESC, cid) AS rnk"
    " FROM embeddings CROSS JOIN c),"
    " pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b"
    " FROM (SELECT vec_id, embedding, cid FROM s WHERE rnk <= 3) a"
    " JOIN (SELECT vec_id, embedding, cid FROM s WHERE rnk <= 3) b"
    " ON a.cid = b.cid AND a.vec_id < b.vec_id"
    " WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),"
    " edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
    " UNION ALL SELECT id_b, id_a FROM pairs),"
    " reach(node, lab) AS (SELECT src, src FROM edges"
    " UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)"
    " SELECT node AS vec_id, MIN(lab) AS component FROM reach GROUP BY node",
)
def dedup_embedding_clusters(spark, sf_dir):
    """Embedding near-duplicate CLUSTERS (SemDeDup shape): bucketed
    IVF candidate pairs → connected components, so each duplicate
    group keeps one representative. The same Pregel-lite min-label
    propagation as dedup_clusters, differentially verified against
    the recursive-CTE transitive closure over the identical
    deterministic pair spec."""
    from stockify_spark.llm.dedup import connected_components
    from stockify_spark.llm.similarity import embedding_dup_pairs_bucketed

    emb = _t(spark, sf_dir, "embeddings")
    edges = embedding_dup_pairs_bucketed(emb, threshold=0.4, n_centroids=16, n_probe=3)
    return connected_components(edges).select(
        F.col("node").alias("vec_id"), "component"
    )


# ---------------------------------------------------------------------------
# Exact substring dedup — Lee et al. 2022 (r9 verdict #3): maximal
# >= L-token verbatim-repeated spans, the spans that paper removes
# from training corpora. See llm/dedup.repeated_substring_spans for
# the covering-window re-expression of the paper's suffix array.
# ---------------------------------------------------------------------------
_SUBSTR_L = 15  # span threshold; the paper uses 50 on web-scale text


_SUBSTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_SUBSTR_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_SUBSTR_L} + 2, 1))) AS i)),
dup AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) > 1),
hits AS (SELECT wins.doc_id, wins.sp FROM wins JOIN dup USING (w)),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_SUBSTR_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags)
SELECT doc_id,
       CAST(MIN(sp) AS BIGINT) AS span_start,
       CAST(MAX(sp) + {_SUBSTR_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(sp) + {_SUBSTR_L - 1} - MIN(sp) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


@register("dedup_substring_exact", _SUBSTR_SQL)
def dedup_substring_exact(spark, sf_dir):
    """Every maximal span covered by a verbatim >= 15-token repeat
    anywhere in the documents corpus, 1-based token positions — the
    exact-substring dedup output (the family's final member beyond
    shingle/containment granularity). The oracle recomputes the
    identical span set through DuckDB list/window functions.

    Scale shape: linear in corpus tokens — map-side window
    construction, ONE shuffle keyed on the window text for the
    occurrence count (at 100 TB, keyed on xxhash64 with ids only),
    one doc-keyed shuffle for the interval merge."""
    from stockify_spark.llm.dedup import repeated_substring_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, "text", "doc_id", _SUBSTR_L)


# ---------------------------------------------------------------------------
# Exact substring dedup, APPLIED — the corpus Lee et al. actually
# ship: every covered token cut, per-doc removal accounting.
# ---------------------------------------------------------------------------
_SUBSTR_APPLY_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_SUBSTR_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_SUBSTR_L} + 2, 1))) AS i)),
dup AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) > 1),
hits AS (SELECT wins.doc_id, wins.sp FROM wins JOIN dup USING (w)),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_SUBSTR_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp, SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags),
spans AS (
  SELECT doc_id, MIN(sp) AS s, MAX(sp) + {_SUBSTR_L - 1} AS e
  FROM grp GROUP BY doc_id, gid),
tok AS (
  SELECT doc_id, i AS pos, t[i] AS tk
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
kept AS (
  SELECT k.doc_id, k.pos, k.tk
  FROM tok k LEFT JOIN spans s
    ON k.doc_id = s.doc_id AND k.pos BETWEEN s.s AND s.e
  WHERE s.doc_id IS NULL),
agg AS (
  SELECT doc_id,
         string_agg(tk, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT toks.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(len(toks.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept
FROM toks LEFT JOIN agg a USING (doc_id)
"""


@register("dedup_substring_apply", _SUBSTR_APPLY_SQL)
def dedup_substring_apply(spark, sf_dir):
    """Cut every token covered by a corpus-repeated >= 15-token span
    out of every document — the deduplicated-corpus output of the
    exact-substring method, with per-doc removal accounting. The
    oracle rebuilds every cleaned text token-by-token through the
    independent span derivation, so an off-by-one at either span
    edge changes clean_text and fails the value hash.

    Scale shape: the span detector's two linear shuffles + one join
    of the span table (rows = spans << corpus) + a map-side JVM
    higher-order cut; no Python, no explode of the token stream."""
    from stockify_spark.llm.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, "text", "doc_id", _SUBSTR_L)


def _pca_blocking_oracle(k: int, iters: int, width: float) -> str:
    allr = " UNION ALL ".join(
        f"SELECT {c} AS comp, i, r FROM r{c}_{iters}" for c in range(1, k + 1)
    )
    pcols = ", ".join(
        f"MAX(CASE WHEN comp = {c} THEN p END) AS p{c}" for c in range(1, k + 1)
    )
    bcols = ", ".join(f"FLOOR(p{c} / {width!r}) AS b{c}" for c in range(1, k + 1))
    on = " AND ".join(f"a.b{c} = b.b{c}" for c in range(1, k + 1))
    d2 = " + ".join(f"(a.p{c} - b.p{c}) * (a.p{c} - b.p{c})" for c in range(1, k + 1))
    return _pca_front(iters, k) + f""",
allr AS MATERIALIZED ({allr}),
doc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS MATERIALIZED (SELECT d.vec_id, rc.comp,
                ROUND(SUM((d.v[u.i] - mu.m) * rc.r), 6) AS p
         FROM doc d,
              LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
         JOIN mu ON mu.i = u.i
         JOIN allr rc ON rc.i = u.i
         GROUP BY d.vec_id, rc.comp),
cells AS MATERIALIZED (
  SELECT vec_id, {pcols} FROM proj GROUP BY vec_id),
blk AS MATERIALIZED (SELECT vec_id, {', '.join(f'p{c}' for c in range(1, k + 1))},
  {bcols} FROM cells)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({d2}, 9) AS dist2
FROM blk a JOIN blk b ON {on} AND a.vec_id < b.vec_id"""


@register("dedup_pca_blocking", _pca_blocking_oracle(3, 8, 1.0))
def dedup_pca_blocking(spark, sf_dir):
    """SemDeDup-style blocking in PCA-reduced space
    (llm/pca.pca_block_pairs): candidate near-dup pairs from shared
    grid cells over the top-3 ROUND(6) projections (cell width a
    power of two → exact division), with the exact reduced-space
    squared distance attached — the cheap pre-filter that bounds
    which pairs ever see a full-dimension verify. One map-side
    projection + one equi-join on the cell key; cost tracks
    colliding pairs, never n². The oracle re-derives loadings,
    projections, cells, and distances independently and hash-matches
    every pair and distance."""
    from stockify_spark.llm.pca import pca_block_pairs

    return pca_block_pairs(
        _t(spark, sf_dir, "embeddings"), k=3, iters=8, width=1.0
    )


# ---------------------------------------------------------------------------
# dedup_substring_keepone — the keep-one variant of exact substring
# dedup: cut every occurrence of a corpus-repeated span EXCEPT those
# in the lowest-doc_id document containing it (Lee et al. 2022 deploy
# the remove-all form; keep-one is the deterministic post-filter the
# remove_repeated_spans docstring promises composes on top).
# ---------------------------------------------------------------------------
_KEEPONE_L = 15  # matches dedup_substring_exact's test-scale threshold


_KEEPONE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_KEEPONE_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_KEEPONE_L} + 2, 1))) AS i)),
keep AS (SELECT w, MIN(doc_id) AS keeper FROM wins
         GROUP BY w HAVING COUNT(*) > 1),
hits AS (SELECT wins.doc_id, wins.sp FROM wins JOIN keep USING (w)
         WHERE wins.doc_id <> keep.keeper),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_KEEPONE_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags)
SELECT doc_id,
       CAST(MIN(sp) AS BIGINT) AS span_start,
       CAST(MAX(sp) + {_KEEPONE_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(sp) + {_KEEPONE_L - 1} - MIN(sp) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


@register("dedup_substring_keepone", _KEEPONE_SQL)
def dedup_substring_keepone(spark, sf_dir):
    """Keep-one exact substring dedup: the spans to cut when the
    occurrences living in the LOWEST doc_id per repeated window are
    retained — every occurrence in any other document is removed
    (the per-document keeper rule; Lee et al. 2022 §4 discuss
    retaining one copy of each duplicate). Composition of
    :func:`stockify_spark.llm.dedup.repeated_substring_spans`'s
    verified window stream with a per-window min-keeper rule
    (deterministic, so the output is an exact cross-engine set).

    Scale shape: identical to the remove-all form (hash-keyed
    exchanges, skew-safe groupBy counts) plus ONE more model-shaped
    aggregate — min(doc) per verified window text, joined back on
    the window's (text) key; the keeper table is bounded by the
    duplicated vocabulary, not the corpus. The oracle re-derives
    windows, repeats, keepers, and the interval merge in SQL."""
    from stockify_spark.llm.dedup import keepone_substring_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return keepone_substring_spans(docs, "text", "doc_id", _KEEPONE_L)
