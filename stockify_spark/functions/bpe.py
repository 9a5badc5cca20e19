"""Distributed BPE merge learning (tokenizer training).

The classic byte-pair-encoding training loop (Sennrich et al. 2016,
public algorithm): represent each distinct word as a sequence of
symbols (initially characters), repeatedly find the most frequent
adjacent symbol pair weighted by word frequency, and merge it
everywhere. The reference engine has no tokenizer surface; this is
part of the training-data-pipeline extension (SURVEY §2 LLM ops).

Spark-first shape: the word-frequency table is the distributed state.
Each step is ONE shuffle (groupBy on the symbol pair) over the
exploded adjacent-pair stream plus a map-side literal replace; the
argmax is a single-row bounded collect (the learned merge IS driver
state — it becomes part of the tokenizer model, exactly like the
seed centroids in llm/similarity.py). At 100 TB the word table is
the distinct-vocabulary aggregate (millions of rows, not the corpus),
so per-step cost is proportional to vocabulary, not corpus size.

Symbol-sequence encoding: each symbol ``x`` is wrapped as ``,x,`` and
wrapped symbols are concatenated, so a word's state is a string like
``,l,,o,,w,``. A pair merge is then the literal left-to-right
replace of ``,l,,o,`` + ``,`` — adjacent merge sites share no
characters in this encoding, so standard non-overlapping replace
applies every left-to-right merge exactly as serial BPE does (and
identically in Spark and DuckDB, which is what makes the oracle an
exact cross-engine check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockify_spark.functions.scale import materialize


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-word frequency table: the BPE training input."""
    return (
        docs.select(F.explode(F.split(F.lower(text_col), " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$") & F.length("word").between(2, 12))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# Vocabulary-size gate for the executor-resident fold below: under
# this many distinct words, every merge round runs in ONE single-task
# pass instead of one shuffle + one driver collect per round. 200k
# words x ~8 symbols x a handful of rounds is a few million Counter
# increments — well under a second in one task — while the corpus-
# sized work (word_frequencies' tokenize + count shuffle) has already
# happened distributed. Larger vocabularies take the per-round
# distributed loop, whose cost is independent of corpus size too.
_LOCAL_VOCAB_LIMIT = 200_000


def _fold_rounds_local(pdf, rounds: int, batch: int):
    """Run the batched-BPE recurrence on an in-memory vocabulary.

    Exactly the distributed selection rule: per round, rank pairs by
    (count DESC, lhs, rhs), keep the conservative independent set of
    the top ``batch``, apply the kept replaces in rank order (pandas
    ``str.replace`` is Python ``str.replace`` — the same left-to-right
    non-overlapping scan as Spark's ``F.replace``). Tie-break order is
    codepoint order on both sides for the [a-z]+ vocabulary this
    module's callers feed it. Returns [(round, rn, lhs, rhs, cnt)].
    """
    from collections import Counter

    out: list[tuple[int, int, str, str, int]] = []
    s = pdf["s"]
    cnt = pdf["cnt"].tolist()
    for rnd in range(1, rounds + 1):
        syms = s.str.slice(1, -1).str.split(",,").tolist()
        counts: Counter = Counter()
        for symlist, k in zip(syms, cnt):
            for i in range(len(symlist) - 1):
                counts[(symlist[i], symlist[i + 1])] += k
        if not counts:
            break
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:batch]
        selected = [
            (rn, l, r, c)
            for rn, ((l, r), c) in enumerate(top, start=1)
            if all(
                l not in (pl, pr) and r not in (pl, pr)
                for (pl, pr), _ in top[: rn - 1]
            )
        ]
        for rn, l, r, c in selected:
            out.append((rnd, rn, l, r, int(c)))
            s = s.str.replace(f",{l},,{r},", f",{l}{r},", regex=False)
    return out


def _encoded(words: DataFrame) -> DataFrame:
    """(word, cnt) → the separator-encoded (s, cnt) training frame."""
    return words.select(
        F.regexp_replace("word", "(.)", ",$1,").alias("s"), "cnt"
    )


def bpe_learn(
    spark: SparkSession,
    words: DataFrame,
    steps: int = 4,
    local_vocab_limit: int = _LOCAL_VOCAB_LIMIT,
) -> DataFrame:
    """Learn ``steps`` BPE merges; returns (step, lhs, rhs, pair_cnt).

    Deterministic: ties broken by (count desc, lhs asc, rhs asc), so
    the learned merge table is exactly reproducible cross-engine.
    """
    enc = materialize(_encoded(words))
    if enc.count() <= local_vocab_limit:
        # model-sized vocabulary: all steps in one executor pass
        # (serial BPE == the batched recurrence with batch=1: one
        # merge per round, recount between merges)
        n_steps = steps

        def _fold(batches):
            import pandas as pd

            # an empty coalesced partition yields ZERO Arrow batches —
            # pd.concat([]) raises, so materialize first and treat
            # no-batches as the empty word table
            parts = list(batches)
            pdf = pd.concat(parts, ignore_index=True) if parts else None
            rows = (
                []
                if pdf is None or pdf.empty
                else _fold_rounds_local(pdf, n_steps, 1)
            )
            yield pd.DataFrame(
                {
                    "step": pd.Series([r[0] for r in rows], dtype="int64"),
                    "lhs": pd.Series([r[2] for r in rows], dtype="object"),
                    "rhs": pd.Series([r[3] for r in rows], dtype="object"),
                    "pair_cnt": pd.Series([r[4] for r in rows], dtype="int64"),
                }
            )

        return enc.coalesce(1).mapInPandas(
            _fold, schema="step long, lhs string, rhs string, pair_cnt long"
        )

    base = enc
    sdf = base
    # the frame sdf was derived from; its cache may only be dropped
    # AFTER a job has materialized sdf's own cache (else dropping it
    # forces the whole replace chain to recompute from source — the
    # O(steps^2) string-pass trap a lazily-chained replace falls into)
    releasable: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
    try:
        for step in range(1, steps + 1):
            syms = F.split(F.expr("substring(s, 2, length(s)-2)"), ",,")
            t = sdf.select(syms.alias("syms"), "cnt")
            # adjacent pairs: zip the sequence against itself shifted
            # by one — both slices clamp to empty for 1-symbol words
            pairs = F.zip_with(
                F.slice("syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
            pair_counts = (
                t.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy("p.l", "p.r")
                .agg(F.sum("cnt").alias("c"))
            )
            top = pair_counts.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
            # ^ this job just materialized sdf's persisted blocks, so
            # the predecessor's cache is now dead weight — release it
            if releasable is not None:
                releasable.unpersist()
                releasable = None
            if not top:
                break
            best = top[0]
            merges.append((step, best["l"], best["r"], int(best["c"])))
            pat = f",{best['l']},,{best['r']},"
            rep = f",{best['l']}{best['r']},"
            # persist each step's replaced frame (lazily — the next
            # step's pair-count job warms it while reading the
            # predecessor's cache, so per-step cost stays ONE narrow
            # replace over cached blocks + one shuffle, independent
            # of step number; keeping at most two step caches live)
            nxt = sdf.select(
                F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"), "cnt"
            ).persist()
            releasable = sdf
            sdf = nxt
    finally:
        # base is materialized (ContextCleaner reclaims its blocks on
        # GC); only the per-step replace-chain persists are
        # releasable here
        if releasable is not None and releasable is not base:
            releasable.unpersist()
        if sdf is not base:
            sdf.unpersist()
    return spark.createDataFrame(
        merges, "step long, lhs string, rhs string, pair_cnt long"
    )


def _no_symbol_overlap(higher: list, row) -> bool:
    """True iff ``row``'s pair shares no symbol with any pair in
    ``higher`` — the batched-selection independence rule."""
    return all(
        row["l"] not in (p["l"], p["r"]) and row["r"] not in (p["l"], p["r"])
        for p in higher
    )


def bpe_learn_batched(
    spark: SparkSession,
    words: DataFrame,
    rounds: int = 3,
    batch: int = 8,
    local_vocab_limit: int = _LOCAL_VOCAB_LIMIT,
) -> DataFrame:
    """BPE merge learning with BATCHED merge selection — the scale
    path. Returns (round, rn, lhs, rhs, pair_cnt).

    :func:`bpe_learn` is serial-exact but pays one pair-count shuffle
    AND one driver round-trip PER MERGE — a 30k-merge production
    vocabulary would be 30k Spark jobs, a driver-side scale ceiling.
    Here each ROUND does one pair-count shuffle and one bounded
    ``batch``-row collect, then applies every merge in the round's
    independent set in a single map pass — ~|selected| merges per
    driver round-trip.

    Selection rule (deterministic, SQL-expressible): rank the round's
    pairs by (count DESC, lhs, rhs); keep rank r iff it shares NO
    symbol with ANY higher-ranked pair among the round's top
    ``batch`` (conservative independent set — pairs conflicting with
    an excluded pair are themselves excluded, which keeps the rule a
    per-row predicate instead of a sequential greedy scan). Within a
    round the selected patterns are pairwise symbol-disjoint, so the
    rank-order replace chain equals simultaneous application.

    DOCUMENTED DIVERGENCE from serial BPE: serial recounts after
    every merge, so a symbol created by merge k can participate in
    merge k+1 and interacting same-round pairs are re-ranked; the
    batched schedule defers both to the next round. ``batch=1``
    degenerates to exactly the serial algorithm (property-tested).
    This is the standard throughput trade of production tokenizer
    trainers; the learned vocabulary differs only in merge ORDER for
    pairs whose counts interleave within a round.
    """
    enc = materialize(_encoded(words))
    if enc.count() <= local_vocab_limit:
        # model-sized vocabulary: every round's count/select/apply in
        # one executor pass — the per-round shuffle + driver collect
        # of the loop below priced ~a job floor per round at MB scale
        n_rounds, n_batch = rounds, batch

        def _fold(batches):
            import pandas as pd

            # zero Arrow batches on an empty partition (see bpe_learn)
            parts = list(batches)
            pdf = pd.concat(parts, ignore_index=True) if parts else None
            rows = (
                []
                if pdf is None or pdf.empty
                else _fold_rounds_local(pdf, n_rounds, n_batch)
            )
            yield pd.DataFrame(
                {
                    "round": pd.Series([r[0] for r in rows], dtype="int64"),
                    "rn": pd.Series([r[1] for r in rows], dtype="int64"),
                    "lhs": pd.Series([r[2] for r in rows], dtype="object"),
                    "rhs": pd.Series([r[3] for r in rows], dtype="object"),
                    "pair_cnt": pd.Series([r[4] for r in rows], dtype="int64"),
                }
            )

        return enc.coalesce(1).mapInPandas(
            _fold,
            schema="round long, rn long, lhs string, rhs string, pair_cnt long",
        )

    base = enc
    sdf = base
    releasable: DataFrame | None = None  # see bpe_learn: drop only after successor job
    out: list[tuple[int, int, str, str, int]] = []
    try:
        for rnd in range(1, rounds + 1):
            syms = F.split(F.expr("substring(s, 2, length(s)-2)"), ",,")
            t = sdf.select(syms.alias("syms"), "cnt")
            pairs = F.zip_with(
                F.slice("syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
            top = (
                t.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy("p.l", "p.r")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), "l", "r")
                .limit(batch)
                .collect()
            )  # bounded: batch rows of model state per round
            # the top-k job materialized sdf's cache — predecessor
            # round's cache is now droppable
            if releasable is not None:
                releasable.unpersist()
                releasable = None
            if not top:
                break
            selected = [
                (rn, row)
                for rn, row in enumerate(top, start=1)
                if _no_symbol_overlap(top[: rn - 1], row)
            ]
            # rank 1 is always independent, so every non-empty round
            # makes progress
            nxt = sdf
            for rn, row in selected:
                out.append((rnd, rn, row["l"], row["r"], int(row["c"])))
                pat = f",{row['l']},,{row['r']},"
                rep = f",{row['l']}{row['r']},"
                nxt = nxt.select(
                    F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"), "cnt"
                )
            # one persist per ROUND (the round's <= batch replaces are
            # a single fused map stage): next round's top-k reads this
            # cache instead of re-running every prior round's chain
            nxt = nxt.persist()
            releasable = sdf
            sdf = nxt
    finally:
        # base is materialized (see bpe_learn) — only the
        # per-round replace-chain persists are releasable here
        if releasable is not None and releasable is not base:
            releasable.unpersist()
        if sdf is not base:
            sdf.unpersist()
    return spark.createDataFrame(
        out, "round long, rn long, lhs string, rhs string, pair_cnt long"
    )
