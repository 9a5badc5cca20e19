"""Pins for the round-13 reliability wave (queries/stats.py)."""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMOKE


def _blocks(spark):
    from stockify_spark.registry import _t

    cell = defaultdict(lambda: defaultdict(list))
    for r in (
        _t(spark, SF_SMOKE, "events")
        .select("user_id", "event_type", "value")
        .collect()
    ):
        cell[r.user_id][r.event_type].append(r.value)
    return {
        u: {t: sum(v) / len(v) for t, v in d.items()}
        for u, d in cell.items()
        if len(d) == 5
    }


def _var(xs):
    m = sum(xs) / len(xs)
    return sum((x - m) ** 2 for x in xs) / len(xs)


def test_cronbach_alpha_matches_python_and_variance_identity(spark):
    from stockify_spark.queries.stats import stats_cronbach_alpha

    blocks = _blocks(spark)
    types = sorted(next(iter(blocks.values())))
    items = {t: [b[t] for b in blocks.values()] for t in types}
    sv = sum(_var(v) for v in items.values())
    vt = _var([sum(b.values()) for b in blocks.values()])
    alpha = 5 / 4 * (1 - sv / vt)
    got = stats_cronbach_alpha(spark, SF_SMOKE).collect()[0]
    assert got.k_items == 5
    assert abs(got.cronbach_alpha - alpha) < 1e-5
    assert abs(got.sum_item_var - sv) < 1e-3
    assert abs(got.total_var - vt) < 1e-3
    # variance identity: vt = Σvar_i + 2·Σcov pairs ⇒ alpha > 0 iff
    # the items positively covary on net
    cov_net = (vt - sv) / 2
    assert (got.cronbach_alpha > 0) == (cov_net > 0)


def test_icc_matches_anova_decomposition(spark):
    from stockify_spark.queries.stats import stats_icc

    blocks = _blocks(spark)
    n, k = len(blocks), 5
    gm = sum(sum(b.values()) for b in blocks.values()) / (n * k)
    bms = {u: sum(b.values()) / k for u, b in blocks.items()}
    msb = k * sum((bm - gm) ** 2 for bm in bms.values()) / (n - 1)
    ssw = sum(
        (x - bms[u]) ** 2 for u, b in blocks.items() for x in b.values()
    )
    msw = ssw / (n * (k - 1))
    icc = (msb - msw) / (msb + (k - 1) * msw)
    got = stats_icc(spark, SF_SMOKE).collect()[0]
    assert got.n_subjects == n
    assert abs(got.ms_between - msb) < 1e-3
    assert abs(got.ms_within - msw) < 1e-3
    assert abs(got.icc1 - icc) < 1e-5
    assert -1 / (k - 1) - 1e-9 <= got.icc1 <= 1  # ICC(1) range
