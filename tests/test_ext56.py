"""Pins for the sequential probability ratio test (queries/stats.py)."""

from __future__ import annotations

from tests.conftest import SF_SMALL

from stockify_spark.queries.stats import _C0, _C1, _LN_A, _LN_B, _THRESH


def test_sprt_stops_at_the_first_crossing_and_not_before(spark):
    """Literal step-by-step walk per type: the reported row must be
    the FIRST prefix crossing either fence, every earlier prefix
    strictly inside the continuation band."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_sprt

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    streams: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        streams.setdefault(r.event_type, []).append(
            1 if r.value > _THRESH else 0
        )
    rows = {r.event_type: r for r in stats_sprt(spark, SF_SMALL).collect()}
    for t, xs in streams.items():
        k = 0
        decided = None
        for n, x in enumerate(xs, start=1):
            k += x
            llr = k * _C1 + (n - k) * _C0
            if llr >= _LN_A or llr <= _LN_B:
                decided = (n, k, llr, "accept_h1" if llr >= _LN_A else "accept_h0")
                break
        if decided is None:
            assert t not in rows
            continue
        r = rows[t]
        n, k, llr, verdict = decided
        assert (r.n_at_decision, r.successes, r.decision) == (n, k, verdict)
        assert abs(r.llr - round(llr, 6)) < 1e-9


def test_sprt_fences_behave_on_synthetic_streams():
    """A success-heavy stream must accept H1, a failure-heavy one H0,
    and an alternating stream must survive many observations without
    deciding — the sequential property a fixed-n test lacks."""

    def walk(xs):
        k = 0
        for n, x in enumerate(xs, start=1):
            k += x
            llr = k * _C1 + (n - k) * _C0
            if llr >= _LN_A:
                return "accept_h1", n
            if llr <= _LN_B:
                return "accept_h0", n
        return "continue", len(xs)

    assert walk([1] * 40)[0] == "accept_h1"
    assert walk([0] * 40)[0] == "accept_h0"
    # balanced data drifts toward H0 at only ln(.96) per pair, so a
    # short alternating stream stays inside both fences...
    verdict, n = walk([1, 0] * 30)
    assert verdict == "continue" and n == 60
    # ...and a long one accepts H0, but needs far more samples than
    # the decisive streams — the sample-size adaptivity that is the
    # point of sequential testing
    verdict, n = walk([1, 0] * 100)
    assert verdict == "accept_h0" and n > 100
    # H1 decides faster on pure successes than H0 on pure failures
    # (|c1| < |c0| per observation, but the H1 fence is nearer in
    # drift units for p=.5 data pushed to 1)
    _, n1 = walk([1] * 40)
    assert n1 <= 17
