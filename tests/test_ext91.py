"""Round-13 wave 91: maintenance policy face (driver-query side —
the library face is tested in tests/test_txlog_maintain.py) and the
chunked-prefix-scan runs test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.queries.stats import stats_runs_test
from stockify_spark.queries.stats import stats_runs_test_chunked

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestRunsTestChunked:
    def test_parity_with_window_form(self, spark):
        """Hash-level parity: the chunked plan and the per-series
        window plan compute the identical statistic on the real
        events table."""
        a = _rows(stats_runs_test(spark, SF_SMOKE))
        b = _rows(stats_runs_test_chunked(spark, SF_SMOKE))
        assert a == b and len(a) > 0

    def test_no_per_series_window_in_plan(self, spark):
        """Every window in the chunked path partitions by (series,
        chunk) — a hot series spreads over _N_CHUNKS tasks instead of
        pinning one WindowExec buffer. The window form's plan is the
        counter-example (series-only partition)."""
        dbg: dict = {}
        stats_runs_test_chunked(spark, SF_SMOKE, _debug=dbg)
        assert set(dbg) == {"rn_frame", "vr_frame", "lag_frame"}
        for name, frame in dbg.items():
            plan = frame._jdf.queryExecution().executedPlan().toString()
            segs = plan.split("windowspecdefinition(")[1:]
            assert segs, f"{name}: window missing from plan"
            for seg in segs:
                head = seg[:160]
                assert "_ck" in head or "_vc" in head, (name, head)
        # control: the window form DOES carry a series-only window
        w_plan = (
            stats_runs_test(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert any(
            "_ck" not in seg[:160] and "_vc" not in seg[:160]
            for seg in w_plan.split("windowspecdefinition(")[1:]
        )

    def test_degenerate_constant_order_chunk(self, spark):
        """A zero-width ORDER span (every event at the same ts)
        collapses the time chunking to one bucket per series — the
        documented recursion case — and the statistic still matches
        the window form (order falls back to the event_id tie-break).
        An all-equal VALUE series is excluded by the statistic itself
        (n1 = 0 makes the variance 0 in both forms)."""
        import datetime

        rows = [
            (i, datetime.datetime(2024, 1, 1), 1, "const", float(i % 3))
            for i in range(1, 21)
        ] + [
            (100 + i, datetime.datetime(2024, 1, 1, i), 1, "ramp", float(i))
            for i in range(1, 21)
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        )
        import os
        import tempfile

        tmp = tempfile.mkdtemp(prefix="ext91_")
        ev.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        for t in (
            "region nation customer supplier part orders lineitem "
            "documents embeddings"
        ).split():
            src = os.path.join(SF_SMOKE, f"{t}.parquet")
            dst = os.path.join(tmp, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(src, dst)
        a = _rows(stats_runs_test(spark, tmp))
        b = _rows(stats_runs_test_chunked(spark, tmp))
        assert a == b
        # the constant-ts series still dichotomizes at its median
        const = [r for r in b if r[0] == "const"][0]
        assert const[1] > 0 and const[2] > 0
        # the sorted ramp has exactly 2 runs -> strongly negative z
        ramp = [r for r in b if r[0] == "ramp"][0]
        assert ramp[3] == 2 and ramp[4] < 0
