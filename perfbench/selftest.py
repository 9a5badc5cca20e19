#!/usr/bin/env python3
"""Self-tests of the benchmark's own checks, on small generated inputs.

    python3 perfbench/selftest.py

* the comparator rejects a missing row, an extra row and a double off
  by more than the tolerance, and accepts a pure summation-order
  difference (including one step of a ROUNDed column);
* the independent ``dedup_clusters`` computation agrees with the
  registry's recursive-CTE oracle (sf0.003: the CTE is quadratic);
* the txlog replay check catches a dropped commit (sf0.001, Spark).
"""

from __future__ import annotations

import math
import os
import random
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402

import compare  # noqa: E402
import datagen  # noqa: E402
import expected  # noqa: E402
import harness  # noqa: E402


def _oracle_table(sf_dir: str, name: str) -> pa.Table:
    return expected.answers(sf_dir, [name], os.path.join(sf_dir, "_answers"), harness.nproc())[name]


def test_comparator(sf_dir: str) -> None:
    rounded = compare.rounded_columns(expected.oracle_sql("groupby_q1"))
    assert rounded, "groupby_q1's oracle ROUNDs its aggregates"
    want = _oracle_table(sf_dir, "groupby_q1")
    assert compare.compare(want, want, rounded) == []
    assert compare.compare(want.slice(1), want, rounded), "missing row accepted"
    extra = pa.concat_tables([want, want.slice(0, 1)])
    assert compare.compare(extra, want, rounded), "extra row accepted"
    # shuffled rows are the same multiset
    order = list(range(want.num_rows))
    random.Random(0).shuffle(order)
    assert compare.compare(want.take(order), want, rounded) == []

    col = sorted(rounded)[0]
    step = 10.0 ** -rounded[col]
    vals = want.column(col).to_pylist()

    def with_col(values):
        i = want.column_names.index(col)
        return want.set_column(i, col, pa.array(values, pa.float64()))

    assert compare.compare(with_col([vals[0] + step] + vals[1:]), want, rounded) == [], \
        "one ROUNDed step rejected"
    assert compare.compare(with_col([vals[0] + 2.5 * step] + vals[1:]), want, rounded), \
        "a double off by 2.5 rounding steps accepted"

    # unrounded doubles: a summation-order difference passes, more does not
    rng = random.Random(1)
    xs = [rng.uniform(-1e6, 1e6) for _ in range(200_000)]
    fwd, rev = sum(xs), sum(reversed(xs))
    exact = math.fsum(xs)
    assert fwd != rev or fwd != exact, "expected the orders to differ in the last bits"
    t1 = pa.table({"k": [1], "s": [fwd]})
    t2 = pa.table({"k": [1], "s": [rev]})
    assert compare.compare(t1, t2) == [], "summation-order difference rejected"
    off = pa.table({"k": [1], "s": [fwd * (1 + 1e-6)]})
    assert compare.compare(off, t2), "a 1e-6 relative error accepted"
    # tied exact keys whose float noise sorts the two sides differently
    got = pa.table({"k": [1, 1], "a": [1.0, 1.0 + 1e-13], "b": [5.0, 3.0]})
    ref = pa.table({"k": [1, 1], "a": [1.0 + 1e-13, 1.0], "b": [5.0, 3.0]})
    assert compare.compare(got, ref) == [], "reordered float-noise rows rejected"
    print("ok comparator: missing row, extra row, off-tolerance double rejected; "
          "summation order, one ROUND step and tie reordering accepted")


def test_dedup_clusters(sf_dir: str) -> None:
    import duckdb

    mine = expected.dedup_clusters_answer(sf_dir)
    con = duckdb.connect()
    con.execute(f"SET threads TO {harness.nproc()}")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    oracle = con.execute(expected.oracle_sql("dedup_clusters")).arrow()
    if isinstance(oracle, pa.RecordBatchReader):
        oracle = oracle.read_all()
    assert mine.num_rows > 0
    assert compare.compare(mine, oracle) == [], compare.compare(mine, oracle)
    print(f"ok dedup_clusters: independent answer equals the recursive-CTE oracle "
          f"({mine.num_rows} rows)")


def test_txlog_dropped_commit(sf_dir: str) -> None:
    import workloads

    class DropsOneCommit(workloads.TxlogIngest):
        def _commit(self, kind, batch, op):
            if kind == "append" and not getattr(self, "dropped", False):
                self.dropped = True
                return self.txlog.current_version(self.path), 0.0
            return super()._commit(kind, batch, op)

    class Ctx:
        pass

    rd = harness.RunDir()
    ctx = Ctx()
    ctx.seed, ctx.run, ctx.tracer, ctx.cpus, ctx.sf_dir = 7, rd, None, rd.cpus, sf_dir
    spark = None
    try:
        import stockify_spark.registry  # noqa: F401

        spark = harness.start_session(rd, event_log=False)
        for cls, should_fail in ((workloads.TxlogIngest, False), (DropsOneCommit, True)):
            wl = cls(ctx)
            wl.prepare()
            wl.setup(spark)
            out = workloads.Outcome()
            wl.run_pass(0, out, timed=False)
            wl.finish(out)
            assert out.failed == 0
            assert bool(out.problems) == should_fail, (cls.__name__, out.problems)
            import shutil

            shutil.rmtree(wl.path)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        rd.close()
    print("ok txlog replay: a clean pass checks out, a dropped commit is caught")


def main() -> int:
    with tempfile.TemporaryDirectory(dir=harness.WORK if os.path.isdir(harness.WORK) else None) as tmp:
        dirs = {sf: os.path.join(tmp, f"sf{sf}") for sf in (0.01, 0.003, 0.001)}
        for sf, d in dirs.items():
            datagen.ensure(d, sf)
        sys.path.insert(0, harness.ROOT)
        test_comparator(dirs[0.01])
        test_dedup_clusters(dirs[0.003])
        test_txlog_dropped_commit(dirs[0.001])
    print("selftest: all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
