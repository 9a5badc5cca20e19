#!/usr/bin/env python3
"""Closed-loop benchmark of the stockify_spark engine.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 8 --trace 0

Run from the repo root. One client on ``local[nproc]`` issues one
operation at a time. The run generates its inputs, computes expected
answers apart from the engine (once per input-file version, outside
every timed span), starts the session and does one untimed warm-up
pass (together: ``setup_s``), then does whole passes, at least the
workload's ``min_passes``, until ``--seconds`` of operation time is
measured, checking every answer.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run is traced (see ``trace.py``) and the metrics are
the per-layer ones. A line before it records the load canary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, WORK  # noqa: E402

SF = 0.1
# (name, unit): end-to-end metrics of an untraced run
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("query_geomean_s", "s"),
)
# (name, unit): per-layer metrics of a traced run, per timed pass unless
# the name says warm-up or the figure is an end state
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("sources.io.load_table_calls", "count"),
    ("sources.io.load_table_s", "s"),
    ("sources.io.load_table_jobs", "count"),
    ("warmup.sources.io.load_table_calls", "count"),
    ("warmup.sources.io.load_table_s", "s"),
    ("warmup.sources.io.load_table_jobs", "count"),
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.action_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("sources.txlog.append_s", "s"),
    ("sources.txlog.merge_upsert_s", "s"),
    ("sources.txlog.delete_where_s", "s"),
    ("sources.txlog.snapshot_s", "s"),
    ("sources.txlog.live_files_s", "s"),
    ("sources.txlog.maintain_s", "s"),
    ("sources.txlog.bytes_written", "B"),
    ("sources.txlog.commits_since_checkpoint", "count"),
    ("sources.txlog.files_live", "count"),
    ("sources.txlog.rows_committed_per_s", "rows/s"),
    ("sources.txlog.commit_p50_s", "s"),
    ("sources.txlog.read_p50_s", "s"),
    ("sources.txlog.stored_bytes_per_row", "B"),
)


class Context:
    def __init__(self, seed, run, tracer, sf_dir):
        self.seed = seed
        self.run = run
        self.tracer = tracer
        self.cpus = run.cpus
        self.sf_dir = sf_dir
        self.answer_dir = None


def layer_metrics(tracer, wl, out, passes: int) -> dict[str, float]:
    vals = {}
    for name, _ in PER_LAYER:
        if name.startswith("warmup."):
            vals[name] = tracer.scoped("warmup", name[len("warmup."):])
        elif name == "session.get_spark_s":
            vals[name] = tracer.scoped("setup", name)
        else:
            vals[name] = tracer.scoped("timed", name, passes)
    vals.update(wl.extra_layers(out))
    return vals


def run(args) -> dict:
    import datagen
    import harness
    import trace
    import workloads

    rd = harness.RunDir()
    tracer = trace.Tracer() if args.trace else None
    ctx = Context(args.seed, rd, tracer, rd.sub("data"))
    spark = None
    try:
        t = time.perf_counter()
        fingerprint = datagen.ensure(ctx.sf_dir, SF)  # input generation
        setup_parts = {"inputs_s": time.perf_counter() - t}
        ctx.answer_dir = os.path.join(WORK, "expected", fingerprint)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.prepare()  # expected answers: untimed, before Spark starts

        t = time.perf_counter()
        import stockify_spark.registry  # noqa: F401  (registers every query)

        if tracer:
            trace.install(tracer)
        spark = harness.start_session(rd, event_log=bool(tracer))
        setup_parts["session_s"] = time.perf_counter() - t
        if tracer:
            tracer.bind(spark)
        t = time.perf_counter()
        wl.setup(spark)
        setup_parts["workload_setup_s"] = time.perf_counter() - t
        if tracer:
            tracer.scope = "warmup"
        warm = workloads.Outcome()
        wl.run_pass(0, warm, timed=False)
        setup_parts["warmup_s"] = warm.measured_s
        setup_s = sum(setup_parts.values())

        if tracer:
            tracer.scope = "timed"
        out = workloads.Outcome()
        passes, t_start, pass_s = 0, time.perf_counter(), []
        ticks0 = harness.cpu_ticks()
        while passes < wl.min_passes or (out.measured_s < args.seconds
                                         and time.perf_counter() - t_start < 4 * args.seconds):
            passes += 1
            before = out.measured_s
            wl.run_pass(passes, out, timed=True)
            pass_s.append(round(out.measured_s - before, 3))
        ticks1 = harness.cpu_ticks()
        if tracer:
            tracer.scope = "final"
        canary_ms = harness.canary_ms(spark)
        rss_mb = harness.peak_rss_mb(harness.jvm_pid(spark))
        wl.finish(out)
        harness.stop_session(spark)
        spark = None

        medians = {k: statistics.median(v) for k, v in out.latency.items()}
        # Each operation kind's best latency over the timed passes. Host
        # load only ever adds to a latency; the best of three takes the
        # least disturbed sample, where the median of three keeps a slow
        # one whenever two are slow, as a burst of load plus the still
        # warming first timed pass often make them (README: Metrics).
        best = {k: min(v) for k, v in out.latency.items()}
        done = sum(len(v) for v in out.latency.values())
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": done / sum(len(v) * best[k] for k, v in out.latency.items()),
            "query_geomean_s": workloads.geomean(best.values()),
        }
        info = {"workload": args.workload, "seed": args.seed, "passes": passes,
                "setup_parts_s": {k: round(v, 3) for k, v in setup_parts.items()},
                "pass_s": pass_s,
                "measured_s": round(out.measured_s, 3), "canary_ms": round(canary_ms, 1),
                "steal_pct": round(100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 1),
                "per_op_median_s": {k: round(v, 4) for k, v in sorted(medians.items())},
                "per_op_best_s": {k: round(v, 4) for k, v in sorted(best.items())},
                "build_exec_median_s": {
                    k: [round(statistics.median(x[i] for x in v), 4) for i in (0, 1)]
                    for k, v in sorted(out.split.items())},
                "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
                "jvm_peak_rss_mb": round(rss_mb, 1),
                "problems": (warm.problems + out.problems)[:10]}
        if tracer:
            tracer.read_event_log(os.path.join(rd.path, "eventlog"))
            tracer.write_spans(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
            layers = layer_metrics(tracer, wl, out, passes)
            layers["jvm.peak_rss_mb"] = rss_mb
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        print(json.dumps(info), flush=True)
        return {
            "correct": not (warm.problems or out.problems),
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            harness.stop_session(spark)
        rd.close()


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description="Closed-loop benchmark of stockify_spark.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stockify_spark")):
        print(f"stockify_spark/ not found in {ROOT}: run from the repo root", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
