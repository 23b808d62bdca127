"""Benchmark entry point.

    python3 perfbench/run.py --workload feed_backlog --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, builds the engine's session through ``session.build_session`` on
local[nproc], sets up three times (the first start launches the JVM),
repeats the workload's operation for ``--seconds`` and checks every result
against the generator's planted truth, then ends the JVM and Spark's Python
workers and waits for them before it prints the result. Human-readable
lines name each metric with its unit and sample count; the last stdout line
is the JSON result. ``--trace 1`` adds layer spans, the Spark event log and the
per-layer extras, and reports per-layer metrics instead of end-to-end ones.
All files go under ``.perfbench_work/`` (removed at exit) and the full
record under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from stats import event_log_totals, summarize  # noqa: E402

SETUPS = 3
MIN_OPS = 2  # so a slow host cannot leave a run with a single sample
# stop starting operations after this much wall time, leaving a traced
# run's layer pass room to end within 180 s
RUN_LIMIT_S = 110

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.warm_s": "s", "session.cold_s": "s",
    "sources.decode_s": "s", "sources.sink_write_s": "s", "sources.sink_files_per_10k_posts": "count",
    "sources.history_scan_s": "s", "sources.offset_s": "s",
    "functions.sentiment_s": "s", "functions.udf_rows": "count",
    "enrich.chain_s": "s", "enrich.dropped_rows": "count",
    "normalize.s": "s",
    "analytics.global_stats_s": "s", "analytics.label_counts_s": "s",
    "analytics.platform_counts_s": "s", "analytics.hashtag_topk_s": "s",
    "analytics.country_topk_s": "s", "analytics.time_series_s": "s",
    "analytics.last_n_s": "s", "analytics.latest_display_s": "s",
    "analytics.jobs_per_refresh": "count",
    "streaming.batch_s": "s", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.commit_s": "s", "streaming.posts_per_batch": "count", "streaming.batches": "count",
    "streaming.file_commit_p50_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s", "streaming.state_partitions": "count",
    "streaming.late_dropped": "count",
    "pipeline.exact_s": "s", "dedup.minhash_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio", "dedup.recall": "ratio",
    "contamination.decontaminate_s": "s", "contamination.flagged_docs": "count",
    "caching.tracked_peak": "count", "caching.released": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.scaling_ratio": "ratio",
    "trace.throughput_per_s": "1/s",
}
# the workload-specific name of the generic throughput metric
THROUGHPUT_NAME = {"feed_backlog": ("backlog_posts_per_s", "posts/s", "drains"),
                   "corpus_clean": ("clean_docs_per_s", "docs/s", "clean runs")}


def _loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _line(name: str, values: list[float], unit: str, what: str) -> str:
    """Median, sample count and the highest percentile the sample supports."""
    if not values:
        return f"{name} = n/a {unit} (no successful samples)"
    s = summarize(values)
    tail = "".join(f"; {k} {v:.4f}" for k, v in s.items() if k not in ("p50", "n"))
    return f"{name} = {s['p50']:.4f} {unit} (median of n={s['n']} {what}{tail})"


def run(args, work: str) -> dict:
    harness.launcher_env(work)
    import pyarrow
    import pyspark

    import workloads  # imports the package: only after launcher_env put the checkout root on the path

    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": harness.nproc(), "master": f"local[{harness.nproc()}]",
               "loadavg_before": _loadavg(), "spark": pyspark.__version__,
               "pyarrow": pyarrow.__version__}
    wall0 = time.perf_counter()
    tracer = harness.Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer)
    t = time.perf_counter()
    wl.stage()
    context["stage_s"] = time.perf_counter() - t
    engine = harness.Engine(work, event_log=bool(args.trace))
    cores = harness.nproc()
    builds, warms = [], []
    samples, failures, attempted = [], [], 0
    layer: dict = {}
    try:
        with harness.RssSampler() as rss:
            for i in range(SETUPS):
                if i:
                    engine.stop()
                t0 = time.perf_counter()
                with tracer.span("session.build"):
                    spark = engine.start(cores)
                t1 = time.perf_counter()
                with tracer.span("session.warm"):
                    wl.warm(spark)
                builds.append(t1 - t0)
                warms.append(time.perf_counter() - t1)

            # operations repeat until their own time (checks excluded)
            # reaches --seconds, and at least MIN_OPS times
            rss.active = True
            cpu0 = _cpu_jiffies()
            measured = 0.0
            op_windows = []  # epoch (start, end) of each operation, for the event log
            while True:
                attempted += 1
                tracer.op = f"op{attempted}"
                t0 = time.perf_counter()
                e0 = time.time()
                try:
                    s = wl.op(spark)
                    op_windows.append((e0, time.time()))
                    measured += time.perf_counter() - t0
                    rss.active = False
                    bad = wl.check(spark, s)
                    wl.after_op(spark, s)
                except Exception as exc:  # a failed operation is counted, the run goes on
                    op_windows.append((e0, time.time()))
                    measured += time.perf_counter() - t0
                    failures.append(f"op {attempted}: {exc!r}")
                    traceback.print_exc()
                else:
                    if bad:
                        failures.append(f"op {attempted}: " + "; ".join(bad[:5]))
                    else:
                        samples.append(s)
                rss.active = True
                enough = measured >= args.seconds and attempted >= MIN_OPS
                if enough or time.perf_counter() - wall0 > RUN_LIMIT_S:
                    break
            rss.active = False
            cpu1 = _cpu_jiffies()
            # CPU time the hypervisor gave to other guests: host contention
            context["steal_pct"] = 100.0 * (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
            context["peak_rss_mb"] = rss.peak_mb
            context["peak_tree_mb"] = rss.peak_tree_mb

            if args.trace and samples:
                # the layer pass is one more operation: its checks can fail
                attempted += 1
                tracer.op = "trace"
                try:
                    layer, bad = wl.trace(spark, samples, engine, cores)
                    if bad:
                        failures.append("trace: " + "; ".join(bad[:5]))
                except Exception as exc:  # reported as a failure, metrics read 0
                    failures.append(f"trace: {exc!r}")
                    traceback.print_exc()
    finally:
        engine.shutdown()
    context["loadavg_after"] = _loadavg()

    tput = [s["work"] / s["seconds"] for s in samples]
    secs = [s["seconds"] for s in samples]
    setups = [b + w for b, w in zip(builds, warms)]
    e2e = {
        "setup_s": statistics.median(setups),
        "throughput_per_s": statistics.median(tput) if tput else 0.0,
        "peak_rss_mb": context["peak_rss_mb"],
    }
    if args.trace:
        layer.update({"session.build_s": statistics.median(builds),
                      "session.warm_s": statistics.median(warms),
                      "session.cold_s": setups[0],
                      "trace.throughput_per_s": e2e["throughput_per_s"]})
        # jobs of the operations only, not of the checks and resets between them
        totals = event_log_totals(engine.event_dir, [(a * 1000, b * 1000) for a, b in op_windows])
        for k, v in totals.items():
            layer[f"spark.{k}"] = v / len(op_windows)
        metrics = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END

    name, unit, what = THROUGHPUT_NAME[args.workload]
    print(f"# context {json.dumps(context, sort_keys=True)}")
    print(_line(name, tput, unit, what))
    print(_line("op_seconds", secs, "s", what))
    print(_line("setup_s", setups, "s", f"set-ups; the first {setups[0]:.3f} s"))
    print(f"peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB (n=1 peak over the timed phase)")
    print(f"failed_frac = {len(failures) / max(attempted, 1):.4f} ratio ({len(failures)}/{attempted} operations)")
    for f in failures:
        print(f"FAILED {f}")
    if args.trace:
        for k, v in metrics.items():
            print(f"{k} = {v:.6g} {units[k]}")

    os.makedirs(".perfbench_out", exist_ok=True)
    with open(os.path.join(".perfbench_out", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"context": context, "end_to_end": e2e, "op_seconds": secs,
                   "setup_seconds": setups, "per_layer": layer,
                   "failures": failures, "spans": tracer.spans}, fh, indent=1, default=str)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(THROUGHPUT_NAME))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.stdout.reconfigure(line_buffering=True)
    # a SIGTERM unwinds through the finally blocks, which end the JVM and workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
