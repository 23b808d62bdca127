"""Summary statistics and Spark progress/event-log parsing for the benchmark."""

from __future__ import annotations

import glob
import json
import os
import statistics
from datetime import datetime, timezone

# tail shares beyond each candidate percentile, in per mille (exact integers)
TAILS_PER_MILLE = {99.9: 1, 99.0: 10, 95.0: 50, 90.0: 100, 75.0: 250, 50.0: 500}


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 <= p <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ten of ``n`` samples beyond
    it, or None when even the median has fewer than ten beyond it."""
    for p, tail in TAILS_PER_MILLE.items():
        if n * tail >= 10_000:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile the sample supports."""
    out = {"p50": statistics.median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------

def progress_epoch(ts: str) -> float:
    """Epoch seconds of a progress ``timestamp`` ("2024-06-01T12:00:00.123Z")."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def batch_end_epochs(progress: list[dict]) -> dict[int, float]:
    """End epoch per micro-batch id: trigger start plus triggerExecution."""
    return {p["batchId"]: progress_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress}


def source_file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's log in a query
    checkpoint (one JSON entry per file after a version line). The log is
    exact; ``numInputRows`` is not, since the scan counts rows after the
    filters pushed into it."""
    out = {}
    log = os.path.join(checkpoint, "sources", str(source))
    for name in os.listdir(log):
        if not name.isdigit():
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def file_commit_latencies(files: list[tuple[str, float]], batch_of: dict[str, int],
                          ends: dict[int, float]) -> list[float | None]:
    """Per (file name, due epoch): seconds from the due time to the end of
    the micro-batch that committed the file; None if none did."""
    out: list[float | None] = []
    for name, due in files:
        b = batch_of.get(name)
        out.append(ends[b] - due if b in ends else None)
    return out


def progress_layers(progress: list[dict]) -> dict:
    """Per-batch streaming costs from a query's progress list (seconds)."""
    busy = [p for p in progress if (p.get("numInputRows") or 0) > 0]
    if not busy:
        return {}

    def med(key_fn):
        return statistics.median(key_fn(p["durationMs"]) for p in busy) / 1000.0

    return {
        "batches": len(busy),
        "batch_s": med(lambda d: d.get("triggerExecution", 0)),
        "add_batch_s": med(lambda d: d.get("addBatch", 0)),
        "planning_s": med(lambda d: d.get("queryPlanning", 0)),
        "commit_s": med(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "offset_s": med(lambda d: d.get("latestOffset", 0) + d.get("getBatch", 0)),
        "posts_per_batch": statistics.median(p["numInputRows"] for p in busy),
    }


def state_layers(progress: list[dict]) -> dict:
    """State-store figures of a stateful query's progress list."""
    with_state = [p for p in progress if p.get("stateOperators")]
    if not with_state:
        return {}
    ops = [op for p in with_state for op in p["stateOperators"]]
    last = with_state[-1]["stateOperators"]
    return {
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last),
        "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in last),
        "state_commit_s": statistics.median(op.get("commitTimeMs", 0) for op in ops) / 1000.0,
        "state_partitions": max(op.get("numShufflePartitions", 0) for op in ops),
        "late_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def event_log_totals(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs, tasks, executor run/GC time and shuffle bytes of every job
    submitted inside one of the ``windows`` ((start, end) in epoch ms),
    summed over all logs in the dir."""
    jobs, stage_job = set(), {}
    out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0}
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if any(a <= ev["Submission Time"] <= b for a, b in windows):
                        jobs.add((path, ev["Job ID"]))
                        for sid in ev.get("Stage IDs", []):
                            stage_job[(path, sid)] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd" and (path, ev["Stage ID"]) in stage_job:
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    out["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    out["jobs"] = len(jobs)
    return out
