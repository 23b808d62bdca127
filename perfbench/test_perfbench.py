"""Tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402


def _files(tmp_path, seed: int) -> dict[str, bytes]:
    lines, _ = gen.post_batch(seed, 500)
    out = tmp_path / f"s{seed}"
    gen.write_json_files(lines, str(out), 4)
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _files(tmp_path / "a", 7)
    b = _files(tmp_path / "b", 7)
    assert a == b
    assert json.dumps(gen.corpus(7, 300)["docs"]) == json.dumps(gen.corpus(7, 300)["docs"])
    assert gen.window_feed(7, 4, 100, 2)[0] == gen.window_feed(7, 4, 100, 2)[0]


def test_different_seed_gives_different_inputs(tmp_path):
    assert _files(tmp_path / "a", 7) != _files(tmp_path / "b", 8)
    assert gen.corpus(7, 300)["docs"] != gen.corpus(8, 300)["docs"]
    assert gen.window_feed(7, 4, 100, 2)[0] != gen.window_feed(8, 4, 100, 2)[0]


def test_planted_malformed_rows_are_counted():
    lines, truths = gen.post_batch(3, 2000)
    dropped = len(lines) - len(truths)
    assert 0 < dropped < 0.1 * len(lines)
    assert any(t["ts"] is None for t in truths)  # unparseable timestamps are kept


# -- progress -> latency mapping ---------------------------------------------

def _progress(batch_id: int, start: str, ms: int, rows: int) -> dict:
    return {"batchId": batch_id, "timestamp": start, "numInputRows": rows,
            "durationMs": {"triggerExecution": ms}}


def test_file_commit_latencies_map_files_to_their_batch():
    progress = [
        _progress(0, "2024-06-01T12:00:00.000Z", 1500, 300),
        _progress(1, "2024-06-01T12:00:01.500Z", 500, 0),  # an idle trigger
        _progress(2, "2024-06-01T12:00:02.000Z", 2000, 200),
    ]
    ends = stats.batch_end_epochs(progress)
    t0 = stats.progress_epoch("2024-06-01T12:00:00.000Z")
    assert ends[0] == t0 + 1.5 and ends[2] == t0 + 4.0
    files = [("a.json", t0 - 1.0), ("b.json", t0 + 0.25), ("c.json", t0 + 1.0), ("d.json", t0 + 5.0)]
    batch_of = {"a.json": 0, "b.json": 0, "c.json": 2}
    got = stats.file_commit_latencies(files, batch_of, ends)
    assert got == [2.5, 1.25, 3.0, None]


def test_source_file_batches_reads_the_checkpoint_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "0").write_text('v1\n{"path":"file:///x/part-00000.json","timestamp":1,"batchId":0}\n'
                           '{"path":"file:///x/part-00001.json","timestamp":2,"batchId":0}')
    (log / "1").write_text('v1\n{"path":"file:///x/part-00002.json","timestamp":3,"batchId":1}')
    (log / ".1.crc").write_text("ignored")
    assert stats.source_file_batches(str(tmp_path)) == {
        "part-00000.json": 0, "part-00001.json": 0, "part-00002.json": 1}


def test_event_log_totals_count_only_jobs_inside_the_windows(tmp_path):
    def job(job_id, submitted, stage):
        return {"Event": "SparkListenerJobStart", "Job ID": job_id,
                "Submission Time": submitted, "Stage IDs": [stage]}

    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms}}

    events = [job(0, 1000, 0), task(0, 500), job(1, 2500, 1), task(1, 700), task(1, 700),
              job(2, 4000, 2), task(2, 300)]
    (tmp_path / "events_1_local").write_text("\n".join(json.dumps(e) for e in events))
    got = stats.event_log_totals(str(tmp_path), [(900, 1100), (3900, 4100)])
    assert (got["jobs"], got["tasks"], got["executor_run_s"]) == (2, 2, 0.8)


# -- window counts -------------------------------------------------------------

def test_window_feed_counts_every_post_but_the_late_beyond_ones():
    files, counts, beyond = gen.window_feed(3, 8, 400, 4)
    assert sum(map(len, files)) == 8 * 400
    assert 0 < beyond and sum(counts.values()) == 8 * 400 - beyond
    early = gen.BASE_TIME.strftime("%Y-%m-%d %H:%M")
    assert any(k[0] < early for k in counts)  # late-inside posts of the first files
    # the first 4 files hold no late-beyond post
    times = [json.loads(line)["timestamp"] for f in files[:4] for line in f]
    assert min(times) >= (gen.BASE_TIME - gen.timedelta(minutes=8)).strftime(gen.TS_FMT)


def test_window_check_flags_an_off_by_one():
    _, counts, _ = gen.window_feed(3, 8, 400, 4)
    assert check.check_windows(counts, dict(counts)) == []
    key = sorted(counts)[0]
    assert check.check_windows(counts, {**counts, key: counts[key] + 1}) != []
    assert check.check_windows(counts, {**counts, ("2024-04-30 23:00", "neutral"): 1}) != []


# -- percentiles -------------------------------------------------------------

def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(99) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(199) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_summarize_reports_median_count_and_supported_tail():
    s = stats.summarize([float(i) for i in range(101)])
    assert s == {"p50": 50.0, "n": 101, "p90": 90.0}
    assert stats.summarize([3.0, 1.0, 2.0]) == {"p50": 2.0, "n": 3}


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert abs(stats.quartile_spread([float(x) for x in range(1, 11)]) - 5.5 / 5.5) < 1e-12


# -- checkers catch a corrupted result ----------------------------------------

def _backlog_rows(truths):
    by = Counter(t["label"] for t in truths)
    null_ts = Counter(t["label"] for t in truths if t["ts"] is None)
    return [(label, n, n, null_ts[label]) for label, n in by.items()]


def test_backlog_check_passes_truth_and_flags_an_off_by_one():
    lines, truths = gen.post_batch(4, 1000)
    dropped = len(lines) - len(truths)
    rows = _backlog_rows(truths)
    assert check.check_backlog(truths, dropped, rows, len(lines)) == []
    label, n, users, null_ts = rows[0]
    bad = [(label, n - 1, users - 1, null_ts)] + rows[1:]
    assert any("label counts" in m for m in check.check_backlog(truths, dropped, bad, len(lines)))


def _panels(want):
    got = {k: v for k, v in want.items() if k != "clock_rows"}
    got["hours"] = list(want["hours"]) + [("2099-01-01 00", want["clock_rows"])]
    return got


def test_dashboard_check_passes_truth_and_flags_an_off_by_one():
    _, truths = gen.post_batch(5, 1000)
    want = gen.dashboard_truth(truths)
    assert check.check_dashboard(want, _panels(want)) == []
    got = _panels(want)
    label, n = got["labels"][0]
    got["labels"] = [(label, n + 1)] + got["labels"][1:]
    assert check.check_dashboard(want, got) != []
    got = _panels(want)
    got["avg_likes"] += 0.01
    assert check.check_dashboard(want, got) != []


def test_corpus_check_passes_truth_and_flags_corruption():
    c = gen.corpus(6, 400)
    survivors = gen.exact_survivors(c)
    kept = survivors - set(c["near_of"])
    texts = {d["doc_id"]: d["text"] for d in c["docs"]}
    final = kept - gen.contaminated({i: texts[i] for i in kept}, c["bench"])
    mismatches, recall = check.check_corpus(c, kept, final)
    assert mismatches == [] and recall == 1.0
    junk = next(iter(c["junk"]))
    assert check.check_corpus(c, kept | {junk}, final | {junk})[0] != []
    original = min(kept)
    assert check.check_corpus(c, kept - {original}, final - {original})[0] != []
    assert check.check_corpus(c, kept, final - {min(final)})[0] != []


def test_benchmark_json_lists_the_metrics_run_reports():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.THROUGHPUT_NAME)



# -- no process outlives a run --------------------------------------------------

def test_end_processes_ends_orphaned_grandchildren():
    # the shell's children outlive the shell, as Spark's workers outlive the JVM
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60 & wait"])
    try:
        deadline = time.monotonic() + 5
        while len(harness.descendants(os.getpid())) < 3 and time.monotonic() < deadline:
            time.sleep(0.02)
        left = harness.descendants(os.getpid())
        assert sh.pid in left and len(left) >= 3
    finally:
        sh.kill()
        sh.wait()
    harness.end_processes(left, timeout_s=5)
    assert not any(harness._running(p) for p in left)
