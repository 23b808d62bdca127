"""Run-time scaffolding: launcher environment, Spark session lifecycle,
layer spans and the process-tree RSS sampler."""

from __future__ import annotations

import itertools
import os
import signal
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def launcher_env(work: str) -> None:
    """Make the package importable by Spark's Python workers from any working
    directory, and keep the JVM's and Python's temp files inside ``work``.

    The workers are forked by the JVM, which inherits this process's
    environment when the first session starts, so PYTHONPATH must name the
    checkout root before then. The shuffle-partition override is dropped so
    every run measures the program's own default.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p != ROOT])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Engine:
    """Builds sessions through the package's ``session.build_session`` with
    its own defaults; the only options set are hygiene (UI off, temp and
    warehouse dirs inside the work dir, the event log in traced runs)."""

    def __init__(self, work: str, event_log: bool):
        tmp = os.path.join(work, "tmp")
        self.event_dir = os.path.join(work, "events") if event_log else None
        self.conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            self.conf["spark.eventLog.enabled"] = "true"
            self.conf["spark.eventLog.dir"] = self.event_dir
            self.conf["spark.eventLog.compress"] = "false"
        self.spark = None

    def start(self, cores: int):
        from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import build_session

        self.spark = build_session(master=f"local[{cores}]", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout_s: float = 30.0) -> None:
        """Stop the session, then the JVM the first start launched, and wait
        until it and every other process under this one (Spark's Python
        workers) has ended. Left alone, the JVM exits only after this process
        does, when it reads EOF on its stdin, and outlives it for a second or
        more."""
        from pyspark import SparkContext

        try:
            self.stop()
        finally:
            left = descendants(os.getpid())
            gateway = SparkContext._gateway
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM's gateway server exits at EOF
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            end_processes(left, timeout_s)


def reset(spark) -> int:
    """Between operations: release tracked persists and drop temp views."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching

    released = caching.release_all()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    return released


class Tracer:
    """In-memory spans (id, name, parent, op, start, end) recorded around the
    benchmark's calls into each layer. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "parent": parent, "op": self.op,
                               "start": start, "end": time.perf_counter()})

    def add(self, name: str, seconds: float) -> None:
        """A span measured elsewhere (e.g. inside a sink callable)."""
        if self.enabled:
            end = time.perf_counter()
            self.spans.append({"id": next(self._ids), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "op": self.op, "start": end - seconds, "end": end})

    def last(self, name: str) -> float:
        got = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return got[-1] if got else 0.0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _jvm_spawn(parent: int, child: int) -> bool:
    """A JVM child that has not exec'd yet (the JVM spawning a helper
    process): it shares the JVM's pages, so counting it would double the
    JVM's RSS for an instant."""
    exe = _exe(parent)
    return os.path.basename(exe) == "java" and _exe(child) == exe


def _children() -> dict[int, list[int]]:
    """Child pids of every process, by parent pid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> list[int]:
    children, found, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        found.extend(kids)
        todo.extend(kids)
    return found


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_processes(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has ended: SIGTERM at once, SIGKILL to what is
    still running after ``timeout_s``."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _running(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + timeout_s
        while any(_running(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
        pids = [p for p in pids if _running(p)]
        if not pids:
            return
    raise RuntimeError(f"processes still running after SIGKILL: {pids}")


def _tree_rss_kb(root: int) -> list[int]:
    """RSS in kB of ``root`` and each of its descendants."""
    children = _children()
    sizes, todo = [], [root]
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        todo.extend(k for k in kids if not _jvm_spawn(pid, k))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                sizes.append(int(fh.read().split()[1]) * page_kb)
        except OSError:
            pass
    return sizes


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM and
    Spark's Python workers) while ``active``; keeps the peak in MB."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.active = False
        self.peak_mb = 0.0
        self.peak_tree_mb: list[int] = []  # per-process RSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active:
                sizes = _tree_rss_kb(root)
                if sum(sizes) / 1024.0 > self.peak_mb:
                    self.peak_mb = sum(sizes) / 1024.0
                    self.peak_tree_mb = sorted((round(s / 1024) for s in sizes), reverse=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
