"""The benchmark's workloads. Each drives the package's public functions on
generated inputs and checks every timed result against planted truth.

A workload provides ``stage()`` (inputs, outside every timing), ``warm()``
(part of every set-up), ``op()`` (one timed operation, returning its sample),
``check()`` (mismatches of one sample) and ``trace()`` (per-layer extras,
traced runs only).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import (
    analytics,
    contamination,
    dedup,
    enrich,
    normalize,
    pipeline,
)
from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources import readers
from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming import pipeline as streaming
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen
import stats
from harness import reset

DRAIN_TIMEOUT_S = 90


class OpFailed(Exception):
    """An operation finished but did not produce a usable result."""


def _noop(df) -> None:
    """Run a plan to the end, computing every column (count() would prune)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self._n = 0

    def fresh(self, name: str) -> str:
        """A path no earlier operation has seen."""
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n:03d}")


# --------------------------------------------------------------------------
# feed_backlog
# --------------------------------------------------------------------------

class FeedBacklog(Workload):
    """Drain a pre-staged backlog of JSON-lines post files once with
    Trigger.AvailableNow: enriched_file_stream (sentiment UDF on) ->
    fan_out_sinks -> parquet. Per-row work dominates."""

    POSTS = 20_000
    FILES = 16
    MAX_FILES_PER_TRIGGER = 8  # 2 micro-batches per drain
    # the window drain's input: FILES files of WINDOW_PER_FILE posts, read
    # WINDOW_FILES_PER_TRIGGER at a time (4 micro-batches)
    WINDOW_PER_FILE = 625
    WINDOW_FILES_PER_TRIGGER = 4

    def stage(self) -> None:
        lines, self.truths = gen.post_batch(self.seed, self.POSTS)
        self.n_dropped = len(lines) - len(self.truths)
        self.src = os.path.join(self.work, "backlog")
        gen.write_json_files(lines, self.src, self.FILES)
        if self.tracer.enabled:
            # the first micro-batch reads 4 files spanning 20 min of event
            # time, which sets the watermark 10 min past BASE_TIME. Spark
            # drops late rows against the watermark of the previous
            # micro-batch, so late-beyond posts are dropped from the third
            # micro-batch on
            files, self.window_truth, _ = gen.window_feed(
                self.seed, self.FILES, self.WINDOW_PER_FILE, 2 * self.WINDOW_FILES_PER_TRIGGER)
            self.window_src = os.path.join(self.work, "window")
            gen.write_ordered_files(files, self.window_src)

    def drain(self, spark, src: str):
        """One AvailableNow drain into a fresh parquet sink."""
        out, ckpt = self.fresh("sink"), self.fresh("ckpt")
        writes: list[float] = []

        def write_parquet(batch) -> None:
            t = time.perf_counter()
            batch.write.mode("append").parquet(out)
            writes.append(time.perf_counter() - t)

        t0 = time.perf_counter()
        with self.tracer.span("streaming.drain"):
            stream = streaming.enriched_file_stream(spark, src, with_sentiment_udf=True,
                                             max_files_per_trigger=self.MAX_FILES_PER_TRIGGER)
            q = streaming.fan_out_sinks(stream, {"parquet": write_parquet}, ckpt, available_now=True)
            finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        seconds = time.perf_counter() - t0
        if not finished:
            q.stop()
            raise OpFailed(f"drain did not finish within {DRAIN_TIMEOUT_S}s")
        for w in writes:
            self.tracer.add("sources.sink_write", w)
        return {"seconds": seconds, "out": out, "ckpt": ckpt, "progress": q.recentProgress,
                "sink_write_s": sum(writes), "epoch_start": time.time() - seconds}

    def warm(self, spark) -> None:
        # a full untimed drain: after a warm-up on a small input the first
        # timed drain still ran ~15 % slower than the next
        self.drain(spark, self.src)
        reset(spark)

    def op(self, spark) -> dict:
        s = self.drain(spark, self.src)
        s["work"] = len(self.truths)
        return s

    def check(self, spark, s) -> list[str]:
        # read back with pyarrow: no Spark job, so the check neither depends
        # on the engine under test nor adds to its event log
        t = pq.read_table(s["out"], columns=["sentiment_label", "user", "event_ts"])
        counts, users, null_ts = Counter(), {}, Counter()
        for label, user, null in zip(t.column("sentiment_label").to_pylist(), t.column("user").to_pylist(),
                                     pc.is_null(t.column("event_ts")).to_pylist()):
            counts[label] += 1
            users.setdefault(label, set()).add(user)
            null_ts[label] += null
        rows = [(label, n, len(users[label]), null_ts[label]) for label, n in counts.items()]
        s["committed"] = t.num_rows
        return check.check_backlog(self.truths, self.n_dropped, rows, self.POSTS)

    def after_op(self, spark, s) -> None:
        reset(spark)

    # -- traced extras ------------------------------------------------------

    def trace(self, spark, samples: list[dict], engine, cores: int) -> tuple[dict, list[str]]:
        m: dict = {}
        layers = stats.progress_layers(samples[-1]["progress"])
        for k in ("batch_s", "add_batch_s", "planning_s", "commit_s", "posts_per_batch", "batches"):
            m[f"streaming.{k}"] = layers[k]
        m["sources.offset_s"] = layers["offset_s"]
        m["sources.sink_write_s"] = statistics.median(s["sink_write_s"] for s in samples)
        m["enrich.dropped_rows"] = self.POSTS - samples[-1]["committed"]
        m["functions.udf_rows"] = len(self.truths)
        # per-file commit latency inside a drain (every file is due at its start)
        last = samples[-1]
        lat = stats.file_commit_latencies(
            [(f, last["epoch_start"]) for f in sorted(os.listdir(self.src))],
            stats.source_file_batches(last["ckpt"]), stats.batch_end_epochs(last["progress"]))
        m["streaming.file_commit_p50_s"] = statistics.median(x for x in lat if x is not None)

        # batch twins of the row path
        with self.tracer.span("sources.decode"):
            _noop(readers.read_posts_json(spark, self.src))
        with self.tracer.span("enrich.chain_no_udf"):
            _noop(enrich.enrich_posts(readers.read_posts_json(spark, self.src), with_sentiment_udf=False))
        with self.tracer.span("enrich.chain_udf"):
            _noop(enrich.enrich_posts(readers.read_posts_json(spark, self.src), with_sentiment_udf=True))
        decode = self.tracer.last("sources.decode")
        no_udf = self.tracer.last("enrich.chain_no_udf")
        m["sources.decode_s"] = decode
        m["enrich.chain_s"] = no_udf - decode
        m["functions.sentiment_s"] = self.tracer.last("enrich.chain_udf") - no_udf

        # the dashboard's reads over the history this sink wrote
        out = samples[-1]["out"]
        n_files = sum(f.endswith(".parquet") for f in os.listdir(out))
        m["sources.sink_files_per_10k_posts"] = n_files * 10_000 / len(self.truths)
        mismatches: list[str] = []
        for _ in range(2):  # the first refresh warms the read path
            panels, jobs = self.refresh(spark, out)
        mismatches += check.check_dashboard(gen.dashboard_truth(self.truths), panels)
        m["sources.history_scan_s"] = self.tracer.last("sources.history_scan")
        m["normalize.s"] = self.tracer.last("normalize.normalize_posts")
        for name in PANELS:
            m[f"analytics.{name}_s"] = self.tracer.last(f"analytics.{name}")
        m["analytics.jobs_per_refresh"] = jobs

        # windowed sentiment counts over posts whose event times rise from
        # file to file, with planted late posts: state-store costs, and the
        # final count of every window checked against the generator's
        counts: dict = {}

        def keep_counts(batch, _batch_id) -> None:
            # update mode: a window's latest emitted count is its count so far
            for r in batch.collect():
                counts[(r["window_start"].strftime("%Y-%m-%d %H:%M"), r["sentiment_label"])] = r["cnt"]

        with self.tracer.span("streaming.window_drain"):
            enriched = streaming.enriched_file_stream(spark, self.window_src, with_sentiment_udf=True,
                                                      max_files_per_trigger=self.WINDOW_FILES_PER_TRIGGER)
            q = (streaming.windowed_sentiment_counts(enriched).writeStream.outputMode("update")
                 .foreachBatch(keep_counts)
                 .option("checkpointLocation", self.fresh("wckpt"))
                 .trigger(availableNow=True).start())
            finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        if not finished:
            q.stop()
            mismatches.append(f"window drain did not finish within {DRAIN_TIMEOUT_S}s")
        mismatches += check.check_windows(self.window_truth, counts)
        for k, v in stats.state_layers(q.recentProgress).items():
            m[f"streaming.{k}"] = v

        # single-threaded baseline: the same drain on local[1]
        engine.stop()
        spark1 = engine.start(1)
        self.warm(spark1)
        base = self.drain(spark1, self.src)
        tput = statistics.median(s["work"] / s["seconds"] for s in samples)
        m["spark.scaling_ratio"] = tput / (len(self.truths) / base["seconds"])
        return m, mismatches

    def refresh(self, spark, path: str):
        """normalize_posts + the eight reference panels over ``path``."""
        sc = spark.sparkContext
        group = self.fresh("refresh")
        sc.setJobGroup(group, "dashboard refresh")
        with self.tracer.span("sources.history_scan"):
            _noop(spark.read.parquet(path))
        with self.tracer.span("normalize.normalize_posts"):
            df = normalize.normalize_posts(spark.read.parquet(path).drop("processing_timestamp"))
            _noop(df)
        got = {}
        for name, fn in PANELS.items():
            with self.tracer.span(f"analytics.{name}"):
                rows = fn(df).collect()
            got.update(_panel_value(name, rows))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        return got, jobs


PANELS = {
    "global_stats": lambda df: analytics.global_stats(df, ["likes", "retweets", "user_followers"]),
    "label_counts": lambda df: analytics.grouped_count(df, "sentiment_label"),
    "platform_counts": lambda df: analytics.grouped_count(df, "platform"),
    "hashtag_topk": lambda df: analytics.exploded_topk(df, "hashtags", 10),
    "country_topk": lambda df: analytics.grouped_topk(df, "country", 10),
    "time_series": lambda df: analytics.time_series(df, "event_ts", "1 hour"),
    "last_n": lambda df: analytics.last_n(df, "event_ts", 10, "user"),
    "latest_display": lambda df: analytics.latest_display(df, "event_ts", "text", "user", 10),
}


def _panel_value(name: str, rows) -> dict:
    if name == "global_stats":
        r = rows[0]
        return {"total_rows": r["total_rows"], "avg_likes": r["avg_likes"],
                "avg_retweets": r["avg_retweets"], "avg_user_followers": r["avg_user_followers"]}
    if name in ("label_counts", "platform_counts", "hashtag_topk", "country_topk"):
        key = {"label_counts": "labels", "platform_counts": "platforms",
               "hashtag_topk": "tags", "country_topk": "countries"}[name]
        return {key: [(r[0], r["cnt"]) for r in rows]}
    if name == "time_series":
        return {"hours": [(r["bucket_ts"].strftime("%Y-%m-%d %H"), r["cnt"]) for r in rows]}
    if name == "last_n":
        return {"last_users": [r["user"] for r in rows]}
    return {"display_users": [r["user"] for r in rows]}


# --------------------------------------------------------------------------
# corpus_clean
# --------------------------------------------------------------------------

class CorpusClean(Workload):
    """clean_corpus (language -> quality -> exact dedup -> MinHash-LSH
    near-dup) then decontaminate against a generated benchmark set. Each
    operation reads a corpus path it has not seen before."""

    DOCS = 3000

    def stage(self) -> None:
        self.corpus = gen.corpus(self.seed, self.DOCS)
        self.src = os.path.join(self.work, "corpus")
        _write_corpus(self.corpus, self.src)

    def _copy(self, src: str) -> str:
        dst = self.fresh("corpus")
        shutil.copytree(src, dst)
        return dst

    def clean(self, spark, path: str) -> dict:
        docs = spark.read.parquet(os.path.join(path, "docs"))
        bench = spark.read.parquet(os.path.join(path, "bench"))
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.clean_corpus"):
            kept = pipeline.clean_corpus(docs)
            kept_ids = {r[0] for r in kept.select("doc_id").collect()}
        with self.tracer.span("contamination.decontaminate"):
            kept_docs = docs.filter(F.col("doc_id").isin(sorted(kept_ids)))
            final = {r[0] for r in contamination.decontaminate(kept_docs, bench).select("doc_id").collect()}
        seconds = time.perf_counter() - t0
        tracked = len(getattr(caching, "_TRACKED", ()))
        return {"seconds": seconds, "kept": kept_ids, "final": final, "tracked": tracked}

    def warm(self, spark) -> None:
        # a full untimed clean of a fresh copy on every set-up: after a
        # smaller warm-up the next clean ran 15-30 % slower than later ones
        self.clean(spark, self._copy(self.src))
        reset(spark)

    def op(self, spark) -> dict:
        path = self._copy(self.src)
        s = self.clean(spark, path)
        s["work"] = len(self.corpus["docs"])
        return s

    def check(self, spark, s) -> list[str]:
        mismatches, s["recall"] = check.check_corpus(self.corpus, s["kept"], s["final"])
        return mismatches

    def after_op(self, spark, s) -> None:
        s["released"] = reset(spark)

    def trace(self, spark, samples: list[dict], engine, cores: int) -> tuple[dict, list[str]]:
        m = {
            "dedup.recall": statistics.median(s["recall"] for s in samples),
            "caching.tracked_peak": max(s["tracked"] for s in samples),
            "caching.released": statistics.median(s["released"] for s in samples),
            "contamination.flagged_docs": statistics.median(len(s["kept"]) - len(s["final"]) for s in samples),
        }
        path = self._copy(self.src)
        docs = spark.read.parquet(os.path.join(path, "docs"))
        bench = spark.read.parquet(os.path.join(path, "bench"))
        with self.tracer.span("pipeline.exact"):
            exact_ids = [r[0] for r in pipeline.clean_corpus_exact(docs, sort=False).select("doc_id").collect()]
        reset(spark)
        survivors = docs.filter(F.col("doc_id").isin(exact_ids))
        with self.tracer.span("dedup.minhash"):
            verified = dedup.minhash_near_duplicates(survivors, shingle_corpus=docs).count()
        reset(spark)
        with self.tracer.span("dedup.candidates"):
            candidates = dedup.lsh_candidate_pairs(dedup.with_minhash(survivors)).count()
        reset(spark)
        kept_docs = docs.filter(F.col("doc_id").isin(sorted(samples[-1]["kept"])))
        with self.tracer.span("contamination.decontaminate_only"):
            contamination.decontaminate(kept_docs, bench).count()
        reset(spark)
        m.update({
            "pipeline.exact_s": self.tracer.last("pipeline.exact"),
            "dedup.minhash_s": self.tracer.last("dedup.minhash"),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / candidates if candidates else 0.0,
            "contamination.decontaminate_s": self.tracer.last("contamination.decontaminate_only"),
        })
        return m, []


def _write_corpus(c: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(path, "docs"))
    os.makedirs(os.path.join(path, "bench"))
    docs = c["docs"]
    pq.write_table(pa.table({k: [d[k] for d in docs] for k in ("doc_id", "lang", "source", "text")}),
                   os.path.join(path, "docs", "part-0.parquet"))
    pq.write_table(pa.table({"text": c["bench"]}), os.path.join(path, "bench", "part-0.parquet"))


WORKLOADS = {"feed_backlog": FeedBacklog, "corpus_clean": CorpusClean}
