"""Per-query A/B timing of a base checkout against this working tree.

``bench.py`` times every headline query in one long session, so one
query's number carries whatever ran before it; that is too noisy to
decide a single-query change. This tool runs each side of each pair in a
fresh Python process (its own Spark session), alternating which side
goes first from pair to pair::

    python tools/query_ab.py --repo /path/to/base/checkout \\
        order_value_bands domain_cap_sample

``--repo`` names the base tree, as in ``tools/explain_dump.py``; the
other side is the tree this file lives in. In each process the query
runs once untimed (JIT, codegen, parquet footers and the Python worker
pool warm up), caches are released, and one run through the noop sink
is timed, construction included (some operators run eager jobs while
the query is built). Data is ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[--cpus]`` (default 4).

Prints one markdown row per query: each side's median and interquartile
range over the pairs, how many pairs the working tree won, and a verdict
— ``slower``/``faster`` only when one side wins at least 9 pairs in 10
and the medians differ by more than the base side's IQR, else ``same``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_one(repo: str, name: str, cpus: str) -> float:
    """Warm, then time one run of ``name`` from ``repo`` (child process)."""
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod

    assert entrymod.__file__.startswith(repo), entrymod.__file__
    from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="query-ab",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "2g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = entrymod.queries()[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    caching.release_all()
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    took = time.perf_counter() - t0
    spark.stop()
    return took


def side(repo: str, name: str, cpus: str) -> float:
    env = {**os.environ, "PYTHONPATH": repo}  # Python workers import the same tree
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", repo, "--cpus", cpus, name],
        env=env,
        cwd=repo,
        check=True,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["s"]


def iqr(xs: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", help="base checkout to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.child:
        print(json.dumps({"s": run_one(os.path.abspath(args.child), args.names[0], args.cpus)}))
        return 0
    if not args.repo or args.pairs < 2:
        ap.error("--repo and --pairs >= 2 are required")
    base = os.path.abspath(args.repo)
    print("| query | base median s | base IQR | new median s | new IQR | new faster | verdict |")
    print("|---|---|---|---|---|---|---|")
    for name in args.names:
        b, n = [], []
        for i in range(args.pairs):
            order = [(base, b), (HERE, n)]
            for repo, acc in order if i % 2 == 0 else order[::-1]:
                acc.append(side(repo, name, args.cpus))
        wins = sum(x < y for x, y in zip(n, b))
        mb, mn, spread = statistics.median(b), statistics.median(n), iqr(b)
        verdict = "same"
        if wins >= 0.9 * args.pairs and mb - mn > spread:
            verdict = "faster"
        elif args.pairs - wins >= 0.9 * args.pairs and mn - mb > spread:
            verdict = "slower"
        print(
            f"| {name} | {mb:.2f} | {spread:.2f} | {mn:.2f} | {iqr(n):.2f} "
            f"| {wins}/{args.pairs} | {verdict} |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
