"""Dump ``explain("formatted")`` for named registered queries to files.

Used for the ``plans/r13/<query>_{before,after}.txt`` optimization
evidence: run once against the pre-optimization tree (a git worktree of
the old commit) and once against HEAD, e.g.::

    python tools/explain_dump.py --repo /tmp/r12tree --out plans/r13 \
        --suffix _before pagerank_dangling part_pagerank
    python tools/explain_dump.py --out plans/r13 --suffix _after \
        pagerank_dangling part_pagerank

``--repo`` selects which tree's ``__spark_entry__`` (and engine package)
is imported; default is this repo. With no query names, every registered
query is dumped — the plan diff between two trees::

    python tools/explain_dump.py --repo /tmp/parent --out /tmp/p_old
    python tools/explain_dump.py --out /tmp/p_new
    diff -r -I '^# ' /tmp/p_old /tmp/p_new

Expression ids, plan ids, lambda variable names and RDD ids are stripped
(they count up per session, so they differ between two runs of one tree,
and shift for every later query when an earlier one builds more or fewer
of them), and
caches are released between queries. A few plans still differ between
two runs of one tree: the enrichment queries embed ``current_timestamp``,
the streaming sink queries read fresh temp directories, and
``supplier_diversity`` orders its Expand columns per run. Plans are
captured at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on a bench-shaped session.
Queries whose construction runs eager jobs (percentile dispatch, the
iterative pagerank tiers) show their *final* returned plan, with
persisted intermediates as InMemoryTableScan nodes — that is the plan
the timed noop sink executes, i.e. the honest thing to commit.

``--trace`` additionally appends the plan of every intermediate the
query materializes during construction (each ``DataFrame.localCheckpoint``
and ``caching.tracked_persist`` call) — for iterative queries those ARE
the executed per-iteration plans, which the final checkpoint-truncated
plan hides.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod  # noqa: E402

    assert entrymod.__file__.startswith(repo), entrymod.__file__
    from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching  # noqa: E402
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import (  # noqa: E402
        build_session,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="explain-dump",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "2g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs(args.out, exist_ok=True)

    def explain_str(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        for pat, rep in (
            (r"#\d+L?", "#?"),
            (r"plan_id=\d+", "plan_id=?"),
            (r"\b([xyz])_\d+", r"\1_?"),
            (r"RDD\[\d+\]", "RDD[?]"),
        ):
            text = re.sub(pat, rep, text)
        return text

    trace: list[tuple[str, str]] = []
    if args.trace:
        # patch every class that DEFINES localCheckpoint (Spark 4's classic
        # DataFrame overrides the base-class method, so patching only
        # pyspark.sql.DataFrame silently misses real sessions)
        from pyspark.sql import DataFrame as _DF

        classes = [_DF]
        try:
            from pyspark.sql.classic.dataframe import DataFrame as _CDF

            classes.append(_CDF)
        except ImportError:
            pass
        for cls in classes:
            if "localCheckpoint" not in cls.__dict__:
                continue
            orig_lc = cls.__dict__["localCheckpoint"]

            def traced_lc(self, *a, _orig=orig_lc, **kw):
                trace.append(("localCheckpoint", explain_str(self)))
                return _orig(self, *a, **kw)

            cls.localCheckpoint = traced_lc
        orig_tp = caching.tracked_persist

        def traced_tp(df):
            trace.append(("tracked_persist", explain_str(df)))
            return orig_tp(df)

        caching.tracked_persist = traced_tp

    rc = 0
    for name in args.names or list(qs):
        trace.clear()
        try:
            df = qs[name](spark, sf_dir)
            text = explain_str(df)
        except Exception as exc:  # keep going; record the failure
            text = f"EXPLAIN FAILED: {exc!r}\n"
            rc = 1
        if args.trace and trace:
            parts = [text]
            for i, (kind, plan) in enumerate(trace):
                parts.append(
                    f"\n\n## materialized intermediate {i + 1}/{len(trace)}"
                    f" ({kind}) — executed during query construction\n{plan}"
                )
            text = "".join(parts)
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') @ {os.path.basename(sf_dir)}, "
                    f"local[{args.cpus}], repo={repo}\n")
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")
        caching.release_all()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
