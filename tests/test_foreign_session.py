"""Regression: the reader must work on a session the repo did NOT build.

Round-1 failure mode: ``spark.sql.legacy.parquet.nanosAsLong`` was only set
by ``build_session``; a harness-supplied plain session hit
``PARQUET_TYPE_ILLEGAL`` on events.parquet (TIMESTAMP(NANOS)). Spark >= 4.1
reads the type natively as TIMESTAMP_NTZ; ``table()`` additionally retries
with the legacy conf on older Sparks. ``newSession()`` gives an isolated
SQLConf sharing the same JVM — the cheapest faithful stand-in for a foreign
session.
"""

from __future__ import annotations

from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import table

from conftest import SF_SMOKE


def test_table_reads_events_on_foreign_session(spark):
    foreign = spark.newSession()
    df = table(foreign, "events", SF_SMOKE)
    # Native nanos read (>=4.1) gives TIMESTAMP_NTZ; legacy fallback converts
    # long → NTZ. Either way the column must be a microsecond timestamp type.
    assert df.schema["ts"].dataType.typeName() in {"timestamp", "timestamp_ntz"}
    assert df.count() > 0


def test_entry_runs_on_foreign_session(spark):
    import __spark_entry__ as entrymod

    foreign = spark.newSession()
    out = entrymod.entry(foreign)
    assert out.count() >= 0


def test_normalize_ts_legacy_fallback_is_timezone_free(spark):
    """The nanosAsLong fallback path (epoch-nano bigint -> NTZ) must produce
    the same values on ANY session timezone — it exists for foreign sessions,
    whose tz is uncontrolled (ADVICE r2: the timestamp-cast detour shifted
    values by the zone offset on non-UTC sessions)."""
    import datetime as dt

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import (
        normalize_ts,
    )

    nanos = 1_700_000_123_456_789_123  # 2023-11-14T22:15:23.456789123Z
    expect = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=nanos // 1000)
    foreign = spark.newSession()
    got = {}
    for tz in ("UTC", "Asia/Kolkata", "America/New_York"):
        foreign.conf.set("spark.sql.session.timeZone", tz)
        df = normalize_ts(foreign.createDataFrame([(nanos,)], "ts long"))
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got[tz] = df.head().ts
    assert got["UTC"] == expect
    assert got["Asia/Kolkata"] == expect
    assert got["America/New_York"] == expect


def test_streaming_queries_do_not_leak_session_timezone(spark):
    """The streaming queries pin session tz to UTC for the watermark drain;
    the pin must be scoped — a foreign session's own tz survives the call
    (ADVICE r2: the unrestored conf.set leaked UTC into later queries)."""
    import __spark_entry__ as entrymod

    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    foreign.conf.set("spark.sql.shuffle.partitions", "17")
    out = entrymod.q_streaming_time_series(foreign, SF_SMOKE)
    assert out.count() > 0
    assert foreign.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    out = entrymod.q_streaming_dedup_daily(foreign, SF_SMOKE)
    assert out.count() > 0
    assert foreign.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    out = entrymod.q_streaming_props_buckets(foreign, SF_SMOKE)
    assert out.count() > 0
    assert foreign.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    out = entrymod.q_streaming_sliding_windows(foreign, SF_SMOKE)
    assert out.count() > 0
    assert foreign.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    # the stateful-drain shuffle-partition pin must restore too
    assert foreign.conf.get("spark.sql.shuffle.partitions") == "17"


def test_day_bucket_queries_invariant_across_timezones(spark):
    """The `_day()` NTZ double-cast (sessionize.py) is load-bearing for every
    day-bucketed query; pin it against THREE session timezones, including
    America/Sao_Paulo (negative offset + historical DST transitions), so the
    fix is provably general, not Kolkata-specific (r4 VERDICT item 6)."""
    import __spark_entry__ as entrymod

    queries = [
        "event_heatmap",
        "cohort_retention",
        "daily_distinct_users",
        "event_type_pivot",
        "rolling_active_users",
        # r5 day/interval-sensitive additions: (user, day) baskets, the
        # day-bucketed activity split, exact-microsecond gap buckets, and
        # the first-view -> first-purchase hour histogram
        "event_type_lift",
        "daily_new_vs_returning",
        "repeat_purchase_intervals",
        "time_to_conversion",
        # r8: HLL rolling distinct is day-bucketed through the same _day()
        # NTZ double-cast; sketches are deterministic, so full tz-invariance
        "rolling_sketch_users",
    ]
    qs = entrymod.queries()
    results: dict[str, dict[str, list]] = {}
    for tz in ("UTC", "Asia/Kolkata", "America/Sao_Paulo"):
        foreign = spark.newSession()
        foreign.conf.set("spark.sql.session.timeZone", tz)
        for name in queries:
            rows = [tuple(r) for r in qs[name](foreign, SF_SMOKE).collect()]
            results.setdefault(name, {})[tz] = rows
    for name, by_tz in results.items():
        assert by_tz["UTC"], name  # non-vacuous
        assert by_tz["Asia/Kolkata"] == by_tz["UTC"], f"{name} shifts under IST"
        assert by_tz["America/Sao_Paulo"] == by_tz["UTC"], f"{name} shifts under BRT"


def test_streaming_left_join_cutoff_invariant_across_timezones(spark):
    """The left-join parity clip compares view_ts (NTZ, UTC wall-clock) to a
    collected cutoff; the cutoff must be derived ntz-to-ntz INSIDE the
    forced-UTC context or a non-UTC default session tz shifts the clip by
    the offset (ADVICE r7). Kolkata's +05:30 would move the 91-minute clip
    across real rows if the derivation regressed."""
    import __spark_entry__ as entrymod

    results = {}
    for tz in ("UTC", "Asia/Kolkata"):
        foreign = spark.newSession()
        foreign.conf.set("spark.sql.session.timeZone", tz)
        rows = entrymod.q_streaming_view_purchase_left_join(foreign, SF_SMOKE).collect()
        results[tz] = [tuple(r) for r in rows]
        assert foreign.conf.get("spark.sql.session.timeZone") == tz
    assert results["UTC"], "clip must keep rows at smoke scale"
    assert results["Asia/Kolkata"] == results["UTC"]


def test_streaming_left_join_cutoff_invariant_across_process_tz():
    """Session tz is only half the hazard: F.lit(naive datetime) converts
    through TimestampType in the PYTHON PROCESS timezone, while the ntz
    cast renders in session tz — under TZ=Asia/Kolkata that shifted the
    clip -5:30 and silently dropped the last hours of unmatched views
    (caught by the verify drive, r8). The JVM's default tz is fixed at
    startup, so this must run in a subprocess with TZ exported."""
    import os
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, "/root/repo"); sys.path.insert(0, "/root/repo/tests")
import duckdb
import __spark_entry__ as entrymod
from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import build_session
from conftest import SF_SMOKE
spark = build_session(master="local[4]", extra_conf={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
n = entrymod.q_streaming_view_purchase_left_join(spark, SF_SMOKE).count()
con = duckdb.connect()
con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'")
d = con.execute(entrymod.oracle_sql()["streaming_view_purchase_left_join"]).fetchall()
assert n == len(d) > 0, f"spark {n} vs duck {len(d)}"
print("TZOK", n)
"""
    env = dict(os.environ, TZ="Asia/Kolkata")
    env.pop("JAVA_TOOL_OPTIONS", None)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=600
    )
    assert "TZOK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_media_local_tables_survive_plain_session_conf(spark):
    """r13: the Arrow local-relation conversion must be FORCED per call
    (session.scoped_conf around the conversion), not inherited from session conf —
    the external driver runs a PLAIN session without Arrow enabled, where
    the non-Arrow fallback both re-introduces the pickled-RDD Python
    tasks the r13 local-table change removed and rejects nullable-Int32
    NA metadata cells outright (PySparkTypeError: "IntegerType() can not
    accept object nan" — caught by the r13 plain-session re-drive). Red
    if the forced-conversion scope is removed."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import (
        multimodal,
    )
    from plan_util import plan_text

    foreign = spark.newSession()
    foreign.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    df = multimodal.synthetic_media_df(foreign, n=8, kind="image")
    assert df.count() == 8
    assert "Scan ExistingRDD" not in plan_text(df), (
        "local media table fell back to the pickled-RDD path on a plain session"
    )
    # conversion scope must restore the caller's conf
    assert foreign.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
