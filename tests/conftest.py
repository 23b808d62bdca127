from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching
from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import build_session, scoped_conf

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# chunk widths the chunked running total is checked at: 1 (a single
# chunk), two that split groups unevenly, and the fixture's default 8
WIDTHS = (1, 3, 7, 8)


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="engine-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": "/tmp/engine-tests-warehouse",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def at_widths(spark, build):
    """Yield ``build()``'s collected rows once per width in ``WIDTHS``,
    with ``spark.sql.shuffle.partitions`` (the chunk width of
    ``window_funcs.chunked_running_sum``) set around both the build and
    the collect. Persisted frames are released around each width, so no
    width reads chunks another width cached; the plan must show the split
    at that width (one partition plans as ``SinglePartition``)."""
    from plan_util import plan_text

    for n in WIDTHS:
        caching.release_all()
        with scoped_conf(spark, "spark.sql.shuffle.partitions", str(n)):
            df = build()
            split = "SinglePartition" if n == 1 else f", {n})"
            assert f"{split}, REPARTITION_BY_COL" in plan_text(df), n
            rows = df.collect()
        yield rows
    caching.release_all()
