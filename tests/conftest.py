from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JError

# Small-local session for tests: tiny frames don't benefit from 32
# threads, and fewer partitions means far less per-job overhead.
os.environ.setdefault("SPARK_MASTER", "local[8]")

from aws_kinesis_data_ingestion_restapi_spark.session import get_spark


def _dead_reason(spark) -> str | None:
    """Why the session can run no more jobs, or None while it can."""
    jsc = spark.sparkContext._jsc
    try:
        if jsc is None or jsc.sc().isStopped():
            return "the SparkContext is stopped"
    except (Py4JError, OSError) as e:
        return f"the JVM is unreachable ({type(e).__name__}: {e})"
    return None


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield spark
    if _dead_reason(spark) is None:
        spark.stop()


@pytest.fixture(autouse=True)
def _stop_at_dead_session(request):
    """End the run once the shared session is dead (its JVM killed,
    say by the kernel's OOM killer): the session-scoped ``spark``
    fixture would hand the dead session to every later test, and the
    rest of the suite would fail one test at a time."""
    if "spark" in request.fixturenames:
        reason = _dead_reason(request.getfixturevalue("spark"))
        if reason is not None:
            pytest.exit(f"stopping the run: {reason}", returncode=1)


@pytest.fixture(scope="session")
def events_df(spark):
    from aws_kinesis_data_ingestion_restapi_spark.sources.generator import order_events_df

    return order_events_df(spark, 200, seed=42).cache()


@pytest.fixture(scope="session")
def events_raw():
    from aws_kinesis_data_ingestion_restapi_spark.sources.generator import generate_order_events

    return generate_order_events(200, seed=42)
