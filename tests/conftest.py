import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("tokens_ts-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def kolkata(spark):
    """The shared session under Asia/Kolkata (UTC+5:30, no DST) for one
    test, back to UTC afterwards: catches session-timezone assumptions
    at the Python boundary, where LTZ timestamps cross in the session
    zone."""
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


@pytest.fixture(scope="session")
def testdata_root():
    """Driver-generated parquet fixtures; resolved from the env so the
    suite SKIPS (not errors) on machines without the driver layout."""
    import os

    root = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))
    if not root.is_dir():
        pytest.skip(f"driver testdata not present at {root}")
    return root


@pytest.fixture(scope="session")
def seq_tiny(spark):
    """Tiny deterministic sequences table (shared across tests)."""
    from tokens_ts import synth

    df = synth.sequences(spark, k_total=400, n_sources=4)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def seq_tiny_pd():
    from tests import oracle

    return oracle.synth_sequences(k_total=400, n_sources=4)
