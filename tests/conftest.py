import os
import shutil

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("sprout-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def fast_paths_off(monkeypatch):
    """Every size-capped fast path forced onto its distributed plan."""
    from sprout_spark.spark import fastpath

    for name in fastpath.CAPS:
        monkeypatch.setitem(fastpath.CAPS, name, 0)


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from sprout_spark.sources.transcripts import write_transcripts_parquet

    path = str(tmp_path_factory.mktemp("fixtures") / "transcripts.parquet")
    write_transcripts_parquet(path, n_convs=1000, seed=42)
    return path


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")
