"""Session construction side effects."""

import os

from sylph_spark.session import build_spark


def test_build_spark_leaves_pythonpath_unset(spark, monkeypatch):
    """build_spark hands the repo root to the Python daemon and workers via
    spark.executorEnv.PYTHONPATH instead of editing the driver's own
    environment, which every later subprocess would inherit."""
    monkeypatch.delenv("PYTHONPATH", raising=False)
    s = build_spark(
        app_name="sylph_spark_tests", master="local[8]", shuffle_partitions=8
    )
    assert "PYTHONPATH" not in os.environ
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert s.sparkContext.environment["PYTHONPATH"] == repo_root
