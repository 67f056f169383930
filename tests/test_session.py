"""Session builder: a set SPARK_LOCAL_DIRS is used as-is, without
creating the default scratch directory."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from rag_pipelines_spark import session


def test_local_dirs_env_skips_default_scratch(monkeypatch, tmp_path, spark):
    def _boom():
        raise AssertionError("default scratch dir built despite SPARK_LOCAL_DIRS")

    monkeypatch.setattr(session, "_scratch_local_dir", _boom)
    monkeypatch.setenv(
        "SPARK_LOCAL_DIRS", os.environ.get("SPARK_LOCAL_DIRS") or str(tmp_path)
    )
    assert isinstance(session.get_spark(), SparkSession)
