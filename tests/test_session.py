"""Engine SparkSession settings (ultraviolet_spark/session.py)."""

from __future__ import annotations

import os

import pytest

import ultraviolet_spark


@pytest.mark.skipif(bool(os.environ.get("SPARK_MASTER")),
                    reason="local mode only")
def test_local_workers_import_package_from_checkout(spark):
    # a script started outside the checkout still has workers that can
    # import the package
    root = os.path.dirname(os.path.dirname(os.path.abspath(
        ultraviolet_spark.__file__)))
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == root
