"""Shared fixtures: one session-scoped local Spark for all Spark tests."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from kgkit import SESSION_CONF

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("kgkit-tests")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", "4")
        # composed-pipeline logical plans can be large; bound the
        # explain/AQE plan-string rendering so plan LOGGING can never
        # OOM the driver (seen once: AdaptiveSparkPlanExec.onUpdatePlan
        # -> explainString building a multi-GB string under test heap
        # pressure).  1 MB is plenty to debug with.
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
