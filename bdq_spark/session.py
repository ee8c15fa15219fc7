"""Lazy SparkSession helpers.

The reference (`/root/reference/bdq/__init__.py:3-10`) eagerly calls
``SparkSession.builder.getOrCreate()`` and instantiates Databricks
``DBUtils`` at import time, which makes the package un-importable off
Databricks. Here session acquisition is lazy and Databricks-free: callers
either pass a session explicitly or we pick up the active one, building a
local[*] session only as a last resort.

Scale note: the builder defaults below are tuned for correctness at any
scale — AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized by the driver via
``SPARK_GRAFT_CPUS``; on a real cluster these come from spark-submit conf
and `get_spark` never overrides an already-running session's conf.
"""

from __future__ import annotations

import os
from importlib.util import find_spec

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "builder_defaults"]

# the JVM ``Dataset.ofRows`` moved to ``org.apache.spark.sql.classic`` in
# Spark 4.0, together with the ``pyspark.sql.classic`` package; a 3.5
# runtime keeps it on ``org.apache.spark.sql.Dataset``.  Detected once
# at import, from the PySpark that matches the JVM.
_CLASSIC_DATASET = find_spec("pyspark.sql.classic") is not None


def builder_defaults(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply scale-aware defaults to a builder (no-op for running sessions)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    return (
        builder.config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )


def get_spark(spark: SparkSession | None = None) -> SparkSession:
    """Return an explicit session, else the active one, else build local[*]."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    return (
        builder_defaults(SparkSession.builder.master(f"local[{cpus}]"))
        .appName("bdq_spark")
        .getOrCreate()
    )


def cloned(df: DataFrame, conf: dict) -> DataFrame:
    """``df`` on a PRIVATE clone of its session, with ``conf`` set on the
    clone.

    The isolation mechanism of every iterative loop in the package: the
    caller's session conf is NEVER written, because that session is
    shared with whatever else plans on it at the same time (concurrent
    ``SparkPipeline`` steps).  Code that needs a conf pin (AQE off, a
    data-sized shuffle width) runs on the clone and :func:`moved` its
    result back.  ``cloneSession`` (~2 ms) shares the SparkContext —
    executors and checkpointed blocks — and copies the runtime SQL
    conf."""
    parent = df.sparkSession
    clone = SparkSession(
        parent.sparkContext, jsparkSession=parent._jsparkSession.cloneSession()
    )
    for key, value in conf.items():
        clone.conf.set(key, value)
    return moved(df, clone)


def moved(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df`` re-planned on ``session``.  Frames cross by LOGICAL PLAN,
    so a checkpoint crosses as its ``LogicalRDD`` leaf with partitioning
    and statistics intact, and a lazy result moved back is planned by
    the caller exactly as if it had been built there."""
    sql = session._jvm.org.apache.spark.sql
    dataset = sql.classic.Dataset if _CLASSIC_DATASET else sql.Dataset
    jdf = dataset.ofRows(session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jdf, session)
