"""Tuned SparkSession factory.

Defaults chosen for the 100 TB design target: AQE on (runtime
coalescing + skew-join handling), Arrow for the Python boundary,
shuffle partition count sized by env.  On a real cluster the same
session config scales by raising ``spark.sql.shuffle.partitions``
(or letting AQE coalesce) — nothing in the engine assumes local mode.

Python workers:

- ``spark.executorEnv.PYTHONPATH`` starts with the directory that holds
  the ``goka_spark`` package (any caller value follows), so a UDF that
  calls into goka_spark runs whatever the working directory.
- ``spark.python.daemon.module`` is ``goka_spark.pyworker``. PySpark's
  worker calls ``importlib.invalidate_caches()`` before every task, and
  on CPython 3.10-3.12 each cached ``zipimporter`` then re-reads its
  archive's directory: 14+ importers over ``pyspark.zip``'s 1328
  entries, 110-120 ms. The daemon re-reads an archive only when its
  inode, size or mtime changed. Worker CPU per task, 4-vCPU box,
  CPython 3.11: a one-row ``mapInPandas`` task went from about 265 ms
  (16 directory reads) to about 47 ms (none), a streaming
  ``stateful_fold`` task from about 525 ms to about 93 ms. Nothing is
  installed on CPython 3.13+, whose ``invalidate_caches`` only drops
  the cache entry.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the goka_spark package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(app_name: str = "goka_spark", **extra: str) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "goka_spark.pyworker")
    )
    key = "spark.executorEnv.PYTHONPATH"
    extra[key] = os.pathsep.join(p for p in (_ROOT, extra.get(key)) if p)
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
