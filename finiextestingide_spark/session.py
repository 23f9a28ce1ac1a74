"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replace any hand-tuned partition counts when data sizes vary 1000x.
- ``spark.sql.shuffle.partitions`` is only the *pre-AQE upper bound*; on a
  real cluster it should be ~2-3x total cores. Locally we default to the
  core count so tiny test shuffles don't fan out into thousands of empty
  tasks.
- Arrow is enabled for every pandas interchange (the replay operator and the
  EMA-family indicators are `applyInPandas`; Arrow batching is the 10-100x
  difference vs row-at-a-time).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver's testdata stores
  `events.ts` as Parquet TIMESTAMP(NANOS) which Spark's vectorized reader
  refuses; we read it as a long and convert ns -> us in sources.tables
  (values are microsecond-precision, so the conversion is lossless).
- Session timezone pinned to UTC: the reference converts everything to UTC
  at ingest (reference: python/data_management/importers/tick_importer.py:413-450);
  we do the same at the session level.
- ``spark.executorEnv.PYTHONPATH`` carries the package's parent directory
  (merged ahead of any caller-supplied value): without it Python workers
  find the package only through the driver's working directory, and a
  run started outside the repo fails in the worker with
  ``ModuleNotFoundError``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds the ``finiextestingide_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "finiextestingide-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.pop("spark.executorEnv.PYTHONPATH", None)) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
