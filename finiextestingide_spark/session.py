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
- ``spark.python.daemon.module`` is ``finiextestingide_spark._worker_daemon``.
  ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of every Python task, and on
  CPython < 3.13 each ``zipimporter`` answers by re-parsing its whole archive.
  Workers import PySpark from ``pyspark.zip`` (1,328 entries, put ahead of
  ``PYTHONPATH`` by Spark) through ~16 importers, so every task paid
  0.19-0.37 s (4 vCPU) before its UDF started: as long as the replay of a
  25k-tick scenario. The daemon module re-reads an archive only when its
  ``(st_mtime_ns, st_size)`` changed, so a rewritten archive is still
  re-read; the call now takes ~0.2 ms. On CPython >= 3.13 it installs nothing
  and runs the stock ``pyspark.daemon``. ``spark.python.worker.module`` cannot
  carry the hook (``pyspark.daemon`` honours only ``pyspark*`` names).
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
        .config("spark.python.daemon.module", "finiextestingide_spark._worker_daemon")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
