"""SparkSession factory.

Replaces the reference's GlueContext bootstrap (see reference
``src/bronze/job-bronze-rues.py:24-35``) with plain open-source Spark.

Scale posture: AQE (runtime coalescing + skew-join splitting) is on so the
same plans survive a 1000-executor cluster; shuffle partitions default to the
local core count but are env-overridable; session timezone is pinned to UTC
so results are reproducible against external oracles.

Python workers: every session runs Spark's Python worker daemon from this
package (``pyworker.py``), which skips PySpark's per-task import-cache flush
when nothing importable changed (docs/SCALE.md, "Python-worker task
floor"). Workers find the package through ``spark.executorEnv.PYTHONPATH``,
set to the package's parent directory, so UDF queries run from any working
directory. On a cluster the executors must be able to import the package
before their first Python task: install it on every node, or put a zip of it
on the executors' PYTHONPATH at launch (``--py-files`` on YARN).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference silver/gold jobs set LEGACY parquet rebase modes because RUES
# has pre-Gregorian-cutover dates (reference src/silver/job-silver-rues.py:44-45).
_LEGACY_REBASE = {
    "spark.sql.parquet.datetimeRebaseModeInWrite": "LEGACY",
    "spark.sql.parquet.int96RebaseModeInWrite": "LEGACY",
}

# Python workers fork from the engine's daemon (pyworker.py), and they
# import the package (daemon and UDF closures) from its parent directory,
# whatever the working directory.
_DAEMON_MODULE = f"{__package__}.pyworker"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    """Cores to use locally: $SPARK_GRAFT_CPUS, else all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_session(
    app_name: str = "big_data_processing_with_aws_glue_workshop_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    - ``spark.sql.ansi.enabled=false``: the reference ran on Spark 3.3/3.5
      (Glue 4/5) with ANSI off; its semantics (``to_date`` -> NULL on bad
      input, silent overflow-free casts) are part of the contract.
    - AQE + coalesce + skew-join: plans self-tune at any scale factor.
    - Arrow: fast toPandas / pandas_udf transfer for the extension operators.
    - ``spark.python.daemon.module``: the engine's worker daemon (above).
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # default: one shuffle partition per core (scale posture: on a real
        # cluster this is sized to total cores x 2-3); $SPARK_GRAFT_SHUFFLE
        # overrides for latency-sensitive small-data runs
        env_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE")
        shuffle_partitions = int(env_shuffle) if env_shuffle else max(4, cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet TIMESTAMP(NANOS) (e.g. the events table) is unreadable by
        # default; read as int64 nanos and convert at the source wrapper
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in _LEGACY_REBASE.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.python.daemon.module", _DAEMON_MODULE).config(
        "spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
