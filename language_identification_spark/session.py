"""SparkSession factory with scale-oriented defaults.

Configs chosen for the 100 TB design point (SURVEY.md §4.2):

- AQE on (coalesce shuffle partitions, skew-join splitting, dynamic broadcast):
  at 1000 executors the static shuffle-partition count is always wrong for some
  stage; AQE re-plans from runtime stats.
- ``spark.sql.files.maxPartitionBytes`` = 128 MiB so each scan task gets a
  memory-bounded slice of the input regardless of file layout.
- Arrow batch size bounded (``maxRecordsPerBatch``): documents can be up to
  10 MiB (reference preprocessing.py:13 BYTE_LENGTH_LIMIT), so an unbounded
  batch could hold GiBs in a single Python worker.
- Broadcast threshold left at default; dimension tables (langid model, badword
  lists, script index) are broadcast explicitly with ``F.broadcast`` /
  ``sc.broadcast`` so the plan does not depend on size estimation.

Locally we run ``local[N]`` (single JVM, N threads). The same configs apply
unchanged on a real cluster; nothing here assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)


def get_spark(
    app_name: str = "language-identification-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to 2x cores locally; on a real cluster it
    should be set to ~2-3x total executor cores, or simply left to AQE's
    coalescing (initialPartitionNum high, coalesce down).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
