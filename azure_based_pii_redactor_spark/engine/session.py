"""SparkSession factory with scale-oriented defaults.

Local mode here is a stand-in for a multi-executor cluster: every setting
below is chosen to survive a 1000-executor / 100 TB deployment, not just
local[32] (SURVEY.md section 4 "what we must do explicitly").

- AQE on (runtime coalescing + skew-join splitting backstop).
- shuffle.partitions sized to cores locally; on a real cluster this is
  set to ~2-3x total executor cores via spark-submit conf.
- maxPartitionBytes 128 MB: uniform input splits for the Arrow kernel.
- Arrow enabled + bounded batch size so pandas-UDF batches have
  predictable memory (the fused kernel holds one batch of pages at a
  time; 10k rows x ~4 KB text ~= 40 MB per batch per core).
- UTC session timezone (DuckDB-oracle comparison contract).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 10_000


def build_session(
    app_name: str = "azure_based_pii_redactor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = n.split(",")[0]  # legal syntax: local[N,maxFailures]
        try:
            shuffle_partitions = max(int(n), 1)
        except ValueError:
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def job_description(spark: SparkSession, label: str):
    """Label every Spark job started inside the block with ``label`` (the
    event log and the status store attribute their time to it), then
    restore the caller's own description -- also when the block raises."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(label)
    try:
        yield
    finally:
        # None removes the property again
        sc.setLocalProperty(_JOB_DESCRIPTION, prev)
