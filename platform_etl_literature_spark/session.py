"""SparkSession factory.

Mirrors the session knobs of the reference ETL
(``spark/Helpers.scala:38-58`` in opentargets/platform-etl-literature):
``driver.maxResultSize=0``, ``mapKeyDedupPolicy=LAST_WIN``,
``broadcastTimeout=3000``, optional explicit master — plus the
modern-Spark settings the reference predates (AQE, Arrow).

Designed for a multi-executor cluster: nothing here assumes local mode.
``shuffle_partitions`` should be sized to cluster cores at deploy time
(AQE coalesces down at runtime, so err high for 100 TB inputs).

Every parquet write (the step outputs and the Word2Vec model save) is
zstd-compressed; a per-output ``IOResourceConfig.options["compression"]``
still overrides the codec.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of physical RAM.  In
    local mode the driver heap is the only heap; a heap as large as the
    box lets the kernel kill the JVM before the GC runs."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // 2**20}m"


def build_session(
    app_name: str = "platform-etl-literature-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the SparkSession with engine defaults.

    Parameters mirror the reference's ``getOrCreateSparkSession``
    (Helpers.scala:38-58); cluster deploys pass ``master=None`` and let
    spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        # only effective at first JVM launch; harmless afterwards
        .config("spark.driver.memory", default_driver_memory())
        # reference session conf (Helpers.scala:40-46)
        .config("spark.driver.maxResultSize", "0")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.broadcastTimeout", "3000")
        .config("spark.sql.debug.maxToStringFields", "2000")
        # modern engine defaults (post-date the reference's Spark 3.1)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # The expression staging renders hot projections as SQL
        # strings; their backslash escapes (the split and cleanup
        # regexes and the quoted stopwords such as 'aren\'t' that
        # functions/text._sql_str renders) assume the parser default
        # escapedStringLiterals=false.  Pin it explicitly so a legacy
        # override can never silently change a staged literal; a bare
        # session gets the same value as the Spark default.
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
