"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same logical plans that pass correctness at
sf0.01 remain sane on a large cluster: AQE handles runtime
coalescing/skew, timestamps are pinned to UTC so results are
environment-independent, and Arrow is enabled for every pandas-UDF
exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One knob per env var so the driver/bench can resize without code edits;
# unset, use this host's cores (more local threads than cores only
# oversubscribes them).
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())


def get_spark(
    app_name: str = "trello_github_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting,
        # dynamic broadcast decisions — the per-run re-planner that
        # makes one logical plan survive sf0.001 → 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic, environment-independent timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDF / toPandas exchanges.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Prune nested struct fields down to the parquet reader.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Older events.parquet files carry TIMESTAMP(NANOS), which the
        # vectorized reader rejects unless it reads them as long;
        # io.load_table sets this itself when the footer says so and
        # converts to µs (data is µs-precision, lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local-mode shuffle sizing; AQE coalesces below this cap.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(DEFAULT_CPUS) * 2),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
