"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def get_spark(
    app_name: str = "mario_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are tuned for the sandbox (single-JVM local mode) but every
    knob matters identically on a real cluster:

    - AQE on: runtime coalescing of shuffle partitions + skew-join
      splitting. Our explicit salting (postings build) covers the groupBy
      skew AQE does not.
    - shuffle.partitions sized to cores locally; on a 1000-executor
      cluster this should be ~2-3x total cores (set via spark-submit).
    - Arrow enabled for all pandas UDF exchange.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-built frame (query terms, expansion inputs) that
    costs no Spark job to collect or join.

    `spark.createDataFrame(list, schema)` parallelizes a Python-list
    RDD: every collect of it launches a job (0.3-0.5 s on a 4-core
    box). A pandas frame crosses through Arrow into a local relation
    instead (Arrow is on in get_spark). PySpark sends an EMPTY pandas
    frame down the list path, so no rows become a `WHERE false`
    projection, which the optimizer folds into an empty local
    relation."""
    st = DataType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        return spark.range(1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        ).where(F.lit(False))
    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=st.names), st
    )
