"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the conf choices below are the ones
that carry to a real cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), explicit shuffle partitions, Arrow
enabled for pandas UDFs and ``createDataFrame``/``toPandas`` (the Avro
codec functions hand Spark Arrow themselves), UTC session timezone so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "redshift-avro-spark",
    cpus: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict[str, str]] = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Executors run separate Python workers that must import this package.
    # Locally that means PYTHONPATH (inherited by forked workers); on a real
    # cluster the same root would ship via --py-files / spark.submit.pyFiles
    # (the reference's zip-to-S3 bundling, python-udf/package.sh:1-5).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
