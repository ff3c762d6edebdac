"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to cores
instead of the 200 default, Arrow enabled for the few pandas-UDF paths, and
UTC session timezone so results are oracle-comparable (DuckDB timestamps are
UTC-naive).

PySpark's DataFrame call-site capture is off: with it on, every Column
function and DataFrame method walks the Python stack and makes about nine
extra py4j round trips to record the caller for error messages. Building
the extraction cascade alone makes a few hundred such calls, so a
``run_pipeline`` build paid ~2,200 extra round trips (6,100 → 3,800).
The only loss: error messages no longer name the Python file:line of the
DataFrame call that built the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# -Duser.language/-Duser.country pin the JVM to a fixed English locale:
# UTF8String's non-ASCII lower() falls back to Java toLowerCase, which is
# locale-sensitive (a Turkish-locale JVM maps I→ı), and the Arrow kernels'
# Python tokenizer matches Spark's lower() only for en/ROOT, not for tr/az
# (round-4 advice). A plain session built elsewhere lacks this pin; the
# tokenization contract (functions.text.tokens_col) records the exposure.
DEFAULT_DRIVER_JAVA_OPTS = (
    "-Djava.net.preferIPv4Stack=true -Duser.language=en -Duser.country=US"
)


def get_spark(
    app_name: str = "cees",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or max(int(cores), 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", DEFAULT_DRIVER_JAVA_OPTS)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraJavaOptions":
            # merge, don't clobber: callers adding GC/JIT flags (bench.py)
            # must not silently drop the locale/IPv4 defaults
            v = f"{DEFAULT_DRIVER_JAVA_OPTS} {v}"
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
