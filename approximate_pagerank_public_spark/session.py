"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB;
in this sandbox it runs on ``local[N]``. All tuning lives here so tests,
bench and the driver share one config surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "approximate-pagerank-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Settings rationale (targets 1000-executor / 100 TB deployments even
    though tests run local):

    - AQE on: runtime coalescing + skew-join splitting for the ETL /
      relational stages. The iterative superstep loop controls its own
      partitioning explicitly (``plans.graph``), so AQE does not destabilize
      it.
    - Arrow enabled with a bounded batch size: the SpMV kernel streams
      per-partition CSR blocks as Arrow batches; 64k rows/batch keeps the
      NumPy working set per task in L2/L3 rather than blowing executor
      memory at scale.
    - shuffle partitions default to 32 locally (``local[32]``); on a real
      cluster set ``spark.sql.shuffle.partitions`` ~ 2-3x total cores.
    - Driver results (:func:`upload_frame`) above 1 MiB
      upload as an RDD of Arrow batches instead of a driver-side
      ``LocalRelation``. Spark's 48 MiB default keeps every scan of a
      mid-size result on the driver: an 8-source BFS result of 10⁶ rows
      followed by a count, a groupBy, a join against 2·10⁶ rows and a
      ``toPandas`` measured 13.7 s as a ``LocalRelation`` and 2.3 s as
      an RDD upload (local[4], 4-core VM, medians). RDD uploads carry no
      size statistics, so joins do not auto-broadcast them; uploads
      below the threshold stay ``LocalRelation``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.localRelationThreshold", "1048576")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # deterministic float behavior for golden parity
        .config("spark.sql.ansi.enabled", "false")
    )
    return builder.getOrCreate()


def upload_frame(spark: SparkSession, pdf, schema: str) -> DataFrame:
    """A driver result as a DataFrame of ``schema``: one Arrow upload of
    ``pdf``, or, when it is empty, an RDD of no partitions (PySpark
    plans an empty pandas upload as ``spark.default.parallelism`` empty
    partitions, so every job over it would launch a stage of empty
    tasks)."""
    if len(pdf) == 0:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    return spark.createDataFrame(pdf, schema)
