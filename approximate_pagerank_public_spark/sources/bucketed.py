"""Bucketed table layout: persistent co-location that deletes shuffles.

Spark bucketing (`DataFrameWriter.bucketBy`) hash-partitions a table's
FILES by a key at write time and records the layout in the catalog.
Every later equi-join or aggregation on that key can then skip its
exchange entirely — across jobs, sessions, and (on a real cluster)
executors, which is exactly what an iterative engine wants for a graph
that is written once and joined against thousands of times: at 100 TB
the dominant cost of a repeated `contribs JOIN state ON dst` plan is
the per-superstep hash exchange of the edge side, and a dst-bucketed
edge table removes it for good (the in-session equivalent is the
Graph's persisted dst-hash layout; bucketing is the cross-job,
cross-cluster-restart form).

The number of buckets is the co-location contract: both join sides
must agree (or be one-sided with
``spark.sql.bucketing.coalesceBucketsInJoin.enabled``). Pick it like
shuffle partitions — data size / healthy partition size — and keep it
a multiple of the cluster's task-slot count.

These helpers stay catalog-agnostic: an explicit ``path`` makes the
table EXTERNAL (data under your control, catalog holds only layout
metadata), which is the sane mode for shared warehouse dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (optionally per-bucket-sorted)
    catalog table. ``sort_cols`` additionally sorts within each bucket
    file, which upgrades later merge-joins on (bucket, sort) keys to
    zero-sort zero-shuffle plans."""
    w = df.write.format(format).mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_equijoin(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Equi-join two catalog tables on their bucket key. With matching
    bucket specs on both sides this plans WITHOUT any exchange
    (``plans/shape.py::plan_shape`` counts none — regression-tested)."""
    return spark.table(left_table).join(spark.table(right_table), on)
