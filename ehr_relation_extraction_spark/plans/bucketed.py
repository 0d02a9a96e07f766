"""Bucketed stage tables: persist the hash partitioning IN the table
layout so repeated equi-joins on the stage key never shuffle again.

At 100 TB the url-keyed stages (shards, mentions, candidates) are
joined on the same key over and over; every such join normally pays a
full shuffle of both sides.  ``bucketBy(N, key) + sortBy(key)`` writes
each stage pre-hash-partitioned and pre-sorted, so a downstream
SortMergeJoin between two tables bucketed the same way reads the
buckets co-located — ZERO Exchange in the plan (asserted in
tests/test_plans.py).  This is the Spark-native parquet form of the
Iceberg ``bucket(N, url)`` partition transform SURVEY §7.0 targets
(blocked on the iceberg-spark-runtime jar in this sandbox; the table
layout and join behavior are identical).

Sizing note: pick n_buckets so one bucket of the LARGEST co-bucketed
stage fits an executor's memory at the target SF — buckets are the
unit of join parallelism and cannot be split further (no AQE inside a
bucket), so at 100 TB prefer more, smaller buckets (e.g. 4096) over
fewer, larger ones.  The staged job (plans/stages.py) follows this by
taking its bucket count from ``spark.sql.shuffle.partitions``: size the
session's shuffle partitions for the target SF and the url-keyed stage
tables follow, while a small session writes few files per task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   path: str, n_buckets: int = 32) -> None:
    """Write ``df`` as a bucketed external table (data at ``path``,
    bucketing spec in the session catalog).  Sorted within buckets on
    the same keys so the merge join needs no sort either."""
    (df.write.bucketBy(n_buckets, *keys).sortBy(*keys)
     .option("path", os.path.join(path, table))
     .mode("overwrite").saveAsTable(table))


def colocated_join(spark: SparkSession, left: str, right: str,
                   keys: list[str]) -> DataFrame:
    """Join two same-bucketed stage tables on their bucket keys — the
    plan is a SortMergeJoin over co-located buckets with no Exchange."""
    return spark.table(left).join(spark.table(right), keys)
