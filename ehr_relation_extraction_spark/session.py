"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-at-scale semantics:
- AQE on (runtime shuffle coalescing + skew-join splitting) — the pair
  self-join is the skew hotspot (SURVEY §4.2.1).
- Arrow enabled and batch-capped so mapInPandas stages see bounded
  batches regardless of document size.
- Shuffle partition count from env so the same code runs local[8] /
  local[32] / a real cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kg-construct",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Subset-key co-partitioning (guide §2.4 "share one exchange"):
        # the pipeline establishes HashPartitioning(url) once (the
        # persisted pairing input) and every downstream op clusters on
        # url-prefixed keys — (url, shard_id) pair join, per-url R-id
        # windows, triple dedup/wide aggregates.  With the default
        # (true) the planner re-exchanges BOTH pair-join sides because
        # the partitioning keys are a strict subset of the join keys;
        # allowing subset co-partitioning removes two full exchanges of
        # the candidate stream at any scale (url is the highest-
        # cardinality key in the engine, so subset partitioning loses
        # no parallelism).  Measured sf1.0 local[32]: candidates 0.75
        # -> 0.13 s, triples 0.91 -> 0.23 s.
        # The conf is session-global: every join of every query built on
        # this session may reuse a partitioning on a subset of its keys.
        # Results stay correct, but a join whose subset key has few
        # distinct values (or a hot one) then runs with low parallelism
        # or skew; outside the url-keyed pipeline, repartition on the
        # full join key when that matters.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
