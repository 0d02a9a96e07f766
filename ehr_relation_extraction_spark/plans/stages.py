"""Checkpointed stage execution with per-partition lineage + resume.

The reference caches stage outputs as pickles keyed by config
(biobert_ner/utils_ner.py:92-126); the Spark-native equivalent is
write-once stage tables: a stage whose output table already exists
(_SUCCESS marker) is skipped on re-run, so a killed job resumes from
the last completed boundary (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Lineage: every completed stage leaves one small parquet file,
``<out_dir>/_lineage/<run_id>-<stage>.parquet``, with one row per
data file of the stage table — (run_id, stage, partition_id, n_rows,
wall_ms).  ``partition_id`` is the file's ordinal in the sorted
listing of the stage directory, and ``n_rows`` comes from that file's
parquet footer, read on the driver.  Lineage therefore describes the
durable artifact, not a transient shuffle, and costs no Spark job.

Buckets: the url-keyed stages (shards, mentions) are written with
``spark.sql.shuffle.partitions`` buckets, the session's own
parallelism.  Both get the same count, so their pairing join reads
co-located buckets with no Exchange, and a small session does not pay
for a fixed fan-out of files per task.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()),
    ("partition_id", pa.int32()), ("n_rows", pa.int64()),
    ("wall_ms", pa.int64())])


def _success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _data_files(path: str) -> list[str]:
    """The files Spark reads as the table at ``path``, sorted; like
    Spark, skip names starting with '_' or '.' (markers, checksums)."""
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if not f.startswith(("_", ".")))


class StageRunner:
    """``fmt``: "parquet" (default) or "iceberg".  The production target
    is partitioned Iceberg tables (north rule); this sandbox has no
    iceberg-spark-runtime jar and no network, so parquet stage tables
    with identical schemas are the documented fallback (SURVEY §7.0).
    With the jar present, pass fmt="iceberg" and a catalog namespace —
    stages then land as ``{catalog}.{stage}`` tables and resume checks
    table existence instead of _SUCCESS markers.
    """

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str = "run",
                 fmt: str = "parquet", catalog: str | None = None):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.fmt = fmt
        self.catalog = catalog
        self.events: list[dict] = []
        os.makedirs(out_dir, exist_ok=True)

    def _file_rows(self, stage: str) -> list[int]:
        """Row count of each data file of the stage table, in file
        order, from metadata only: parquet footers, or the per-file
        ``record_count`` of Iceberg's ``.files`` metadata table."""
        if self.fmt == "iceberg":
            files = self.spark.read.table(f"{self.catalog}.{stage}.files")
            return [r[0] for r in files.orderBy("file_path")
                    .select("record_count").collect()]
        return [pq.read_metadata(f).num_rows
                for f in _data_files(os.path.join(self.out_dir, stage))]

    def _lineage(self, stage: str, df: DataFrame, wall_ms: int) -> None:
        """Write the stage's lineage file (module docstring).  ``df`` is
        the stage table as written; its rows are never scanned."""
        rows = self._file_rows(stage)
        n = len(rows)
        table = pa.table({
            "run_id": [self.run_id] * n, "stage": [stage] * n,
            "partition_id": list(range(n)), "n_rows": rows,
            "wall_ms": [wall_ms] * n}, schema=_LINEAGE_SCHEMA)
        lineage_dir = os.path.join(self.out_dir, "_lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        name = f"{self.run_id}-{stage}.parquet"
        # write under a hidden name, then rename: a reader of _lineage
        # never sees a half-written file
        tmp = os.path.join(lineage_dir, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(lineage_dir, name))

    def run(self, stage: str, build: Callable[[], DataFrame],
            bucket_keys: list[str] | None = None) -> DataFrame:
        """Materialize ``build()`` as the stage table, or read it back
        when a previous run completed it.

        ``bucket_keys``: write this stage as a BUCKETED table
        (bucketBy + sortBy on those keys) so downstream equi-joins on
        the stage key read co-located buckets with zero Exchange
        (plans/bucketed.py; the parquet form of Iceberg bucket(N, k)).
        The bucket count is the session's ``spark.sql.shuffle.partitions``,
        so every bucketed stage of one session shares it.  Resume still
        keys off the _SUCCESS marker at the stage path.

        A stage that runs then records its lineage from the written
        files' footers (module docstring) and rewrites the manifest."""
        if self.fmt == "iceberg":
            return self._run_iceberg(stage, build)
        path = os.path.join(self.out_dir, stage)
        table = f"stage_{self.run_id}_{stage}"
        if _success(path):
            self.events.append({"stage": stage, "action": "skipped"})
            if bucket_keys and self.spark.catalog.tableExists(table):
                return self.spark.table(table)  # bucketing spec intact
            # resumed in a fresh session: plain read (data identical;
            # the bucket spec needs a persistent metastore/Iceberg to
            # survive sessions — documented limitation)
            return self.spark.read.parquet(path)
        t0 = time.time()
        if bucket_keys:
            n_buckets = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            (build().write.bucketBy(n_buckets, *bucket_keys)
             .sortBy(*bucket_keys).option("path", path)
             .mode("overwrite").saveAsTable(table))
            out = self.spark.table(table)
        else:
            df = build()
            df.write.mode("overwrite").parquet(path)
            # the schema is known: passing it skips the Spark job that
            # infers it from a footer (the read is nullable either way)
            out = self.spark.read.schema(df.schema).parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        self._lineage(stage, out, wall_ms)
        self.events.append({"stage": stage, "action": "ran", "wall_ms": wall_ms})
        self._write_manifest()
        return out

    def _run_iceberg(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Iceberg stage tables (requires iceberg-spark-runtime on the
        classpath and a configured catalog — untestable in this sandbox,
        kept as the documented production path).  Lineage takes each
        data file's ``record_count`` from the table's ``.files``
        metadata table, which reads manifests and never scans data."""
        name = f"{self.catalog}.{stage}"
        if self.spark.catalog.tableExists(name):
            self.events.append({"stage": stage, "action": "skipped"})
            return self.spark.read.table(name)
        t0 = time.time()
        build().writeTo(name).createOrReplace()
        out = self.spark.read.table(name)
        wall_ms = int((time.time() - t0) * 1000)
        self._lineage(stage, out, wall_ms)
        self.events.append({"stage": stage, "action": "ran", "wall_ms": wall_ms})
        self._write_manifest()
        return out

    def _write_manifest(self) -> None:
        with open(os.path.join(self.out_dir, "_manifest.json"), "w") as f:
            json.dump({"run_id": self.run_id, "events": self.events}, f, indent=1)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "_lineage"))


def run_pipeline(spark: SparkSession, pages_raw: DataFrame, out_dir: str,
                 run_id: str = "run") -> dict[str, DataFrame]:
    """Materialize the full KG pipeline with resumable stage boundaries.

    Stage graph: pages -> shards/mentions -> candidates -> relations ->
    triples -> linked -> components -> nodes/edges.  Each stage reads
    the *checkpointed* upstream table, so a resume recomputes nothing
    upstream of the first missing table.
    """
    from ..operators import linking as lk
    from ..operators import ner, pairs as pairs_op
    from ..operators import relations as rel_op, triples as tri_op
    from ..sources.pages import extract_text

    r = StageRunner(spark, out_dir, run_id)
    pages = r.run("pages", lambda: extract_text(pages_raw))
    # url-keyed stages land BUCKETED so the pairing join (and any later
    # url-keyed join in the same session) reads co-located buckets
    shards = r.run("shards", lambda: ner.build_shards(pages),
                   bucket_keys=["url"])
    mentions = r.run("mentions", lambda: ner.detect_mentions_df(pages),
                     bucket_keys=["url"])
    candidates = r.run("candidates", lambda: pairs_op.candidate_pairs(
        pairs_op.shard_mentions(mentions, shards)))
    relations = r.run("relations", lambda: rel_op.keep_positive(
        rel_op.classify_rule(candidates)))
    triples = r.run("triples", lambda: tri_op.dedup_triples(
        tri_op.long_triple_table(relations)))
    gaz = lk.gazetteer_df(spark)
    linked = r.run("linked", lambda: lk.link_mentions(mentions, gaz))
    components = r.run("components", lambda: lk.canonical_components(linked))
    nodes = r.run("nodes", lambda: lk.materialize_nodes(linked, components))
    edges = r.run("edges", lambda: lk.materialize_edges(
        triples, linked, components, gaz))
    return {"pages": pages, "shards": shards, "mentions": mentions,
            "candidates": candidates, "relations": relations,
            "triples": triples, "linked": linked, "components": components,
            "nodes": nodes, "edges": edges, "_runner": r}
