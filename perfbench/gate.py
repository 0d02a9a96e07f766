"""Correctness checks on a finished job, run outside the timed region.

- ``triple_prf``: triple micro precision/recall of the job's ``triples``
  table against ``oracle.reference_quirks.run_pipeline`` over the same
  pages (the reference-parity gate, P and R >= 0.95).
- ``digest``: an order-independent digest of the ``triples``, ``nodes``
  and ``edges`` tables, so every job of a workload, and a resumed job
  against its full run, can be checked for identical output.

Both read the stage tables' parquet files directly, so they start no
Spark job.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

MIN_PR = 0.95
DIGEST_TABLES = ("triples", "nodes", "edges")
STAGES = ("pages", "shards", "mentions", "candidates", "relations",
          "triples", "linked", "components", "nodes", "edges")


def read_stage(out_dir: str, stage: str, columns: list[str] | None = None):
    """A stage table as a pyarrow Table (files starting with '.' or '_'
    are skipped, as Spark does)."""
    return pq.read_table(os.path.join(out_dir, stage), columns=columns)


def stage_rows(out_dir: str, stage: str) -> int:
    """Row count of a stage table from its parquet footers."""
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in data_files(os.path.join(out_dir, stage)))


def data_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if not f.startswith((".", "_")))


def digest(out_dir: str) -> str:
    """sha256 over each table sorted by all its columns, serialized as
    one Arrow IPC batch, so file and row order do not matter."""
    h = hashlib.sha256()
    for stage in DIGEST_TABLES:
        t = read_stage(out_dir, stage)
        t = t.select(sorted(t.column_names)).replace_schema_metadata(None)
        t = t.sort_by([(n, "ascending") for n in t.column_names]).combine_chunks()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(stage.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def reference_triples(pages: list[dict]) -> set[tuple]:
    from ehr_relation_extraction_spark.oracle import reference_quirks as rq

    return {(p["url"], s, pred, o)
            for p in pages
            for (s, pred, o) in rq.run_pipeline(p["text"])["triples"]}


def triple_prf(out_dir: str, reference: set[tuple]) -> tuple[float, float]:
    t = read_stage(out_dir, "triples", ["url", "subj", "pred", "obj"])
    got = set(zip(*(t.column(n).to_pylist()
                    for n in ("url", "subj", "pred", "obj"))))
    tp = len(got & reference)
    p = tp / len(got) if got else 1.0
    r = tp / len(reference) if reference else 1.0
    return p, r
