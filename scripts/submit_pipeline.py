"""spark-submit entry point for the KG pipeline (north rule: "ships via
spark-submit --py-files").

Usage (cluster):
    make package
    spark-submit --py-files dist/ehr_relation_extraction_spark.zip \
        scripts/submit_pipeline.py \
        --pages /path/to/pages_parquet --out /path/to/kg_out \
        [--from-documents /root/testdata/sf0.01] [--run-id r1]

The job is the checkpointed stage pipeline (plans/stages.py): pages ->
shards/mentions -> candidates -> relations -> triples -> linked ->
components -> nodes/edges, resumable per stage.  Each completed stage
leaves a lineage file with one row per data file of its table, read
from the parquet footers without a Spark job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet dir with pages-shaped rows")
    ap.add_argument("--from-documents",
                    help="driver documents.parquet dir to adapt into pages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run")
    args = ap.parse_args()

    from ehr_relation_extraction_spark.session import get_spark
    from ehr_relation_extraction_spark.plans.stages import run_pipeline
    from ehr_relation_extraction_spark.sources.pages import (
        pages_from_documents, read_pages)

    spark = get_spark(app_name=f"kg-pipeline-{args.run_id}")
    if args.from_documents:
        pages = pages_from_documents(spark, args.from_documents)
    elif args.pages:
        pages = read_pages(spark, args.pages)
    else:
        raise SystemExit("need --pages or --from-documents")

    frames = run_pipeline(spark, pages, args.out, run_id=args.run_id)
    summary = {
        "run_id": args.run_id,
        "events": frames["_runner"].events,
        "triples": frames["triples"].count(),
        "nodes": frames["nodes"].count(),
        "edges": frames["edges"].count(),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
