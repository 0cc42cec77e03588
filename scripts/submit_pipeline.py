"""spark-submit entry point for the KG-construction batch job.

Cluster usage (the north-rule invocation):

    spark-submit \
      --py-files graphiti_spark.zip \
      scripts/submit_pipeline.py \
      --input  s3://bucket/web_pages/            # Iceberg/parquet table \
      --output s3://bucket/graph/                # nodes/edges/mentions/... \
      --checkpoint-dir s3://bucket/graph/_stages # per-stage manifests \
      --group-col-from-url --lang en

In-sandbox (no cluster, no Iceberg runtime jar) the same script runs on
local[N] against parquet; the store is the ParquetStore MERGE fallback —
swap `store.merge_upsert` for `spark.sql("MERGE INTO ...")` when the
iceberg-spark-runtime jar is on the classpath (SURVEY.md §7 Hard parts).
The batch tables go through store.merge_tables, as in GraphitiSpark. No
D11 against the graph already at --output: the stage checkpoints'
fingerprints cover the input, not the store's snapshot.

Resumability: every stage writes a lineage manifest
(stage, input_fingerprint, row_count, content_hash, per-partition rows);
re-running with the same input skips completed stages (lineage.StageRunner).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# runnable both via spark-submit --py-files (package on the PYTHONPATH) and
# directly from a repo checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="web_pages table path (parquet)")
    ap.add_argument("--output", required=True, help="output root for graph tables")
    ap.add_argument("--checkpoint-dir", default=None, help="stage checkpoint/manifest dir")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--no-embeddings", action="store_true")
    ap.add_argument("--communities", action="store_true", help="also build community tables")
    args = ap.parse_args()

    from graphiti_spark.pipeline import run_pipeline
    from graphiti_spark.session import get_spark
    from graphiti_spark.store import ParquetStore, batch_tables, merge_tables
    from graphiti_spark.operators.communities import build_community_tables

    spark = get_spark("graphiti-spark-ingest")
    t0 = time.time()
    pages = spark.read.parquet(args.input)
    result = run_pipeline(
        spark,
        pages,
        lang=args.lang,
        checkpoint_dir=args.checkpoint_dir,
        with_embeddings=not args.no_embeddings,
    )

    store = ParquetStore(spark, args.output)
    merge_tables(store, batch_tables(result))
    if args.communities:
        comms, members = build_community_tables(result["nodes"], result["edges"])
        store.overwrite("communities", comms)
        store.overwrite("community_members", members)

    n_edges = store.read("edges").count()
    elapsed = time.time() - t0
    print(
        json.dumps(
            {
                "elapsed_sec": round(elapsed, 1),
                "triples": n_edges,
                "triples_per_sec": round(n_edges / elapsed, 1),
                "stages": result["metrics"],
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
