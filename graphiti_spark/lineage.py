"""Per-stage lineage manifests + idempotent resume (north-rule requirement).

Every checkpointed stage writes, next to its parquet output, a manifest
    _manifest.json: {stage, input_fingerprint, row_count, content_hash,
                     partitions: {group_id: rows}, written_at}
A stage re-run with the same input fingerprint is skipped and its output
reloaded — so any stage resumes idempotently after failure. The content
hash is order-insensitive (sum of per-row xxhash64), cheap, and computed
in the same job that writes the data.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def df_fingerprint(df: DataFrame) -> dict:
    """Order-insensitive content hash + per-group row counts in one pass."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    hashed = df.select(
        (F.col("group_id") if "group_id" in df.columns else F.lit("_")).alias("g"),
        F.xxhash64(F.concat_ws("\x1e", *cols)).cast("decimal(38,0)").alias("h"),
    )
    rows = hashed.groupBy("g").agg(F.count("*").alias("n"), F.sum("h").alias("s")).collect()
    total = int(sum(r["n"] for r in rows))
    content = int(sum(int(r["s"] or 0) for r in rows)) % (1 << 63)
    return {
        "row_count": total,
        "content_hash": content,
        "partitions": {r["g"]: int(r["n"]) for r in rows},
    }


class StageRunner:
    """Checkpoint each stage to parquet + manifest; skip stages whose input
    fingerprint already matches (resume-after-failure semantics)."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None):
        self.spark = spark
        self.dir = checkpoint_dir
        self.metrics: list[dict] = []
        # every frame persist()ed by in-memory stages (plus operator-internal
        # caches registered by the pipeline); released by the pipeline's
        # `release()` handle so long-lived sessions (streaming foreachBatch,
        # notebooks) don't accumulate per-batch cache blocks
        self.persisted: list[DataFrame] = []

    def run(self, stage: str, input_fingerprint: str, build) -> DataFrame:
        """build: () -> DataFrame. Returns the (possibly reloaded) output."""
        t0 = time.time()
        if self.dir is None:
            # in-memory mode: persist + EAGER count. Downstream actions
            # reference these frames twice (self-joins, subj/obj map joins);
            # materializing lazily would let both branches race to populate
            # the same cache blocks — duplicated upstream computation plus
            # block-lock contention that grows with core count. (An eager
            # localCheckpoint would execute through AQE — persist compiles
            # without it — but its blocks escape release()/unpersist, which
            # the streaming soak guarantee depends on.)
            df = build().persist()
            self.persisted.append(df)
            n = df.count()
            self.metrics.append(
                {"stage": stage, "sec": round(time.time() - t0, 3), "rows": n}
            )
            return df

        path = os.path.join(self.dir, stage)
        mpath = os.path.join(path, MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
            if manifest.get("input_fingerprint") == input_fingerprint:
                self.metrics.append({"stage": stage, "sec": 0.0, "resumed": True})
                return self.spark.read.parquet(path)

        df = build()
        writer = df.write.mode("overwrite")
        if "group_id" in df.columns:
            writer = writer.partitionBy("group_id")
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        manifest = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            **df_fingerprint(out),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1)
        self.metrics.append(
            {"stage": stage, "sec": round(time.time() - t0, 3), "rows": manifest["row_count"]}
        )
        return out

    def run_concurrently(self, input_fingerprint: str, **builds) -> list[DataFrame]:
        """Run mutually independent stages as concurrent actions from a
        thread pool; outputs in argument order. Each job alone can't fill
        the machine, and overlapping hides per-job scheduling barriers."""
        with ThreadPoolExecutor(max_workers=len(builds)) as pool:
            futures = [
                pool.submit(self.run, stage, input_fingerprint, build)
                for stage, build in builds.items()
            ]
            return [f.result() for f in futures]
