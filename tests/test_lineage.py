"""North-rule resumability: per-stage lineage manifests + idempotent
resume (lineage.StageRunner), and episode entity_edges enrichment."""

import json
import os
from datetime import datetime, timezone

from pyspark.sql import functions as F

from graphiti_spark.datagen import generate_web_pages
from graphiti_spark.pipeline import run_pipeline
from graphiti_spark.schemas import WEB_PAGES

NOW = datetime(2026, 8, 16, tzinfo=timezone.utc)


def _pages(spark, n=60):
    rows = generate_web_pages(n_pages=n, seed=42)
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    )


def test_checkpoint_resume_skips_stages(spark, tmp_path):
    ck = str(tmp_path / "stages")
    pages = _pages(spark)
    r1 = run_pipeline(spark, pages, now=NOW, checkpoint_dir=ck, with_embeddings=False)
    n_edges_1 = r1["edges"].count()
    n_mentions_1 = r1["mentions"].count()
    stages_run_1 = {m["stage"] for m in r1["metrics"]}
    assert not any(m.get("resumed") for m in r1["metrics"])

    # manifests exist and carry lineage fields
    man_path = os.path.join(ck, "extraction", "_manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    assert man["row_count"] > 0 and "content_hash" in man and man["partitions"]

    # second run, same input: every stage resumes from its manifest
    r2 = run_pipeline(spark, pages, now=NOW, checkpoint_dir=ck, with_embeddings=False)
    assert {m["stage"] for m in r2["metrics"]} == stages_run_1
    assert all(m.get("resumed") for m in r2["metrics"])
    assert r2["edges"].count() == n_edges_1

    # simulate a failed stage: delete one manifest -> only that stage re-runs
    os.remove(os.path.join(ck, "mentions", "_manifest.json"))
    r3 = run_pipeline(spark, pages, now=NOW, checkpoint_dir=ck, with_embeddings=False)
    by_stage = {m["stage"]: m for m in r3["metrics"]}
    assert not by_stage["mentions"].get("resumed")
    assert by_stage["extraction"].get("resumed")
    assert r3["mentions"].count() == n_mentions_1


def test_durable_edges_match_in_memory(spark, tmp_path):
    """Durable and in-memory mode run the same stage chain: identical full
    edge tuples, temporal columns included. The durable edges_invalidate
    checkpoint holds the invalidation map, not a copy of the edge table."""
    from test_forced_distributed import _edge_tuples

    ck = str(tmp_path / "stages")
    pages = _pages(spark)
    in_memory = _edge_tuples(run_pipeline(spark, pages, now=NOW))
    durable = _edge_tuples(run_pipeline(spark, pages, now=NOW, checkpoint_dir=ck))
    assert durable == in_memory
    assert any(t[-1] is not None for t in durable)  # invalidation fired
    inv = spark.read.parquet(os.path.join(ck, "edges_invalidate"))
    assert sorted(inv.columns) == ["_later_min", "_self_min", "uuid"]


def test_episode_entity_edges(spark):
    pages = _pages(spark)
    res = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    eps = res["episodes_with_edges"]
    assert "entity_edges" in eps.columns
    # every edge uuid in entity_edges exists in the edge table
    edge_uuids = {r["uuid"] for r in res["edges"].select("uuid").collect()}
    listed = (
        eps.select(F.explode("entity_edges").alias("eu")).distinct().collect()
    )
    assert listed and all(r["eu"] in edge_uuids for r in listed)
    # episodes with no triples still appear, with empty arrays
    assert eps.filter(F.col("entity_edges").isNull()).count() == 0
