"""Scale-adaptive fuzzy dedup: the in-process driver path and the
distributed LSH band join must emit identical pairs (same kernels, same
bucket cap, same Jaccard threshold)."""

from pyspark.sql import functions as F  # noqa: F401

from graphiti_spark.operators.node_dedup import fuzzy_duplicate_pairs, name_keys


def _keys(spark):
    names = [
        "Acme Corporation",
        "Acme Corporation Inc",
        "Acme  corporation",
        "Bob Smith",
        "Bob Smith Jr",
        "Completely Different Name",
        "zq",  # low-entropy, gated out
        "International Business Machines",
        "International Business Machine",
    ]
    rows = [("g1", n, "Entity", None) for n in names] + [
        ("g2", n, "Entity", None) for n in names[:3]
    ]
    m = spark.createDataFrame(
        rows, schema="group_id string, name string, entity_type string, ep_valid_at timestamp"
    )
    return name_keys(m)


def test_driver_path_matches_distributed(spark):
    keys = _keys(spark)
    drv = {(r["a"], r["b"]) for r in fuzzy_duplicate_pairs(keys).collect()}
    dist = {(r["a"], r["b"]) for r in fuzzy_duplicate_pairs(keys, driver_threshold=0).collect()}
    assert drv == dist
    assert drv  # the name variants above must produce at least one pair


def test_pairs_stay_within_group(spark):
    keys = _keys(spark)
    pre = {r["pre_id"]: r["group_id"] for r in keys.collect()}
    for r in fuzzy_duplicate_pairs(keys).collect():
        assert pre[r["a"]] == pre[r["b"]]


def test_distributed_fuzzy_features_released_with_run(spark, monkeypatch):
    """The distributed fuzzy leg's persisted feature frame belongs to the
    run: after run_pipeline's release() no cached RDD is left behind."""
    from datetime import datetime, timezone

    from graphiti_spark.datagen import generate_web_pages
    from graphiti_spark.operators import node_dedup
    from graphiti_spark.pipeline import run_pipeline
    from graphiti_spark.schemas import WEB_PAGES

    monkeypatch.setattr(node_dedup, "DRIVER_FUZZY_MAX_KEYS", 0)
    rows = generate_web_pages(n_pages=30, seed=42)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    )

    def cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = cached()
    result = run_pipeline(
        spark, pages, now=datetime(2026, 8, 16, tzinfo=timezone.utc),
        with_embeddings=False,
    )
    assert result["edges"].count() > 0
    assert cached() > before
    result["release"]()
    assert cached() == before
