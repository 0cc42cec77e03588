"""Forced-distributed full-pipeline parity (round-4 verdict ask #5).

Every scale-adaptive operator has a driver-side fast path (probe fits on
the driver) and a distributed path (what actually runs at 100x). The
distributed branches are covered piecemeal by test_connected_components /
test_skew; THIS test runs the whole pipeline end-to-end with every
driver-path threshold forced to 0 — distributed LSH band join (D4-D9),
distributed min-label CC with pointer jumping (D13/D14), cached/salted
invalidation (T6) and the persisted near-dup pair DAG (T4/T5) — and
asserts the output triple set is IDENTICAL to the default path's."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from graphiti_spark.datagen import closed_form_pages_fuzzy, generate_web_pages
from graphiti_spark.operators import connected_components as cc_mod
from graphiti_spark.operators import edge_ops, node_dedup
from graphiti_spark.pipeline import run_pipeline
from graphiti_spark.schemas import WEB_PAGES

SF = "/root/testdata/sf0.001"


def _edge_tuples(result) -> set:
    """Comparable full-edge identity: canonical endpoint names + predicate
    + fact + the T6/T7 temporal columns."""
    nodes = result["nodes"].select("uuid", "norm_name")
    rows = (
        result["edges"]
        .join(
            nodes.withColumnRenamed("uuid", "source_node_uuid").withColumnRenamed(
                "norm_name", "subj"
            ),
            on="source_node_uuid",
        )
        .join(
            nodes.withColumnRenamed("uuid", "target_node_uuid").withColumnRenamed(
                "norm_name", "obj"
            ),
            on="target_node_uuid",
        )
        .select(
            "group_id",
            "subj",
            F.col("name").alias("pred"),
            "obj",
            "norm_fact",
            F.unix_micros("valid_at").alias("valid_us"),
            F.unix_micros("invalid_at").alias("invalid_us"),
        )
        .collect()
    )
    out = {tuple(r) for r in rows}
    assert len(out) == len(rows)  # full tuples are unique
    return out


def _force_distributed(monkeypatch):
    monkeypatch.setattr(node_dedup, "DRIVER_FUZZY_MAX_KEYS", 0)
    monkeypatch.setattr(cc_mod, "DRIVER_CC_MAX_PAIRS", 0)
    monkeypatch.setattr(edge_ops, "SALT_FAST_PATH_MAX", 0)


def test_forced_distributed_matches_default_fuzzy_closed(spark, monkeypatch):
    """Fuzzy closed-form corpus: exercises the distributed LSH band join
    with REAL merge pairs plus distributed CC, against the driver path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = closed_form_pages_fuzzy(
        spark.read.parquet(f"{SF}/orders.parquet")
    ).localCheckpoint()
    default = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)
    )
    _force_distributed(monkeypatch)
    forced = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)
    )
    assert len(default) > 500
    assert forced == default


def test_forced_distributed_matches_default_generated(spark, monkeypatch):
    """Generated web corpus WITH embeddings: exercises the salted
    invalidation self-join and the persisted near-dup pair DAG (nonzero
    cosine merge pairs), against the driver path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = generate_web_pages(n_pages=400, seed=42)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    ).localCheckpoint()
    default = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=True)
    )
    _force_distributed(monkeypatch)
    forced = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=True)
    )
    assert len(default) > 200
    assert forced == default
