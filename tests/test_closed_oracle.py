"""kg_pipeline_edges_closed — the flagship pipeline's DuckDB value oracle
(round-3 verdict ask #2): the closed-form page slice must (a) provably never
activate the fuzzy node-dedup leg, (b) provably never activate the cosine
edge-merge leg, and (c) reproduce the oracle SQL row-for-row through the
REAL pipeline."""

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from graphiti_spark.datagen import closed_form_pages

SF = "/root/testdata/sf0.001"
SF_BIG = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def closed_result(spark):
    from graphiti_spark.pipeline import run_pipeline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = closed_form_pages(spark.read.parquet(f"{SF}/orders.parquet"))
    return run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)


def test_extraction_recovers_exactly_the_planted_triples(spark):
    """Every page yields exactly its two planted triples (WORKS_AT +
    BASED_IN) with the planted subjects/objects — no spurious mentions or
    predicate hits from the construction."""
    from graphiti_spark.extraction import extract_triples

    pages = closed_form_pages(spark.read.parquet(f"{SF}/orders.parquet")).limit(200).collect()
    assert pages
    for p in pages:
        trips = extract_triples(p["text"], p["warc_ts"])
        assert [t["predicate"] for t in trips] == ["WORKS_AT", "BASED_IN"], p["text"]
        works, based = trips
        assert works["subject"].lower().startswith("pat c")
        assert works["object"].lower().startswith("orgunit k")
        assert based["subject"].lower().startswith("orgunit k")
        assert based["object"].lower().startswith("zone z")


def test_fuzzy_leg_fires_on_zero_pairs(spark, cache_registry):
    """At DRIVER scale (sf0.01: ~1500 distinct persons incl. the
    separator-anchored ids, 40 orgs x case variants, 12 zones) the LSH +
    Jaccard>=0.9 fuzzy pairing finds NOTHING — node canonicalization is
    pure exact dedup, which is what makes the oracle SQL-recomputable."""
    from graphiti_spark.functions.udfs import extract_all_df, split_extraction
    from graphiti_spark.operators.node_dedup import fuzzy_duplicate_pairs, name_keys
    from graphiti_spark.pipeline import pages_to_episodes

    pages = closed_form_pages(spark.read.parquet(f"{SF_BIG}/orders.parquet"))
    eps = pages_to_episodes(pages)
    keys = name_keys(split_extraction(extract_all_df(eps))[0])
    assert fuzzy_duplicate_pairs(keys, cache_registry).count() == 0


def test_neardup_merge_has_zero_candidates(closed_result):
    """Every post-T1 endpoint pair holds exactly one edge (norm_fact is a
    function of the endpoint pair by construction), so the cosine merge has
    an empty candidate set — the other non-SQL leg provably inert."""
    from graphiti_spark.operators.edge_ops import near_dup_canonical_map

    edges = closed_result["edges"]
    max_per_block = (
        edges.groupBy("group_id", "source_node_uuid", "target_node_uuid")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_per_block == 1
    assert near_dup_canonical_map(edges).count() == 0


def test_closed_entry_matches_duckdb_oracle(spark):
    """Full-tuple equality (including valid_us/invalid_us from the T6/T7
    two-phase algebra) between the Spark pipeline and the SQL twin."""
    sdf = E._kg_pipeline_edges_closed(spark, SF)
    srows = {tuple(r) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    orows = {tuple(r) for r in con.execute(E._kg_closed_oracle()).fetchall()}
    assert len(srows) == len(orows) > 500
    assert srows == orows


def test_closed_nodes_are_exactly_edge_endpoints(closed_result):
    """The kg_communities_closed oracle rebuilds the node set as the
    distinct edge endpoints; the pipeline must not emit any canonical node
    outside that set (every closed-form mention participates in a planted
    triple), and norm_name must be unique per group (exact-only dedup) so
    re-keying uuid -> norm_name is bijective."""
    nodes = closed_result["nodes"].select("group_id", "norm_name")
    edges = closed_result["edges"]
    names = closed_result["nodes"].select(F.col("uuid").alias("nid"), "norm_name")
    endpoints = (
        edges.join(names.withColumnRenamed("nid", "source_node_uuid"), on="source_node_uuid")
        .select("group_id", "norm_name")
        .union(
            edges.join(
                names.withColumnRenamed("nid", "target_node_uuid"), on="target_node_uuid"
            ).select("group_id", "norm_name")
        )
        .distinct()
    )
    n_nodes = nodes.distinct().count()
    assert nodes.count() == n_nodes  # (group, norm_name) unique over canonical nodes
    assert n_nodes == endpoints.count()
    assert nodes.exceptAll(endpoints).count() == 0


def test_closed_communities_match_duckdb_lpa(spark):
    """The REAL label_propagation over the closed graph equals the
    MAX_LPA_ROUNDS-unrolled SQL twin tuple-for-tuple."""
    sdf = E._kg_communities_closed(spark, SF)
    srows = {tuple(r) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    orows = {tuple(r) for r in con.execute(E._kg_communities_closed_oracle()).fetchall()}
    assert len(srows) == len(orows) > 50
    assert srows == orows
