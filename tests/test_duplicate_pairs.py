"""IS_DUPLICATE_OF provenance pairs (round-4 verdict ask #6; ref
edge_operations.py:609-670) and the E2 reflexion second pass (ask #7; ref
node_operations.py:62-82)."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators.node_dedup import (
    det_id_col,
    duplicate_pair_edges,
    resolve_names,
)

NOW = datetime(2024, 6, 1, tzinfo=timezone.utc)


def _mentions(spark, rows):
    """rows: (group_id, name)"""
    return spark.createDataFrame(
        [(g, n, "Entity", "ep1", NOW, 0) for g, n in rows],
        schema="group_id string, name string, entity_type string, "
        "episode_uuid string, ep_valid_at timestamp, mention_idx long",
    )


def test_duplicate_pairs_basic(spark, cache_registry):
    """Exact case-variants AND fuzzy punctuation-variants both surface as
    pairs; singletons never do; canonical_name is the component min."""
    m = _mentions(
        spark,
        [
            ("g1", "Acme Labs"),      # exact dups collapse pre-resolution:
            ("g1", "ACME LABS"),      #   same norm_exact -> same pre_id
            ("g1", "Acme-Labs"),      # fuzzy variant -> a real pair
            ("g1", "Zed Corp"),       # singleton -> no pair
            ("g2", "Acme Labs"),      # other group: no counterpart -> none
        ],
    )
    res = resolve_names(m, cache_registry=cache_registry)
    pairs = duplicate_pair_edges(res, now=NOW).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert p.group_id == "g1"
    assert p.name == "IS_DUPLICATE_OF"
    assert {p.duplicate_name, p.canonical_key_name} == {"acme labs", "acme-labs"}
    assert p.canonical_name == "acme labs"  # min over the component
    assert p.source_node_uuid != p.target_node_uuid
    assert p.created_at.replace(tzinfo=timezone.utc) == NOW
    # the component has one canonical uuid (its earliest-seen member's
    # pre_id; every sighting here ties, so the min pre_id), and the
    # duplicate row points exactly there
    ids = {
        r.norm_exact: r.canonical_id
        for r in res.withColumn(
            "pre_id", det_id_col(F.lit("node"), F.col("group_id"), F.col("norm_exact"))
        ).collect()
        if r.group_id == "g1" and r.norm_exact.startswith("acme")
    }
    assert len(set(ids.values())) == 1
    assert p.target_node_uuid == next(iter(ids.values()))


def test_duplicate_pairs_incremental_points_at_existing(spark, cache_registry):
    """D11 filter-existing semantics: with existing_nodes, the new batch's
    variant resolves to the ESTABLISHED uuid — the pair targets it, and no
    existing->existing pair is ever emitted."""
    first = resolve_names(
        _mentions(spark, [("g1", "Acme Labs")]), cache_registry=cache_registry
    )
    from graphiti_spark.operators.node_dedup import build_canonical_nodes

    nodes = build_canonical_nodes(first, _mentions(spark, [("g1", "Acme Labs")]))
    ex_uuid = nodes.collect()[0].uuid
    second = resolve_names(
        _mentions(spark, [("g1", "Acme-Labs")]), existing_nodes=nodes,
        cache_registry=cache_registry,
    )
    pairs = duplicate_pair_edges(second, now=NOW).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert p.target_node_uuid == ex_uuid
    assert p.duplicate_name == "acme-labs"
    # the established node's own key name is not in this batch's resolution,
    # and the batch's names are not its norm_name either
    assert p.canonical_key_name is None
    assert p.canonical_name is None


def test_pipeline_exposes_duplicate_pairs(spark):
    """run_pipeline's duplicate_pairs output matches the canonical nodes'
    multi-alias components one-for-one."""
    import __spark_entry__ as E

    result = E._closed_fuzzy_result(spark, "/root/testdata/sf0.001")
    n_multi = (
        result["nodes"]
        .select(F.size("aliases").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.sum(F.col("n") - 1))
        .collect()[0][0]
    )
    dp = result["duplicate_pairs"]
    assert dp.count() == n_multi > 0
    # every canonical uuid is a real node; no duplicate uuid is
    nodes = result["nodes"].select(F.col("uuid").alias("nid"))
    assert dp.join(nodes, dp.target_node_uuid == nodes.nid, "left_anti").count() == 0
    assert dp.join(nodes, dp.source_node_uuid == nodes.nid, "left_semi").count() == 0


def test_facade_accumulates_duplicate_pairs(spark, tmp_path):
    """add_episode_bulk persists the pair table; get_duplicate_pairs reads
    it back across batches, and the second batch's pair targets the
    established node (filter-existing semantics through the store)."""
    from graphiti_spark.graphiti import GraphitiSpark

    g = GraphitiSpark(spark, str(tmp_path / "graph"), with_embeddings=False)
    assert g.get_duplicate_pairs().count() == 0  # table absent -> empty
    g.add_episode_bulk(
        [{"url": "https://a.example/1", "warc_ts": NOW,
          "text": "Rosa Diaz works at Vertex Labs.", "group_id": "g1"}]
    )
    assert g.get_duplicate_pairs().count() == 0
    g.add_episode_bulk(
        [{"url": "https://a.example/2", "warc_ts": NOW,
          "text": "Rosa Diaz works at Vertex-Labs.", "group_id": "g1"}]
    )
    pairs = g.get_duplicate_pairs().collect()
    assert len(pairs) == 1 and pairs[0].duplicate_name == "vertex-labs"
    # the established node's row was upserted by batch 2 (whole-row SET,
    # aliases accumulated) — find it via its alias set
    node = [r for r in g.store.read("nodes").collect() if "vertex labs" in r.aliases]
    assert len(node) == 1 and sorted(node[0].aliases) == ["vertex labs", "vertex-labs"]
    assert pairs[0].target_node_uuid == node[0].uuid
    assert g.get_duplicate_pairs(["nope"]).count() == 0


def test_reflexion_second_pass():
    """E2 kernel: lowercase cue-introduced names are found, stop-token
    candidates rejected, first-pass names never duplicated; default path
    unchanged."""
    from graphiti_spark.extraction import (
        extract_mentions,
        extract_mentions_with_reflexion,
        extract_reflexion_mentions,
    )

    text = (
        "Maria Chen founded a startup called quartz analytics. "
        "The fund named after the war backed it. "
        "Quartz Analytics is also known as quartz analytics."
    )
    first = extract_mentions(text)
    assert {m["name"] for m in first} == {"Maria Chen", "Quartz Analytics"}
    extra = extract_reflexion_mentions(text, first)
    # 'quartz analytics' appears lowercase twice but dedupes once, and is
    # NOT suppressed by the capitalized form? It IS: case-insensitive vs
    # the first pass -> suppressed. 'after the war' has stop tokens.
    assert extra == []
    text2 = "The lab called deep forge won. It was named after Ada Lovelace."
    first2 = extract_mentions(text2)
    extra2 = extract_reflexion_mentions(text2, first2)
    assert [m["name"] for m in extra2] == ["deep forge"]
    both = extract_mentions_with_reflexion(text2)
    assert [m["name"] for m in both] == [m["name"] for m in first2] + ["deep forge"]


def test_reflexion_flag_on_pipeline(spark):
    """run_pipeline(reflexion=True) materializes the cue-named entity as a
    canonical node; the default run does not."""
    from graphiti_spark.pipeline import run_pipeline
    from graphiti_spark.schemas import WEB_PAGES

    pages = spark.createDataFrame(
        [
            (
                "https://x.example/p1",
                NOW,
                None,
                "Maria Chen founded a startup called deep forge. "
                "Maria Chen works at Quartz Analytics.",
                "en",
            )
        ],
        schema=WEB_PAGES,
    )
    off = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    on = run_pipeline(spark, pages, now=NOW, with_embeddings=False, reflexion=True)
    names_off = {r.norm_name for r in off["nodes"].collect()}
    names_on = {r.norm_name for r in on["nodes"].collect()}
    assert "deep forge" not in names_off
    assert names_on == names_off | {"deep forge"}
    assert on["raw_mentions"].count() == off["raw_mentions"].count() + 1
