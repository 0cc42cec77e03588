"""kg_pipeline_edges_fuzzy_closed — the fuzzy-dedup closed-form oracle
(round-4 verdict ask #3): the planted org-spelling variants must (a) drive
the REAL D2-D9 LSH leg on a NONZERO pair set that equals exactly the
same-(group, fuzzy-norm) classes, (b) keep the cosine edge-merge leg at
zero candidates, and (c) reproduce the DuckDB twin row-for-row through the
real pipeline (ref semantics: dedup_helpers.py:198-246)."""

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from graphiti_spark import kernels as K
from graphiti_spark.datagen import closed_form_pages_fuzzy

SF = "/root/testdata/sf0.001"
SF_BIG = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def fuzzy_result(spark):
    from graphiti_spark.pipeline import run_pipeline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = closed_form_pages_fuzzy(spark.read.parquet(f"{SF}/orders.parquet"))
    return run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)


def test_variant_spellings_share_fuzzy_form():
    """The construction's core identity: the two org spellings have
    different exact keys but identical fuzzy forms — shingle-Jaccard is
    exactly 1.0 and the minhash/band keys are bit-identical, so LSH
    candidacy is structural, independent of blake2b's values."""
    a, b = "Orgunit K07 Corp", "ORGUNIT-K07-Corp"
    assert K.normalize_exact(a) != K.normalize_exact(b)
    fa, fb = K.normalize_fuzzy(a), K.normalize_fuzzy(b)
    assert fa == fb == "orgunit k07 corp"
    assert K.shingles(fa) == K.shingles(fb)
    assert K.band_keys(a) == K.band_keys(b)
    assert K.has_high_entropy(fa)
    assert K.jaccard(K.shingles(fa), K.shingles(fb)) == 1.0


def test_fuzzy_leg_fires_on_exactly_the_planted_classes(spark, cache_registry):
    """At DRIVER scale the LSH + Jaccard >= 0.9 pairing finds a NONZERO
    pair set that matches exactly the same-(group, normalize_fuzzy)
    equivalence classes — nothing missed (candidacy is structural) and
    nothing extra (all cross-class pairs <= ~0.75 by the
    separator-anchoring argument). This is what makes the min-norm
    canonical naming SQL-recomputable."""
    from itertools import combinations

    from graphiti_spark.functions.udfs import extract_all_df, split_extraction
    from graphiti_spark.operators.node_dedup import fuzzy_duplicate_pairs, name_keys
    from graphiti_spark.pipeline import pages_to_episodes

    pages = closed_form_pages_fuzzy(spark.read.parquet(f"{SF_BIG}/orders.parquet"))
    eps = pages_to_episodes(pages)
    keys = name_keys(split_extraction(extract_all_df(eps))[0]).persist()
    got = {(r.a, r.b) for r in fuzzy_duplicate_pairs(keys, cache_registry).collect()}
    assert got, "fuzzy leg must fire on a nonzero pair set"

    by_class: dict = {}
    for r in keys.select("group_id", "pre_id", "norm_exact").collect():
        by_class.setdefault(
            (r.group_id, K.normalize_fuzzy(r.norm_exact)), []
        ).append(r.pre_id)
    keys.unpersist()
    want = set()
    for ids in by_class.values():
        for x, y in combinations(sorted(ids), 2):
            want.add((x, y))
    assert got == want
    # classes are pairs at most (two spellings), never larger
    assert max(len(v) for v in by_class.values()) == 2


def test_neardup_merge_has_zero_candidates(fuzzy_result):
    """WORKS_AT spelling is a function of the endpoint pair and BASED_IN
    zone parity equals spelling parity, so even after node merging every
    post-T1 endpoint pair holds exactly one edge — the cosine leg stays
    provably inert and the twin needs no embedding replay."""
    from graphiti_spark.operators.edge_ops import near_dup_canonical_map

    edges = fuzzy_result["edges"]
    max_per_block = (
        edges.groupBy("group_id", "source_node_uuid", "target_node_uuid")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_per_block == 1
    assert near_dup_canonical_map(edges).count() == 0


def test_merged_nodes_carry_both_spellings(fuzzy_result):
    """Canonical org nodes that merged must hold BOTH exact spellings as
    aliases with norm_name = min(alias); and at least one org per group
    actually merged at this scale."""
    nodes = fuzzy_result["nodes"].filter(F.size("aliases") > 1).collect()
    assert nodes
    for n in nodes:
        assert n.norm_name == min(n.aliases)
        fuzzies = {K.normalize_fuzzy(a) for a in n.aliases}
        assert len(fuzzies) == 1, n.aliases
        assert len(n.aliases) == 2


def test_fuzzy_closed_entry_matches_duckdb_oracle(spark):
    """Full-tuple equality (including valid_us/invalid_us from the T6/T7
    algebra over MERGED node identities) between the Spark pipeline and
    the SQL twin."""
    sdf = E._kg_pipeline_edges_fuzzy_closed(spark, SF)
    srows = {tuple(r) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    orows = {tuple(r) for r in con.execute(E._kg_closed_fuzzy_oracle()).fetchall()}
    assert len(srows) == len(orows) > 500
    assert srows == orows
