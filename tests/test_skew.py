"""Salted join must be row-identical to the plain join (hub-key skew
handling, north-rule requirement)."""

import random

from graphiti_spark.operators.skew import salted_join


def _frames(spark):
    rng = random.Random(5)
    # one hot key ("hub") with 200 rows, many cold keys
    left_rows = [("hub", f"u{i}", i) for i in range(200)]
    left_rows += [(f"k{rng.randint(0, 30)}", f"v{i}", i) for i in range(100)]
    right_rows = [("hub", "H1"), ("hub", "H2")]
    right_rows += [(f"k{i}", f"R{i}") for i in range(31)]
    right_rows += [("only_right", "X")]
    left = spark.createDataFrame(left_rows, schema="k string, uuid string, n long")
    right = spark.createDataFrame(right_rows, schema="k string, payload string")
    return left, right


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_matches_plain(spark):
    left, right = _frames(spark)
    plain = left.join(right, on=["k"], how="inner")
    salted = salted_join(left, right, on=["k"], salt_col="uuid", hot_threshold=50, num_salts=4)
    assert _rows(salted.select(*plain.columns)) == _rows(plain)


def test_salted_left_matches_plain(spark):
    left, right = _frames(spark)
    plain = left.join(right, on=["k"], how="left")
    salted = salted_join(left, right, on=["k"], how="left", salt_col="uuid",
                         hot_threshold=50, num_salts=4)
    assert _rows(salted.select(*plain.columns)) == _rows(plain)


def test_no_hot_keys_passthrough(spark):
    left, right = _frames(spark)
    plain = left.join(right, on=["k"], how="inner")
    salted = salted_join(left, right, on=["k"], salt_col="uuid", hot_threshold=10_000)
    assert _rows(salted.select(*plain.columns)) == _rows(plain)


def test_near_duplicate_edge_pairs(spark):
    from graphiti_spark.extraction import embed_text
    from graphiti_spark.operators.edge_ops import near_duplicate_edge_pairs

    rows = [
        ("e1", "g", "n1", "n2", "alice works at acme corp", embed_text("alice works at acme corp")),
        ("e2", "g", "n1", "n2", "alice is employed by acme corp", embed_text("alice is employed by acme corp")),
        ("e3", "g", "n1", "n2", "completely unrelated zq xv yw", embed_text("qq zz vv ww")),
        ("e4", "g", "n1", "n3", "alice works at acme corp", embed_text("alice works at acme corp")),
        ("e5", "g", "n2", "n1", "alice works at acme corp", embed_text("alice works at acme corp")),
    ]
    edges = spark.createDataFrame(
        rows,
        schema="uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, fact string, fact_embedding array<float>",
    )
    got = {(r["a_uuid"], r["b_uuid"]) for r in near_duplicate_edge_pairs(edges).collect()}
    assert ("e1", "e2") in got          # same endpoints, word overlap
    assert ("e1", "e3") not in got      # same endpoints, no overlap, low cosine
    assert not any("e4" in p for p in got)  # different endpoint pair
    # reference requires the SAME DIRECTED endpoints (bulk_utils.py:446-450)
    assert not any("e5" in p for p in got)


def test_merge_near_duplicate_edges(spark):
    from datetime import datetime, timezone

    from graphiti_spark.extraction import embed_text
    from graphiti_spark.operators.edge_ops import merge_near_duplicate_edges

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def edge(uuid, src, dst, fact, eps):
        return (uuid, "g", src, dst, "RELATES", fact, fact.lower(), eps, t0, t0, None,
                embed_text(fact))

    rows = [
        # paraphrased facts between the same endpoints -> one canonical edge
        edge("e2", "n1", "n2", "alice works at acme corp", ["ep1"]),
        edge("e1", "n1", "n2", "alice is working at acme corp", ["ep2"]),
        # unrelated fact, same endpoints -> survives
        edge("e3", "n1", "n2", "zq xv yw unrelated entirely", ["ep3"]),
        # same fact, different endpoints -> survives
        edge("e4", "n1", "n3", "alice works at acme corp", ["ep4"]),
    ]
    edges = spark.createDataFrame(
        rows,
        schema="uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, name string, fact string, norm_fact string, "
        "episodes array<string>, created_at timestamp, valid_at timestamp, "
        "invalid_at timestamp, fact_embedding array<float>",
    )
    out = {r["uuid"]: r for r in merge_near_duplicate_edges(edges).collect()}
    assert set(out) == {"e1", "e3", "e4"}          # min-uuid canonical survives
    # provenance merged in member (created_at, uuid) order: e1's own episode
    # first, then the absorbed e2's
    assert out["e1"]["episodes"] == ["ep2", "ep1"]
    assert out["e1"]["fact"] == "alice is working at acme corp"  # canonical keeps its fact
    assert out["e3"]["episodes"] == ["ep3"]
    assert out["e4"]["episodes"] == ["ep4"]


def test_zero_norm_embeddings_never_match(spark):
    """ADVICE r2: cos of two zero vectors is 0/0 = NaN, and Spark treats NaN
    as greater than any number — without the norm guard `cos >= 0.6` would
    spuriously merge. The oracle twin returns 0.0 for zero norms."""
    from graphiti_spark.operators.edge_ops import near_duplicate_edge_pairs

    zero = [0.0] * 8
    rows = [
        ("e1", "g", "n1", "n2", "xq yq", zero),
        ("e2", "g", "n1", "n2", "zv wv", zero),
    ]
    edges = spark.createDataFrame(
        rows,
        schema="uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, fact string, fact_embedding array<float>",
    )
    got = near_duplicate_edge_pairs(edges, with_tokens=False).collect()
    assert got == []


def test_canonical_map_probe_path(spark):
    """near_dup_canonical_map's probe collect feeds the driver union-find:
    near-duplicate facts merge only within their own endpoint pair, the
    min uuid is canonical, and the pair count is the judged pairs."""
    from datetime import datetime, timezone

    from graphiti_spark.extraction import embed_text
    from graphiti_spark.operators.edge_ops import near_dup_canonical_map

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def edge(uuid, src, dst, fact, eps):
        return (uuid, "g", src, dst, "RELATES", fact, fact.lower(), eps, t0, t0, None,
                embed_text(fact))

    rows = [
        edge("e2", "n1", "n2", "alice works at acme corp", ["ep1"]),
        edge("e1", "n1", "n2", "alice is working at acme corp", ["ep2"]),
        edge("e3", "n1", "n2", "zq xv yw unrelated entirely", ["ep3"]),
        edge("e4", "n1", "n3", "alice works at acme corp", ["ep4"]),
        edge("e5", "n1", "n3", "alice is working at acme corp", ["ep5"]),
    ]
    edges = spark.createDataFrame(
        rows,
        schema="uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, name string, fact string, norm_fact string, "
        "episodes array<string>, created_at timestamp, valid_at timestamp, "
        "invalid_at timestamp, fact_embedding array<float>",
    )
    canon, n_pairs = near_dup_canonical_map(edges)
    assert n_pairs == 2
    got = sorted(tuple(r) for r in canon.collect())
    assert got == [("e1", "e1"), ("e2", "e1"), ("e4", "e4"), ("e5", "e4")]
