"""Hub-domain invalidation and the near-duplicate edge operators.

`invalidation_map` splits a contradiction domain with more than
HUB_BLOCK_ROWS edges into arrival-rank blocks; with blocks or without, its
map must equal a brute-force Python replay of the full two-phase algebra,
in which the later-arrival guard reads each contradicting edge's
post-arrival invalid A(c) = coalesce(extracted invalid_at, self-expiry)."""

import random
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators import edge_ops


INV_SCHEMA = (
    "uuid string, group_id string, source_node_uuid string, "
    "target_node_uuid string, name string, created_at timestamp, "
    "arr_episode string, arr_idx int, valid_at timestamp, invalid_at timestamp"
)


def _inv_edges(seed=5):
    """Several random domains plus one 11-edge hub domain (4 blocks at block
    size 3) and one planted guard domain. Targets repeat within a domain,
    valid_at days tie, some valid_at are null and some extracted invalid_at
    fall at or below other edges' valid_at."""
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    day = lambda d: None if d is None else t0 + timedelta(days=d)  # noqa: E731
    domains = [("g1", "hub", "WORKS_AT", 11)] + [
        (g, f"s{i}", p, rng.randint(2, 6))
        for i, (g, p) in enumerate([("g1", "WORKS_AT"), ("g1", "LIVES_IN"),
                                    ("g2", "WORKS_AT"), ("g2", "WORKS_AT"),
                                    ("g1", "WORKS_AT")])
    ]
    rows = []
    for g, src, pred, n in domains:
        for _ in range(n):
            k = len(rows)
            valid = rng.choice([None, 0, 1, 2, 2, 3, 4, 5, 6])
            ext = rng.choice([None, None, None, 1, 2, 3, 5])
            rows.append((
                f"e{k:03d}", g, src, f"t{rng.randint(0, 3)}", pred,
                day(rng.randint(0, 4)), f"ep{rng.randint(0, 2)}", k,
                day(valid), day(ext),
            ))
    # planted guard case: both later arrivals end (extracted) at or before
    # e_guard's valid_at, so neither may truncate it
    rows += [
        ("e_guard", "g3", "s9", "t0", "WORKS_AT", day(0), "ep0", 100, day(3), None),
        ("e_below", "g3", "s9", "t1", "WORKS_AT", day(1), "ep0", 101, day(5), day(2)),
        ("e_at", "g3", "s9", "t2", "WORKS_AT", day(2), "ep0", 102, day(6), day(3)),
    ]
    return rows


def _replay(rows, guard=True):
    """Brute-force T6/T7: arrival is (created_at, arr_episode, arr_idx);
    A(c) = ext_c if set, else c's self-expiry minimum."""
    edges = [r for r in rows if r[8] is not None]
    arr = {r[0]: (r[5], r[6], r[7]) for r in edges}

    def contra(e):
        return [c for c in edges if c[1:3] == e[1:3] and c[4] == e[4]
                and c[3] != e[3] and c[8] > e[8]]

    self_min = {e[0]: min((c[8] for c in contra(e) if arr[c[0]] < arr[e[0]]),
                          default=None) for e in edges}
    a = {e[0]: e[9] if e[9] is not None else self_min[e[0]] for e in edges}
    out = {}
    for e in edges:
        later = min((c[8] for c in contra(e) if arr[c[0]] > arr[e[0]]
                     and (not guard or a[c[0]] is None or a[c[0]] > e[8])),
                    default=None)
        if self_min[e[0]] is not None or later is not None:
            out[e[0]] = (self_min[e[0]], later)
    us = lambda t: None if t is None else int(t.timestamp()) * 1_000_000  # noqa: E731
    return {k: (us(s), us(lt)) for k, (s, lt) in out.items()}


@pytest.mark.parametrize("block", [None, 3], ids=["default_block", "block3"])
def test_invalidation_map_matches_replay(spark, monkeypatch, block):
    if block is not None:
        monkeypatch.setattr(edge_ops, "HUB_BLOCK_ROWS", block)
    rows = _inv_edges()
    assert sum(r[2] == "hub" and r[8] is not None for r in rows) > 2 * 3
    expected = _replay(rows)
    # the data exercises the guard: dropping it changes the map
    assert expected != _replay(rows, guard=False)
    assert any(s is not None for s, _ in expected.values())
    edges = spark.createDataFrame(rows, schema=INV_SCHEMA)
    rows = edge_ops.invalidation_map(edges).select(
        "uuid", F.unix_micros("_self_min"), F.unix_micros("_later_min")
    ).collect()
    got = {r[0]: (r[1], r[2]) for r in rows}
    assert len(got) == len(rows)  # one row per edge, whatever its blocks
    assert got == expected


def test_near_duplicate_edge_pairs(spark):
    from graphiti_spark.extraction import embed_text
    from graphiti_spark.operators.edge_ops import near_duplicate_edge_pairs

    rows = [
        ("e1", "g", "n1", "n2", "alice works at acme corp", embed_text("alice works at acme corp")),
        ("e2", "g", "n1", "n2", "alice is working at acme corp", embed_text("alice is working at acme corp")),
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
    assert ("e1", "e2") in got          # same endpoints, paraphrase: cosine >= 0.6
    assert ("e1", "e3") not in got      # same endpoints, low cosine
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
    got = near_duplicate_edge_pairs(edges).collect()
    assert got == []


def test_canonical_map_probe_path(spark):
    """near_dup_canonical_map on the driver union-find path: near-duplicate
    facts merge only within their own endpoint pair, the min uuid is
    canonical, and only the canonical's row carries the members' episodes,
    in member (created_at, uuid) order."""
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
    got = sorted(tuple(r) for r in near_dup_canonical_map(edges).collect())
    assert got == [
        ("e1", "e1", ["ep2", "ep1"]), ("e2", "e1", None),
        ("e4", "e4", ["ep4", "ep5"]), ("e5", "e4", None),
    ]


def test_invalidation_mins_chunk_size_invariant():
    """The kernel's chunking only bounds memory: one query row per chunk
    gives the same minimums as one chunk per domain."""
    import numpy as np

    from graphiti_spark.kernels import NO_TIME, invalidation_mins

    rng = np.random.default_rng(5)
    n = 200
    cols = (
        rng.integers(0, 4, n), rng.integers(0, 3, n), rng.permutation(n),
        rng.integers(0, 10, n), np.where(rng.random(n) < 0.3, rng.integers(0, 10, n), NO_TIME),
        rng.random(n) < 0.7,
    )
    whole = invalidation_mins(*cols)
    assert len(whole[0]) > 0
    for got, want in zip(invalidation_mins(*cols, max_cells=1), whole):
        assert np.array_equal(got, want)
