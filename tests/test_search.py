"""Q1-Q7/Q11 — read-side search operators vs hand-computed oracles."""

import math

from pyspark.sql import functions as F

from graphiti_spark import search as S

DOCS = [
    (1, "spark join window hash join"),
    (2, "window window window"),
    (3, "hash table scan"),
    (4, "spark spark spark join"),
    (5, "totally unrelated words here"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, schema="doc_id long, text string")


def _python_bm25(query_terms, k1=S.BM25_K1, b=S.BM25_B):
    toks = {d: t.split() for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for term in query_terms:
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for d, v in toks.items():
            tf = v.count(term)
            if tf == 0:
                continue
            out[(d, term)] = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(v) / avgdl))
    return out


def test_bm25_term_scores(spark):
    got = {
        (r["doc"], r["term"]): r["score"]
        for r in S.bm25_term_scores(_docs_df(spark), "doc_id", "text", ["spark", "join", "window"]).collect()
    }
    want = _python_bm25(["spark", "join", "window"])
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k


def test_bm25_search_ranking(spark):
    rows = S.bm25_search(_docs_df(spark), "doc_id", "text", "spark join", limit=3).collect()
    want = _python_bm25(["spark", "join"])
    scores = {}
    for (d, _t), s in want.items():
        scores[d] = scores.get(d, 0.0) + s
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:3]
    assert [r["doc"] for r in rows] == expect


def test_rrf(spark):
    r1 = spark.createDataFrame([("a", 1), ("b", 2)], schema="uuid string, rank long")
    r2 = spark.createDataFrame([("b", 1), ("a", 2)], schema="uuid string, rank long")
    got = {r["uuid"]: r["score"] for r in S.rrf([r1, r2]).collect()}
    assert abs(got["a"] - (1.0 + 0.5)) < 1e-12
    assert abs(got["b"] - (0.5 + 1.0)) < 1e-12


def test_bfs_depths(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        schema="src string, dst string",
    )
    origins = spark.createDataFrame([("a",)], ["id"])
    got = {r["id"]: r["depth"] for r in S.bfs(edges, origins, max_depth=3).collect()}
    # depth capped at 3: e (depth 4) not reached; x/y disconnected
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_cosine_topk(spark):
    q = spark.createDataFrame([("q1", [1.0, 0.0])], schema="q_id string, q_vec array<float>")
    c = spark.createDataFrame(
        [("c1", [1.0, 0.0]), ("c2", [0.0, 1.0]), ("c3", [0.7, 0.7])],
        schema="c_id string, c_vec array<float>",
    )
    rows = S.cosine_topk(q, c, k=2).collect()
    assert [r["c_id"] for r in rows] == ["c1", "c3"]
    assert abs(rows[0]["cos"] - 1.0) < 1e-9
    assert abs(rows[1]["cos"] - math.sqrt(0.5)) < 1e-3


def test_mmr_diversifies(spark):
    # c1 and c2 are identical vectors; plain relevance ranks them 1-2, but
    # MMR must pick the diverse c3 second
    cands = spark.createDataFrame(
        [
            ("q", "c1", 1.0, [1.0, 0.0]),
            ("q", "c2", 0.99, [1.0, 0.0]),
            ("q", "c3", 0.5, [0.0, 1.0]),
        ],
        schema="q_id string, c_id string, rel double, emb array<float>",
    )
    rows = sorted(S.mmr_rerank(cands, k=3).collect(), key=lambda r: r["mmr_rank"])
    assert [r["c_id"] for r in rows] == ["c1", "c3", "c2"]


def test_node_distance_rerank(spark):
    edges = spark.createDataFrame([("center", "n1"), ("n1", "n2")], schema="src string, dst string")
    cands = spark.createDataFrame([("center",), ("n1",), ("n2",), ("far",)], ["uuid"])
    got = {r["uuid"]: r["score"] for r in S.node_distance_rerank(cands, edges, "center").collect()}
    assert got["center"] == 10.0  # 1/0.1 like the reference
    assert got["n1"] == 1.0
    assert got["n2"] == 0.5
    assert got["far"] == 0.0


def test_episode_mentions_rerank(spark):
    mentions = spark.createDataFrame(
        [("e1", "n1"), ("e2", "n1"), ("e1", "n2")],
        schema="source_node_uuid string, target_node_uuid string",
    )
    cands = spark.createDataFrame([("n1",), ("n2",), ("n3",)], ["uuid"])
    rows = S.episode_mentions_rerank(cands, mentions).collect()
    assert [(r["uuid"], r["score"]) for r in rows] == [("n1", 2.0), ("n2", 1.0), ("n3", 0.0)]


def test_compile_filters(spark):
    df = spark.createDataFrame(
        [("a", 1, None), ("b", 5, "x"), ("c", 9, "y")],
        schema="uuid string, n long, tag string",
    )
    # (n > 3 AND tag IS NOT NULL) OR (n = 1)
    pred = S.compile_filters([[("n", ">", 3), ("tag", "IS NOT NULL", None)], [("n", "=", 1)]])
    got = sorted(r["uuid"] for r in df.filter(pred).collect())
    assert got == ["a", "b", "c"]
    pred2 = S.compile_filters([[("tag", "IS NULL", None)]])
    assert [r["uuid"] for r in df.filter(pred2).collect()] == ["a"]
    assert df.filter(S.compile_filters([])).count() == 3


def test_provenance_traversals(spark):
    from graphiti_spark.search import (
        get_communities_by_nodes,
        get_episodes_by_mentions,
        get_mentioned_nodes,
    )

    nodes = spark.createDataFrame(
        [("n1", "alice"), ("n2", "acme")], schema="uuid string, name string"
    )
    episodes = spark.createDataFrame(
        [("ep1", "g"), ("ep2", "g")], schema="uuid string, group_id string"
    )
    mentions = spark.createDataFrame(
        [("m1", "ep1", "n1"), ("m2", "ep1", "n2"), ("m3", "ep2", "n2")],
        schema="uuid string, source_node_uuid string, target_node_uuid string",
    )
    communities = spark.createDataFrame([("c1", "comm")], schema="uuid string, name string")
    members = spark.createDataFrame(
        [("h1", "c1", "n1")],
        schema="edge_uuid string, source_node_uuid string, target_node_uuid string",
    )
    edges = spark.createDataFrame(
        [("e1", ["ep2", "ep1"])], schema="uuid string, episodes array<string>"
    )

    got = {r["uuid"] for r in get_mentioned_nodes(
        episodes.filter("uuid = 'ep1'"), mentions, nodes).collect()}
    assert got == {"n1", "n2"}
    got = {r["uuid"] for r in get_communities_by_nodes(
        nodes, members, communities).collect()}
    assert got == {"c1"}
    got = {r["uuid"] for r in get_episodes_by_mentions(edges, episodes).collect()}
    assert got == {"ep1", "ep2"}


def test_bm25_precomputed_index(spark):
    from graphiti_spark.search import bm25_term_scores, build_bm25_index

    docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "hash join loop"), (3, "sort merge")],
        schema="doc_id long, text string",
    )
    idx = build_bm25_index(docs, "doc_id", "text")
    fresh = bm25_term_scores(docs, "doc_id", "text", ["join", "spark"])
    reused = bm25_term_scores(docs, "doc_id", "text", ["join", "spark"], index=idx)
    a = {(r["doc"], r["term"]): round(r["score"], 9) for r in fresh.collect()}
    b = {(r["doc"], r["term"]): round(r["score"], 9) for r in reused.collect()}
    assert a == b and a


def test_bm25_max_query_length(spark):
    """ref search_utils.py:92-93: queries over MAX_QUERY_LENGTH words match
    nothing (the fulltext query compiles to the empty string)."""
    from graphiti_spark.search import MAX_QUERY_LENGTH, bm25_search

    docs = spark.createDataFrame(
        [(1, "spark join window")], schema="doc_id long, text string"
    )
    over = " ".join(["spark"] * (MAX_QUERY_LENGTH + 1))
    assert bm25_search(docs, "doc_id", "text", over).count() == 0
    at_limit = " ".join(["spark"] * MAX_QUERY_LENGTH)
    assert bm25_search(docs, "doc_id", "text", at_limit).count() == 1


def test_bm25_index_is_cached_and_closable(spark):
    from graphiti_spark.search import build_bm25_index, close_bm25_index

    docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "hash join loop")],
        schema="doc_id long, text string",
    )
    idx = build_bm25_index(docs, "doc_id", "text")
    assert idx["postings"].storageLevel.useMemory  # reuse is real, not lazy
    assert idx["dls"].storageLevel.useMemory
    close_bm25_index(idx)
    assert not idx["postings"].storageLevel.useMemory


def test_bm25_multi_scores_matches_single_query(spark):
    """The batch form must reproduce bm25_search's summed scores for each
    query run individually (same tokenization; both fold case, so the
    capitalized d5 matches the lowercase query term "alice")."""
    import graphiti_spark.search as S

    corpus = spark.createDataFrame(
        [("d1", "alice works at acme"), ("d2", "bob works at globex"),
         ("d3", "alice married bob"), ("d4", "carol sleeps"),
         ("d5", "Alice Smith founded Initech")],
        ["doc", "fact"],
    )
    queries = spark.createDataFrame(
        [("q1", "alice works"), ("q2", "bob bob")], ["q", "fact"]
    )
    batch = {
        (r["q"], r["doc"]): r["bm"]
        for r in S.bm25_multi_scores(corpus, queries).collect()
    }
    for qid, qtext in [("q1", "alice works"), ("q2", "bob bob")]:
        single = {
            r["doc"]: r["score"]
            for r in S.bm25_search(corpus, "doc", "fact", qtext, limit=10).collect()
        }
        got = {d: s for (q, d), s in batch.items() if q == qid}
        assert set(got) == set(single)
        assert qid != "q1" or "d5" in got
        for d in single:
            assert abs(got[d] - single[d]) < 1e-12


def test_per_episode_edge_candidates_scopes(spark):
    """T3: restricted scope only contains same-directed-endpoint existing
    edges; unrestricted ranks group-wide; cross-group candidates excluded."""
    from graphiti_spark.operators.edge_ops import per_episode_edge_candidates

    existing = spark.createDataFrame(
        [
            ("e1", "g1", "alice", "acme", "alice works at acme"),
            ("e2", "g1", "alice", "acme", "alice joined acme"),
            ("e3", "g1", "bob", "acme", "bob works at acme"),
            ("e4", "g2", "alice", "acme", "alice works at acme"),
        ],
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid", "fact"],
    )
    new = spark.createDataFrame(
        [("n1", "g1", "alice", "acme", "alice works at acme")],
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid", "fact"],
    )
    out = per_episode_edge_candidates(new, existing, k=10).collect()
    restricted = {r["cand_uuid"] for r in out if r["restricted"]}
    unrestricted = {r["cand_uuid"] for r in out if not r["restricted"]}
    assert restricted == {"e1", "e2"}          # same (alice -> acme) only
    assert unrestricted == {"e1", "e2", "e3"}  # group-wide, e4 is g2
    # exact-match fact must rank first in both scopes
    for flag in (True, False):
        top = [r for r in out if r["restricted"] == flag and r["rank"] == 1]
        assert top[0]["cand_uuid"] == "e1"


def test_per_episode_candidates_null_embeddings(spark):
    """Rows with NULL/empty fact_embedding must degrade to no-cosine-match
    (the old JVM expression's NULL-cos semantics), never crash the
    cogrouped numpy task on a ragged array."""
    from graphiti_spark.operators.edge_ops import per_episode_edge_candidates

    vec = [1.0, 0.0, 0.0]
    existing = spark.createDataFrame(
        [
            ("e1", "g1", "alice", "acme", "alice works at acme", vec),
            ("e2", "g1", "alice", "acme", "alice joined acme", None),
            ("e3", "g1", "bob", "acme", "bob works at acme", []),
        ],
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, fact string, fact_embedding array<float>",
    )
    new = spark.createDataFrame(
        [
            ("n1", "g1", "alice", "acme", "alice works at acme", vec),
            ("n2", "g1", "bob", "acme", "bob works at acme", None),
        ],
        existing.schema,
    )
    out = per_episode_edge_candidates(new, existing, k=10).collect()
    # both queries still rank candidates through the bm25 leg
    assert {r["q_uuid"] for r in out} == {"n1", "n2"}
    # e1 tops n1's restricted scope (bm25 exact + cosine 1.0)
    top = [r for r in out if r["q_uuid"] == "n1" and r["restricted"] and r["rank"] == 1]
    assert top[0]["cand_uuid"] == "e1"


def test_per_episode_candidates_hub_group_blocking(spark):
    """One dominant group must spread the cosine leg over >1 cogroup task:
    the candidate side grids into multiple (group, _blk) cells, and the
    blocked result is identical to the unblocked one."""
    from graphiti_spark.operators.edge_ops import (
        _blocked_cosine_frames,
        per_episode_edge_candidates,
    )

    rows = [
        (f"e{i:03d}", "hub", f"s{i % 7}", f"t{i % 5}",
         f"s{i % 7} fact {i} t{i % 5}", [1.0, float(i % 3), 0.5])
        for i in range(60)
    ]
    existing = spark.createDataFrame(
        rows,
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, fact string, fact_embedding array<float>",
    )
    new = spark.createDataFrame(
        [("q1", "hub", "s1", "t1", "s1 fact 8 t1", [1.0, 2.0, 0.5])],
        existing.schema,
    )
    _, cb = _blocked_cosine_frames(new, existing, 8)
    n_cells = cb.select("_blk").distinct().count()
    assert n_cells > 1  # the hub group's candidates span multiple tasks

    def key(rows_):
        return sorted(
            (r["q_uuid"], r["cand_uuid"], r["restricted"], r["rrf_x1e6"], r["rank"])
            for r in rows_
        )

    blocked = key(per_episode_edge_candidates(new, existing, k=10, cosine_blocks=8).collect())
    unblocked = key(per_episode_edge_candidates(new, existing, k=10, cosine_blocks=1).collect())
    assert blocked == unblocked and len(blocked) > 0
