"""End-to-end: web_pages -> Spark pipeline vs the sequential reference-
semantics oracle. The P/R >= 0.95 gate from BASELINE.json north_rule."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from graphiti_spark.datagen import generate_web_pages
from graphiti_spark.oracle import ingest_episodes, precision_recall, triple_set
from graphiti_spark.pipeline import run_pipeline, spark_triple_set
from graphiti_spark.schemas import WEB_PAGES

NOW = datetime(2026, 8, 16, tzinfo=timezone.utc)


def GROUP_COL():
    return F.regexp_extract(F.col("url"), r"example/([^/]+)/", 1)


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = generate_web_pages(n_pages=150, seed=42)
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    )


@pytest.fixture(scope="module")
def result(spark, pages_df):
    return run_pipeline(spark, pages_df, group_col=GROUP_COL(), now=NOW, with_embeddings=False)


def test_byte_identical_text(spark, pages_df):
    """north_rule invariant: the stored episode row's content is
    byte-identical to the source text, both for pages with html (html->text
    inside the extraction map) and for pages without (the text column)."""
    mixed = pages_df.withColumn(
        "html", F.when(F.hash("url") % 3 == 0, None).otherwise(F.col("html"))
    )
    res = run_pipeline(
        spark, mixed, group_col=GROUP_COL(), lang=None, now=NOW, with_embeddings=False
    )
    eps = res["episodes_with_edges"].select(
        F.col("name").alias("ep_url"), F.col("valid_at").alias("ep_ts"), "content"
    )
    src = mixed.select(
        "url", "warc_ts", F.col("html").isNull().alias("no_html"), F.col("text").alias("orig")
    )
    joined = eps.join(
        src, on=[eps.ep_url == src.url, eps.ep_ts == src.warc_ts], how="inner"
    ).persist()
    assert joined.count() == src.count()
    assert {r["no_html"] for r in joined.select("no_html").distinct().collect()} == {True, False}
    assert joined.filter(~F.col("content").eqNullSafe(F.col("orig"))).count() == 0
    joined.unpersist()
    res["release"]()


def test_pipeline_produces_graph(result):
    assert result["nodes"].count() > 50
    assert result["edges"].count() > 100
    assert result["mentions"].count() > 200


def test_exact_and_fuzzy_dedup_collapsed(result):
    nodes = result["nodes"]
    # all acme-family variants per group collapse to ONE canonical node
    fam = nodes.filter(F.lower(F.col("name")).contains("acme")).groupBy("group_id").count()
    assert all(r["count"] == 1 for r in fam.collect())
    # norm_name of that node is the min alias
    one = nodes.filter(F.lower(F.col("name")).contains("acme")).first()
    assert one["norm_name"] == min(one["aliases"])


def test_no_cross_group_merges(result):
    nodes = result["nodes"].select("uuid", "group_id").collect()
    assert len({(r["uuid"]) for r in nodes}) == len(nodes)  # uuid unique
    # canonical ids embed the group hash, so same name in 2 groups != same uuid
    by_group = {}
    for r in nodes:
        by_group.setdefault(r["uuid"], set()).add(r["group_id"])
    assert all(len(g) == 1 for g in by_group.values())


def test_temporal_invalidation_fired(result):
    edges = result["edges"]
    inv = edges.filter(F.col("invalid_at").isNotNull())
    assert inv.count() > 0
    # invariant: invalid_at > valid_at for contradiction-invalidated edges
    bad = inv.filter(F.col("valid_at").isNotNull() & (F.col("invalid_at") <= F.col("valid_at")))
    assert bad.count() == 0
    # expired_at set iff invalid_at set
    assert edges.filter(F.col("invalid_at").isNotNull() & F.col("expired_at").isNull()).count() == 0
    assert edges.filter(F.col("invalid_at").isNull() & F.col("expired_at").isNotNull()).count() == 0


def test_edge_dedup_key_unique(result):
    edges = result["edges"]
    total = edges.count()
    keys = edges.select("group_id", "source_node_uuid", "target_node_uuid", "norm_fact").distinct()
    assert keys.count() == total
    assert edges.select("uuid").distinct().count() == total


def test_episode_provenance_merged(result):
    edges = result["edges"]
    multi = edges.filter(F.size("episodes") > 1)
    assert multi.count() > 0  # re-crawled pages re-assert facts


def test_triple_precision_recall_vs_reference(spark, result):
    """THE gate: P/R >= 0.95 vs sequential reference-semantics oracle."""
    eps = [
        {
            "uuid": r["episode_uuid"],
            "group_id": r["group_id"],
            "content": r["content"],
            "valid_at": r["ep_valid_at"],
        }
        for r in result["episodes"].collect()
    ]
    ref = triple_set(ingest_episodes(eps, NOW))
    got = spark_triple_set(result)
    p, r = precision_recall(got, ref)
    print(f"\ntriples: spark={len(got)} ref={len(ref)} precision={p:.4f} recall={r:.4f}")
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_add_triplets(spark):
    """ref graphiti.py:1018-1083 add_triplet as a batch: manual facts run the
    same canonicalization chain, resolving against the existing graph."""
    from graphiti_spark.pipeline import add_triplets

    existing = spark.createDataFrame(
        [("ex1", "g", "Alice Smith", ["alice smith"])],
        schema="uuid string, group_id string, name string, aliases array<string>",
    )
    t = spark.createDataFrame(
        [
            ("g", "Alice Smith", "WORKS_AT", "Acme Corp"),
            ("g", "Alice Smith", "WORKS_AT", "Acme Corp"),  # exact dup collapses
            ("g", "Bob Jones", "LIVES_IN", "Springfield"),
        ],
        schema="group_id string, subject string, predicate string, object string",
    )
    out = add_triplets(spark, t, existing_nodes=existing)
    edges = out["edges"].collect()
    assert len(edges) == 2
    nodes = {r["name"]: r["uuid"] for r in out["nodes"].collect()}
    # the existing canonical uuid is adopted for Alice
    alice_edges = [e for e in edges if e["name"] == "WORKS_AT"]
    assert alice_edges[0]["source_node_uuid"] == "ex1"
    assert "Bob Jones" in nodes


def test_temporal_columns_match_oracle(spark, result):
    """VERDICT r2 #3: the pipeline's (valid_at, invalid_at, expired_at) must
    equal the oracle's per triple end-to-end — the invalidate-then-merge
    order is now shared, so the temporal algebra is pinned, not just the
    triple identity."""
    from datetime import timezone as _tz

    def norm_ts(t):
        if t is None:
            return None
        if t.tzinfo is not None:
            t = t.astimezone(_tz.utc).replace(tzinfo=None)
        return t

    eps = [
        {
            "uuid": r["episode_uuid"],
            "group_id": r["group_id"],
            "content": r["content"],
            "valid_at": r["ep_valid_at"],
        }
        for r in result["episodes"].collect()
    ]
    g = ingest_episodes(eps, NOW)
    from graphiti_spark import kernels as K

    ref = {
        (
            e.group_id,
            min(g.nodes[e.src]["aliases"]),
            e.predicate,
            min(g.nodes[e.dst]["aliases"]),
            K.normalize_exact(e.fact),
        ): (norm_ts(e.valid_at), norm_ts(e.invalid_at), norm_ts(e.expired_at))
        for e in g.edges.values()
    }

    nodes = result["nodes"].select("uuid", "norm_name")
    got_rows = (
        result["edges"]
        .join(
            nodes.withColumnRenamed("uuid", "source_node_uuid").withColumnRenamed(
                "norm_name", "subj_name"
            ),
            on="source_node_uuid",
        )
        .join(
            nodes.withColumnRenamed("uuid", "target_node_uuid").withColumnRenamed(
                "norm_name", "obj_name"
            ),
            on="target_node_uuid",
        )
        .select(
            "group_id", "subj_name", "name", "obj_name", "norm_fact",
            "valid_at", "invalid_at", "expired_at",
        )
        .collect()
    )
    got = {
        (r["group_id"], r["subj_name"], r["name"], r["obj_name"], r["norm_fact"]): (
            norm_ts(r["valid_at"]), norm_ts(r["invalid_at"]), norm_ts(r["expired_at"])
        )
        for r in got_rows
    }
    shared = set(ref) & set(got)
    assert len(shared) >= 0.95 * max(len(ref), len(got))  # the P/R gate again
    diverging = {k for k in shared if ref[k] != got[k]}
    assert not diverging, (
        f"{len(diverging)}/{len(shared)} temporal tuples diverge; "
        f"sample: {sorted(diverging)[:3]}"
    )


def test_earliest_seen_spelling_names_the_node(spark):
    """Two spellings that fuzzy-merge: the oracle creates the node at the
    first sighting ('Duff Holdings'), whose id sorts above the later
    'Duff-Holdings'. run_pipeline keeps the same node uuid, so the edge
    uuids, and with them the near-dup merge's min-uuid survivor, equal
    the oracle's."""
    from datetime import timedelta

    from graphiti_spark.extraction import det_id

    host = "news.example"
    assert det_id("node", host, "duff-holdings") < det_id("node", host, "duff holdings")
    texts = [
        "Duff Holdings is based in Lisbon. Homer Simpson works at Duff Holdings.",
        "Duff-Holdings is based in Lisbon. Homer Simpson works at Duff-Holdings.",
    ]
    pages = spark.createDataFrame(
        [(f"https://{host}/{i}", NOW - timedelta(days=2 - i), None, t, "en")
         for i, t in enumerate(texts)],
        schema=WEB_PAGES,
    )
    result = run_pipeline(spark, pages, now=NOW, with_embeddings=True)
    eps = [
        {"uuid": r["episode_uuid"], "group_id": r["group_id"],
         "content": r["content"], "valid_at": r["ep_valid_at"]}
        for r in result["episodes"].collect()
    ]
    g = ingest_episodes(eps, NOW)
    assert det_id("node", host, "duff holdings") in g.nodes
    assert {r["uuid"] for r in result["nodes"].collect()} == set(g.nodes)
    assert {r["uuid"] for r in result["edges"].collect()} == {e.uuid for e in g.edges.values()}
    assert spark_triple_set(result) == triple_set(g)
    result["release"]()


def test_reflexion_pipeline_matches_oracle(spark):
    """run_pipeline(reflexion=True) against the oracle run with the same E2
    extractor, over pages that name entities through a naming cue (half of
    them html, half text-only): node uuids, edge uuids and the triple set
    are equal."""
    from graphiti_spark.extraction import extract_mentions_with_reflexion, render_html

    cue_names = ["deep forge", "blue finch", "iron quay"]
    rows = generate_web_pages(n_pages=120, seed=42)
    for i, r in enumerate(rows[::3]):
        r["text"] += f"\n\nA startup called {cue_names[i % 3]} opened nearby."
        r["html"] = render_html(r["text"]) if i % 2 else None
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    )
    result = run_pipeline(spark, pages, now=NOW, with_embeddings=False, reflexion=True)
    eps = [
        {"uuid": r["episode_uuid"], "group_id": r["group_id"],
         "content": r["content"], "valid_at": r["ep_valid_at"]}
        for r in result["episodes"].collect()
    ]
    g = ingest_episodes(eps, NOW, mention_fn=extract_mentions_with_reflexion)
    assert set(cue_names) <= {a for n in g.nodes.values() for a in n["aliases"]}
    assert {r["uuid"] for r in result["nodes"].collect()} == set(g.nodes)
    assert {r["uuid"] for r in result["edges"].collect()} == {e.uuid for e in g.edges.values()}
    assert spark_triple_set(result) == triple_set(g)
    result["release"]()
