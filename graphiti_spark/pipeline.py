"""The end-to-end KG-construction pipeline (S2/add_episode_bulk re-expressed).

One Spark job reproduces the reference's 12-step bulk chain
(/root/reference/graphiti_core/graphiti.py:584-870, traced in SURVEY.md
§3.2) as declarative DataFrame stages:

    web_pages ─ S3/E1/E3 ─┬─> raw mentions ──> D1-D14 canonicalize
                          ├─> raw triples ─ D15 ──> T1/T2 dedup
                          └─> episode text            │
                        T6/T7 invalidation ─> T5/T10 near-dup merge ─> edges
    episodes + nodes + mentions + edges ─ S6 ─> materialized tables (+ manifests)

S3, E1 and E3 are one mapInPandas (udfs.extract_all_map), so each page
crosses into Python once; the episode row joins the page metadata to the
text that map emitted, and writing it runs no Python.

The chain is eight lineage.StageRunner stages — extraction,
name_resolution, nodes_canonical / edges_dedup / mentions (concurrent),
edges_invalidate / edges_canon_map (concurrent), edges — and every batch
runs all eight, whatever its size. In-memory mode persists each stage; with
a checkpoint directory each stage writes parquet plus a lineage manifest so
it resumes idempotently. `add_triplets` feeds hand-asserted triples into the
same chain from name_resolution on.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.functions.udfs import (
    embed_udf,
    extract_all_df,
    normalize_exact_col,
    split_extraction,
)
from graphiti_spark.lineage import StageRunner
from graphiti_spark.operators.edge_ops import (
    apply_edge_merge,
    apply_invalidation,
    dedup_edges,
    invalidation_map,
    near_dup_canonical_map,
    rewrite_pointers,
)
from graphiti_spark.operators.node_dedup import (
    build_canonical_nodes,
    det_id_col,
    duplicate_pair_edges,
    resolve_names,
)


def pages_to_episodes(pages: DataFrame, group_col=None, lang: str | None = "en") -> DataFrame:
    """S3: RawEpisode keys and metadata from web pages, JVM-only. The raw
    `html` and `text` columns ride along (html null-typed when the input has
    none); udfs.extract_all_df derives the content from them, html->text
    (byte-identical per url) with the text column as the fallback for rows
    without html. group_id defaults to the url host; source and
    source_description come from input columns of those names when present
    (per-episode overrides) and default to 'text' / 'web crawl'."""
    if group_col is None:
        group_col = F.regexp_extract(F.col("url"), r"https?://([^/]+)", 1)
    df = pages
    if lang is not None and "lang" in pages.columns:
        df = df.filter(F.col("lang") == lang)
    html = F.col("html") if "html" in df.columns else F.lit(None).cast("binary")

    def given(col: str, default: str):
        lit = F.lit(default)
        return F.coalesce(F.col(col), lit) if col in df.columns else lit

    return df.select(
        det_id_col(F.lit("ep"), F.col("url"), F.col("warc_ts").cast("string")).alias(
            "episode_uuid"
        ),
        F.col("url").alias("name"),
        group_col.alias("group_id"),
        given("source", "text").alias("source"),
        given("source_description", "web crawl").alias("source_description"),
        html.alias("html"),
        F.col("text"),
        F.col("warc_ts").alias("ep_valid_at"),
    )


def build_mentions_table(raw_mentions: DataFrame, name_resolution: DataFrame) -> DataFrame:
    """G1: MENTIONS provenance edges episode -> canonical entity."""
    m = raw_mentions.withColumn("norm_exact", normalize_exact_col(F.col("name")))
    return (
        m.join(name_resolution, on=["group_id", "norm_exact"])
        .groupBy(
            "group_id",
            F.col("episode_uuid").alias("source_node_uuid"),
            F.col("canonical_id").alias("target_node_uuid"),
        )
        .agg(F.min("ep_valid_at").alias("created_at"))
        .withColumn(
            "uuid",
            det_id_col(
                F.lit("mention"),
                F.col("source_node_uuid"),
                F.col("target_node_uuid"),
            ),
        )
        .select("uuid", "group_id", "source_node_uuid", "target_node_uuid", "created_at")
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    group_col=None,
    lang: str | None = "en",
    now: datetime | None = None,
    checkpoint_dir: str | None = None,
    with_embeddings: bool = True,
    existing_nodes: DataFrame | None = None,
    registry=None,
    reflexion: bool = False,
) -> dict:
    """Full batch ingest. Returns dict with episodes/nodes/edges/mentions
    DataFrames plus per-stage metrics.

    Every batch runs the eight stages named in the module docstring, in
    memory (`checkpoint_dir=None`) or durably; each `metrics` row comes
    from one StageRunner.run call.

    With a `registry` (ontology.TypeRegistry) the edge_type_map is enforced
    on the canonical edges and E5/E6 attribute rules fill the node/edge
    `attributes` maps (ref graphiti.py:393-397 + the per-type attribute
    extraction the SURVEY traces as E5/E6)."""
    now = now or datetime.now(timezone.utc)
    runner = StageRunner(spark, checkpoint_dir)

    # input fingerprint: cheap & stable — count + paths
    try:
        in_files = ",".join(sorted(pages.inputFiles()))
    except Exception:
        in_files = "inline"
    # the reflexion flag changes extraction output, so it is part of the
    # stage fingerprint (a durable checkpoint from the other mode must miss)
    in_fp = f"{in_files}:rfx{int(reflexion)}"

    pages_meta = pages_to_episodes(pages, group_col, lang)

    # one pass over the corpus produces each page's text, mentions AND
    # triples (kind-tagged): page content crosses into Python once
    # E2 reflexion (opt-in, ref node_operations.py:62-82 — default-off via
    # MAX_REFLEXION_ITERATIONS=0): adds the deterministic second-pass
    # mention family inside the same fused scan, zero extra jobs
    raw_all = runner.run(
        "extraction", in_fp, lambda: extract_all_df(pages_meta, reflexion=reflexion)
    )
    raw_mentions, raw_triples, contents = split_extraction(raw_all)
    out = _resolve_and_assemble(
        runner, in_fp, raw_mentions, raw_triples, now,
        with_embeddings=with_embeddings, existing_nodes=existing_nodes,
        registry=registry,
    )

    # The episode row: page metadata plus one aggregate per episode — its
    # materialized text and entity_edges, the uuids of edges whose
    # provenance includes it (ref graphiti.py:544-546). One aggregate keeps
    # one row per uuid, so a (url, warc_ts) listed twice keeps one row per
    # listing, and costs the write-out a single exchange. Lazy: computed
    # if consumed.
    no_str = F.lit(None).cast("string")
    per_episode = (
        contents.select("episode_uuid", "content", no_str.alias("edge_uuid"))
        .unionByName(
            out["edges"].select(
                F.explode("episodes").alias("episode_uuid"),
                no_str.alias("content"),
                F.col("uuid").alias("edge_uuid"),
            )
        )
        .groupBy("episode_uuid")
        .agg(
            F.min("content").alias("content"),
            F.sort_array(F.collect_list("edge_uuid")).alias("entity_edges"),
        )
    )
    joined = pages_meta.join(per_episode, on="episode_uuid", how="left")
    episodes = joined.select(
        "episode_uuid", "name", "group_id", "source", "source_description",
        "content", "ep_valid_at",
    )
    episodes_out = joined.select(
        F.col("episode_uuid").alias("uuid"),
        "name",
        "group_id",
        "source",
        "source_description",
        "content",
        F.col("ep_valid_at").alias("valid_at"),
        F.coalesce(F.col("entity_edges"), F.array().cast("array<string>")).alias("entity_edges"),
    )

    return {
        **out,
        "episodes_with_edges": episodes_out,
        "episodes": episodes,
        "raw_mentions": raw_mentions,
        "raw_triples": raw_triples,
        # lazy derivation of the materialized resolution table — consumed
        # by callers that persist the IS_DUPLICATE_OF provenance
        "duplicate_pairs": duplicate_pair_edges(out["name_resolution"], now=now),
    }


def _resolve_and_assemble(
    runner: StageRunner,
    in_fp: str,
    raw_mentions: DataFrame,
    raw_triples: DataFrame,
    now: datetime,
    with_embeddings: bool,
    existing_nodes: DataFrame | None = None,
    registry=None,
) -> dict:
    """The resolve -> dedup -> invalidate -> merge chain shared by
    run_pipeline and add_triplets (the reference runs one chain for both,
    graphiti.py:584-870 and :1018-1083). Returns name_resolution / nodes /
    edges / mentions plus the runner's metrics and a `release` handle."""
    # D1-D14 global canonicalization
    name_resolution = runner.run(
        "name_resolution",
        in_fp,
        lambda: resolve_names(
            raw_mentions, existing_nodes, cache_registry=runner.persisted
        ),
    )

    resolved_triples = rewrite_pointers(raw_triples, name_resolution)
    # edges_dedup is materialized because invalidation and the near-dup
    # merge both self-join it. With embeddings requested they are computed
    # once here and reused by the merge judgment and the final table;
    # without them (P/R tests) the merge embeds only edges sharing an
    # endpoint pair — singleton pairs can never merge, and at web scale
    # that is almost all of them.
    n_parts = runner.spark.sparkContext.defaultParallelism * 2

    def _build_deduped():
        d = dedup_edges(resolved_triples)
        if with_embeddings:
            # embed ONCE here (the reference also embeds up front,
            # bulk_utils.py:427-431): the near-dup merge reuses the column
            # (skipping its internal embed pass + repartition shuffle) and
            # the canonical edge keeps its own fact, so the final table's
            # embeddings are these exact vectors — no re-embed at write.
            # The explicit repartition spreads the pandas UDF over every
            # core; AQE would coalesce the small upstream exchange.
            d = d.repartition(n_parts).withColumn(
                "fact_embedding", embed_udf(F.col("fact"))
            )
        return d

    # nodes / edge-dedup / mentions only consume already-materialized
    # stages and are mutually independent
    nodes, deduped, mentions = runner.run_concurrently(
        in_fp,
        nodes_canonical=lambda: build_canonical_nodes(name_resolution, raw_mentions),
        edges_dedup=_build_deduped,
        mentions=lambda: build_mentions_table(raw_mentions, name_resolution),
    )

    # Invalidation BEFORE near-dup merge, matching the oracle (oracle.py:169
    # invalidates at arrival over the full pre-merge edge set, then merges):
    # a merged-away near-dup may still be the earliest contradiction trigger
    # for an edge with a different target, and the canonical edge must carry
    # temporal columns computed against that full set.
    #
    # Both stages materialize only a SMALL map: the per-uuid invalidation
    # map (one grouped pass over the contradiction domains, no pair set
    # and no intermediate cache) and the near-dup canonical map with each
    # component's merged provenance on its canonical row. They derive from
    # the deduped table and touch disjoint columns (invalidation never
    # changes uuid, endpoints, created_at, episodes or fact embeddings), so
    # they run concurrently. The full-width edge table is never cached
    # again after edges_dedup: the `edges` stage folds both maps in with
    # one left join each; the maps are materialized, so the planner knows
    # their size and broadcasts them, and the edge table crosses no
    # exchange (tests/test_plans.py). The result is identical to
    # merge_near_duplicate_edges(invalidate_contradictions(.)).
    inv_map, canon = runner.run_concurrently(
        in_fp,
        edges_invalidate=lambda: invalidation_map(deduped),
        edges_canon_map=lambda: near_dup_canonical_map(deduped),
    )
    edges = runner.run(
        "edges",
        in_fp,
        lambda: apply_edge_merge(apply_invalidation(deduped, inv_map, now), canon),
    )

    if with_embeddings:
        # edges already carry fact_embedding from the edges_dedup stage
        nodes = nodes.withColumn("name_embedding", embed_udf(F.col("name")))

    if registry is not None:
        from graphiti_spark.ontology import enforce_edge_type_map
        from graphiti_spark.operators.attributes import (
            fill_edge_attributes,
            fill_node_attributes,
        )

        edges = fill_edge_attributes(
            enforce_edge_type_map(edges, nodes, registry), registry
        )
        nodes = fill_node_attributes(nodes, edges, registry)

    return {
        "name_resolution": name_resolution,
        "nodes": nodes,
        "edges": edges,
        "mentions": mentions,
        "metrics": runner.metrics,
        "now": now,
        # unpersist every stage/operator cache created by this run — call
        # after the outputs are materialized (written/collected). Without
        # it a long-lived session accumulates per-batch cache blocks
        # (streaming foreachBatch, notebooks).
        "release": lambda: [df.unpersist() for df in runner.persisted],
    }


def add_triplets(
    spark: SparkSession,
    triplets: DataFrame,
    now: datetime | None = None,
    existing_nodes: DataFrame | None = None,
) -> dict:
    """Manual triple ingestion (ref graphiti.py:1018-1083 `add_triplet`),
    generalized to a batch: triplets(group_id, subject, predicate, object
    [, fact, valid_at]) become one mention per endpoint and one raw triple
    each, then run run_pipeline's own post-extraction chain (with fact and
    name embeddings), so a hand-asserted fact is indistinguishable from an
    extracted one. With `existing_nodes` the names resolve against the
    current graph (D11) exactly like a streaming micro-batch. Returns
    {nodes, edges, mentions} frames for merge_upsert plus metrics and a
    `release` handle.
    """
    now = now or datetime.now(timezone.utc)
    t = triplets
    if "fact" not in t.columns:
        t = t.withColumn("fact", F.concat_ws(" ", "subject", "predicate", "object"))
    if "valid_at" not in t.columns:
        t = t.withColumn("valid_at", F.lit(now).cast("timestamp"))
    if "invalid_at" not in t.columns:
        t = t.withColumn("invalid_at", F.lit(None).cast("timestamp"))
    t = (
        t.withColumn("ep_valid_at", F.coalesce(F.col("valid_at"), F.lit(now).cast("timestamp")))
        .withColumn(
            "episode_uuid",
            det_id_col(
                F.lit("manual"), F.col("group_id"), F.col("subject"),
                F.col("predicate"), F.col("object"),
            ),
        )
        .withColumn("triple_idx", F.lit(0).cast("long"))
    )
    # one mention per endpoint: subject is mention 0, object mention 1
    m = t.select(
        "episode_uuid", "group_id", "ep_valid_at",
        F.posexplode(F.array("subject", "object")).alias("mention_idx", "name"),
    ).withColumn("entity_type", F.lit("Entity"))
    return _resolve_and_assemble(
        StageRunner(spark, None), "triplets", m, t, now,
        with_embeddings=True, existing_nodes=existing_nodes,
    )


def spark_triple_set(result: dict) -> set[tuple]:
    """Comparable triple identity matching oracle.triple_set: canonical name
    = min normalized alias of the component."""
    nodes = result["nodes"].select("uuid", "norm_name")
    e = (
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
        .select("group_id", "subj_name", "name", "obj_name", "norm_fact")
    )
    return {
        (r["group_id"], r["subj_name"], r["name"], r["obj_name"], r["norm_fact"])
        for r in e.collect()
    }
