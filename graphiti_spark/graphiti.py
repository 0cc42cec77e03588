"""GraphitiSpark — the reference's public `Graphiti` class surface
(/root/reference/graphiti_core/graphiti.py:127-1113) bound 1:1 onto this
engine's operators over a persistent store, so a user of the reference can
switch method-for-method:

    reference (async, per-episode)        GraphitiSpark (batch, Spark)
    ------------------------------        ----------------------------
    build_indices_and_constraints   ->    build_indices_and_constraints
    add_episode                     ->    add_episode          (1-row batch)
    add_episode_bulk                ->    add_episode_bulk     (DataFrame/list)
    retrieve_episodes               ->    retrieve_episodes
    search                          ->    search               (edge hybrid RRF)
    search_ (configurable)          ->    search_              (any recipe)
    get_nodes_and_edges_by_episode  ->    get_nodes_and_edges_by_episode
    add_triplet                     ->    add_triplet
    remove_episode                  ->    remove_episode
    build_communities               ->    build_communities
    close                           ->    close

Every mutation goes through the same batch pipeline the bulk path uses
(Kappa arrangement — one code path for one episode or a billion), resolves
against the store's current canonical nodes (D11) and MERGE-upserts the
episodes/nodes/edges/mentions/duplicate_pairs tables through
store.merge_tables, so state accumulates across calls exactly like the
reference's graph database does.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.extraction import embed_text
from graphiti_spark.pipeline import add_triplets, run_pipeline
from graphiti_spark.schemas import WEB_PAGES
from graphiti_spark.store import (
    EPISODE_WINDOW_LEN,
    ParquetStore,
    batch_tables,
    merge_tables,
    remove_episode as _remove_episode,
    retrieve_episodes as _retrieve_episodes,
)


class GraphitiSpark:
    """Stateful facade over a graph store: group_id-partitioned parquet via
    ParquetStore by default. A custom `store` needs ParquetStore's read /
    exists / merge_upsert / overwrite / overwrite_partitions / delete_table
    surface. IcebergStore has no exists / overwrite, so it is not a
    drop-in store here; its MERGE INTO SQL is the catalog-native form of
    merge_upsert."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        store=None,
        registry=None,
        with_embeddings: bool = True,
    ):
        self.spark = spark
        self.store = store or ParquetStore(spark, store_root)
        self.registry = registry
        self.with_embeddings = with_embeddings

    # -- schema / lifecycle -------------------------------------------------

    def build_indices_and_constraints(self, delete_existing: bool = False) -> None:
        """ref graphiti.py:314-348. ParquetStore needs no DDL (partition
        layout is created on first write); an IcebergStore receives its
        CREATE TABLE + WRITE ORDERED BY DDL through ensure_table (which
        takes an exemplar DataFrame, so each table schema becomes an empty
        frame here)."""
        from graphiti_spark.schemas import STORE_TABLES

        if delete_existing:
            for t in STORE_TABLES:
                self.store.delete_table(t)
        if hasattr(self.store, "ensure_table"):
            for t, schema in STORE_TABLES.items():
                self.store.ensure_table(t, self.spark.createDataFrame([], schema))

    def close(self) -> None:
        """ref graphiti.py:282 closes the DB driver. The SparkSession and
        its session-global cache belong to the caller, and every pipeline
        cache this facade creates is released per-call (result['release']
        inside add_episode_bulk) — so there is nothing left to drop here;
        the method exists for 1:1 surface parity."""

    # -- ingest ---------------------------------------------------------------

    def add_episode(
        self,
        name: str,
        episode_body: str,
        source_description: str = "",
        reference_time: datetime | None = None,
        group_id: str = "",
        source: str = "text",
    ) -> dict:
        """ref graphiti.py:383-449 — a 1-row batch through the SAME chain as
        add_episode_bulk (the engine has one code path at every size)."""
        ts = reference_time or datetime.now(timezone.utc)
        return self.add_episode_bulk(
            [
                {
                    "url": name,
                    "warc_ts": ts,
                    "html": None,
                    "text": episode_body,
                    "lang": "en",
                    "group_id": group_id,
                    "source": source,
                    "source_description": source_description,
                }
            ]
        )

    def add_episode_bulk(self, episodes) -> dict:
        """ref graphiti.py:584-870. `episodes`: a web_pages-shaped DataFrame,
        or a list of dicts with url/warc_ts/text (html/lang/group_id
        optional). Returns the per-call pipeline outputs (the store holds
        the accumulated graph)."""
        if isinstance(episodes, DataFrame):
            batch = episodes
            group_col = None
        else:
            from pyspark.sql.types import StringType, StructField, StructType

            fields = list(WEB_PAGES.fields) + [StructField("group_id", StringType())]
            rows = [
                (
                    e["url"],
                    e["warc_ts"],
                    e.get("html"),
                    e.get("text"),
                    e.get("lang", "en"),
                    e.get("group_id", ""),
                )
                for e in episodes
            ]
            # per-episode source/source_description overrides ride in the
            # batch frame; rows without any take pages_to_episodes' defaults
            own = ["source" in e or "source_description" in e for e in episodes]
            if any(own):
                fields += [StructField(c, StringType()) for c in ("source", "source_description")]
                rows = [
                    row + ((e.get("source", "text"), e.get("source_description", "")) if o else (None, None))
                    for row, e, o in zip(rows, episodes, own)
                ]
            batch = self.spark.createDataFrame(rows, schema=StructType(fields))
            group_col = F.col("group_id")
        existing = self.store.read("nodes") if self.store.exists("nodes") else None
        result = run_pipeline(
            self.spark,
            batch,
            group_col=group_col,
            with_embeddings=self.with_embeddings,
            existing_nodes=existing,
            registry=self.registry,
        )
        merge_tables(self.store, batch_tables(result))
        result["release"]()
        return result

    def get_duplicate_pairs(self, group_ids: list[str] | None = None) -> DataFrame:
        """The accumulated IS_DUPLICATE_OF provenance table (ref
        edge_operations.py:609-670): which raw names folded into which
        canonical entity, across every ingested batch (empty before the
        first)."""
        df = self.store.read("duplicate_pairs")
        return df.filter(F.col("group_id").isin(group_ids)) if group_ids else df

    def add_triplet(
        self,
        group_id: str,
        subject: str,
        predicate: str,
        obj: str,
        fact: str | None = None,
        valid_at: datetime | None = None,
    ) -> None:
        """ref graphiti.py:1018-1083 — hand-asserted fact through the full
        resolve -> canonicalize -> dedup -> merge -> invalidate chain."""
        trip = self.spark.createDataFrame(
            [(group_id, subject, predicate, obj, fact or f"{subject} {predicate} {obj}", valid_at)],
            schema="group_id string, subject string, predicate string, object string, fact string, valid_at timestamp",
        )
        existing = self.store.read("nodes") if self.store.exists("nodes") else None
        result = add_triplets(self.spark, trip, existing_nodes=existing)
        merge_tables(self.store, {t: result[t] for t in ("nodes", "edges")})
        result["release"]()

    def remove_episode(self, episode_uuid: str) -> None:
        """ref graphiti.py:1085-1113 cascade, applied to the store.

        PARTITION-RESTRICTED: the cascade is group-local by construction
        (every uuid embeds its group_id; mentions/edges only reference
        same-group episodes and entities), so only the episode's group_id
        partition of each table is read, recomputed and swapped — an O(1)
        logical delete costs O(group), not O(table). A null group_id (not
        value-addressable as a partition directory) takes the full-table
        rewrite.
        """
        row = (
            self.store.read("episodes")
            .filter(F.col("uuid") == episode_uuid)
            .select("group_id")
            .limit(1)
            .collect()
        )
        if not row:
            return  # unknown episode: nothing to cascade
        gid = row[0]["group_id"]
        restricted = gid is not None

        def _read(t):
            df = self.store.read(t)
            return df.filter(F.col("group_id") == gid) if restricted else df

        out = _remove_episode(
            _read("episodes"), _read("nodes"), _read("edges"), _read("mentions"),
            episode_uuid,
        )
        for table, df in out.items():
            if restricted:
                self.store.overwrite_partitions(table, df, [gid])
            else:
                self.store.overwrite(table, df)

    # -- retrieval ------------------------------------------------------------

    def retrieve_episodes(
        self,
        reference_time: datetime,
        last_n: int = EPISODE_WINDOW_LEN,
        group_ids: list[str] | None = None,
        source: str | None = None,
    ) -> DataFrame:
        """ref graphiti.py:349-381."""
        return _retrieve_episodes(
            self.store.read("episodes"), reference_time, last_n, group_ids, source
        )

    def search(
        self,
        query: str,
        group_ids: list[str] | None = None,
        num_results: int = 10,
    ) -> DataFrame:
        """ref graphiti.py:905-963: hybrid BM25 + cosine RRF over edges —
        the reference's default EDGE_HYBRID_SEARCH_RRF recipe."""
        import dataclasses

        from graphiti_spark.search_recipes import EDGE_HYBRID_SEARCH_RRF, search

        cfg = dataclasses.replace(EDGE_HYBRID_SEARCH_RRF, limit=num_results)
        edges = self.store.read("edges")
        if group_ids:
            edges = edges.filter(F.col("group_id").isin(group_ids))
        out = search(
            edges,
            query,
            query_vec=embed_text(query) if self.with_embeddings else None,
            config=cfg,
        )
        return out.limit(num_results)

    def search_(self, query: str, config=None, group_ids: list[str] | None = None) -> DataFrame:
        """ref graphiti.py:978-1003 — any of the 16 canned recipes (or a
        custom SearchConfig) across its scope tables. Returns
        (scope, uuid, score)."""
        from graphiti_spark.search_recipes import search_all

        def _read(t):
            df = self.store.read(t)
            return df.filter(F.col("group_id").isin(group_ids)) if group_ids else df

        scopes: dict[str, dict] = {}
        if self.store.exists("edges"):
            scopes["edges"] = {
                "corpus": _read("edges"), "text_col": "fact",
                "vec_col": "fact_embedding", "id_col": "uuid",
            }
        if self.store.exists("nodes"):
            scopes["nodes"] = {
                "corpus": _read("nodes"), "text_col": "name",
                "vec_col": "name_embedding", "id_col": "uuid",
            }
        # episodes/communities carry no embedding column; a null vector
        # column makes the cosine leg a clean no-op for those scopes
        nullvec = F.lit(None).cast("array<float>")
        if self.store.exists("episodes"):
            scopes["episodes"] = {
                "corpus": _read("episodes").withColumn("_vec", nullvec),
                "text_col": "content", "vec_col": "_vec", "id_col": "uuid",
            }
        if self.store.exists("communities"):
            scopes["communities"] = {
                "corpus": _read("communities").withColumn("_vec", nullvec),
                "text_col": "summary", "vec_col": "_vec", "id_col": "uuid",
            }
        return search_all(
            scopes,
            query,
            query_vec=embed_text(query) if self.with_embeddings else None,
            config=config,
        )

    def get_nodes_and_edges_by_episode(self, episode_uuids: list[str]) -> dict:
        """ref graphiti.py:1004-1016: the entities and edges an episode
        asserted (provenance joins, Q14)."""
        edges = self.store.read("edges").filter(
            F.arrays_overlap(
                F.col("episodes"),
                F.array(*[F.lit(u) for u in episode_uuids]),
            )
        )
        mentioned = (
            self.store.read("mentions")
            .filter(F.col("source_node_uuid").isin(episode_uuids))
            .select(F.col("target_node_uuid").alias("uuid"))
            .distinct()
        )
        nodes = self.store.read("nodes").join(mentioned, on="uuid", how="left_semi")
        return {"nodes": nodes, "edges": edges}

    # -- communities ----------------------------------------------------------

    def build_communities(self) -> DataFrame:
        """ref graphiti.py:872-903: full label-propagation rebuild; the
        streaming path (streaming.ingest_stream) does the incremental G6
        attach instead."""
        from graphiti_spark.operators.communities import build_community_tables

        communities, members = build_community_tables(
            self.store.read("nodes"), self.store.read("edges")
        )
        self.store.overwrite("communities", communities)
        self.store.overwrite("community_members", members)
        return communities
