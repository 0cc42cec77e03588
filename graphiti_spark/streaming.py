"""Structured Streaming ingest wrapper — continuous crawl feeds.

The reference has no streaming surface (incrementality is one episode at a
time with last-3 context; SURVEY.md §2.8); its deployment scales by queue
workers. The Spark-native equivalent: a `readStream` over the landing
table/directory of web pages, `foreachBatch` running the SAME batch
pipeline incrementally — each micro-batch resolves against the current
canonical node snapshot (D11, node_dedup.resolve_names(existing_nodes))
and writes the same five tables as GraphitiSpark.add_episode_bulk
(episodes, nodes, edges, mentions, duplicate_pairs) through the same
store.merge_tables write-out, so stream and batch share one code path
(the Kappa-style arrangement Spark encourages). Once communities exist,
new entities attach to them incrementally (G6).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from graphiti_spark.pipeline import pages_to_episodes, run_pipeline
from graphiti_spark.schemas import WEB_PAGES
from graphiti_spark.store import (
    EPISODE_WINDOW_LEN,
    ParquetStore,
    batch_tables,
    merge_tables,
)


def _episode_keys(pages):
    """The stored episode row's (uuid, group_id, valid_at) per page."""
    return pages_to_episodes(pages).select(
        F.col("episode_uuid").alias("uuid"),
        "group_id",
        F.col("ep_valid_at").alias("valid_at"),
    )


def ingest_stream(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_location: str,
    schema=None,
    available_now: bool = True,
    with_embeddings: bool = False,
):
    """Start a streaming query that ingests page files appearing under
    `input_path` into the graph store. Returns the StreamingQuery.

    available_now=True drains everything currently present then stops —
    the testable mode; False runs continuously.
    """
    store = ParquetStore(spark, store_root)
    reader = spark.readStream.schema(schema or WEB_PAGES).parquet(input_path)

    def _process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        existing = store.read("nodes") if store.exists("nodes") else None
        result = run_pipeline(
            spark,
            batch_df,
            with_embeddings=with_embeddings,
            existing_nodes=existing,
        )
        merge_tables(store, batch_tables(result))
        # G6 incremental communities: if a community structure exists, new
        # entities join the plurality community of their neighbors instead
        # of re-running label propagation over the whole graph
        # (ref community_operations.py:252-340)
        if store.exists("community_members"):
            from graphiti_spark.operators.communities import attach_new_members

            new_members = attach_new_members(
                store.read("community_members"), store.read("edges"), result["nodes"]
            )
            merge_tables(store, {"community_members": new_members})
        # every upsert has materialized its input — drop this micro-batch's
        # stage caches so storage memory stays flat across the stream's life
        result["release"]()

    writer = reader.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_location
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def episode_context_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_location: str,
    schema=None,
    last_n: int | None = None,
    available_now: bool = True,
):
    """Stateful streaming form of the reference's last-N episode context
    (EPISODE_WINDOW_LEN=3, ref graph_data_operations.py:31 + the per-episode
    previous_episodes fan-out, bulk_utils.py:113-128): for every arriving
    page/episode, emit the uuids of the `last_n` strictly-earlier episodes
    of its group — across micro-batch boundaries.

    This is the applyInPandasWithState pattern for operators whose state is
    NOT expressible as a windowed aggregation: the state per group_id is the
    rolling (valid_at, uuid) tail of size `last_n`, a few hundred bytes, so
    state storage is O(groups), never O(episodes). Within a micro-batch the
    batch's own episodes also precede later ones — rows are sorted by
    (valid_at, uuid) inside the pandas group before the rolling pass, the
    same arrival order previous_episodes_bulk uses, so draining N files in
    one batch or in N batches yields byte-identical output (asserted in
    tests/test_streaming.py).

    Output rows: (uuid, group_id, valid_at, prev_uuids array<string>).
    """
    import pandas as pd

    n = last_n or EPISODE_WINDOW_LEN
    out_schema = (
        "uuid string, group_id string, valid_at timestamp, prev_uuids array<string>"
    )
    state_schema = "ts array<long>, ids array<string>"

    def _update(key, pdf_iter, state):
        (group_id,) = key
        if state.exists:
            ts_list, id_list = state.get
            tail_ts, tail_ids = list(ts_list), list(id_list)
        else:
            tail_ts, tail_ids = [], []
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["valid_at", "uuid"]).reset_index(drop=True)
        # rolling last-n window as slices over ONE combined id list (state
        # tail + this batch, both ascending): row j's context is the n ids
        # preceding position base+j — no per-row Series construction
        # (iterrows), just len(rows) list slices of width <= n
        all_ids = tail_ids + rows["uuid"].tolist()
        base = len(tail_ids)
        out_prev = [all_ids[max(0, base + j - n): base + j] for j in range(len(rows))]
        new_ts = tail_ts + [int(v) for v in rows["valid_at"].astype("int64")]
        state.update((new_ts[-n:], all_ids[-n:]))
        yield pd.DataFrame(
            {
                "uuid": rows["uuid"],
                "group_id": group_id,
                "valid_at": rows["valid_at"],
                "prev_uuids": out_prev,
            }
        )

    reader = spark.readStream.schema(schema or WEB_PAGES).parquet(input_path)
    episodes = _episode_keys(reader)
    from pyspark.sql.streaming.state import GroupStateTimeout

    result = episodes.groupBy("group_id").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        result.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _windowed_counts_transform(episodes, window_duration: str, exact_distinct: bool = False):
    """Shared tumbling-window aggregation used by the streaming query, its
    batch twin, AND the episode_window_counts driver entry: episode arrival
    counts + distinct-uuid counts per (group_id, event-time window).

    exact_distinct=False (streaming): HLL approx_count_distinct — the
    mergeable sketch streaming state needs; deterministic for fixed input
    (register maxima are order/partition-independent). True (the driver
    oracle): exact count(DISTINCT), which DuckDB recomputes."""
    dcount = (
        F.count_distinct("uuid") if exact_distinct else F.approx_count_distinct("uuid")
    )
    return (
        episodes.groupBy("group_id", F.window("valid_at", window_duration))
        .agg(
            F.count("*").alias("n_episodes"),
            dcount.alias("approx_uuids"),
        )
        .select(
            "group_id",
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_episodes",
            "approx_uuids",
        )
    )


def windowed_episode_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_location: str,
    schema=None,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Watermarked tumbling-window episode rates — the standard Structured
    Streaming shape for crawl-feed monitoring (episodes/group/window with
    bounded tolerance for late pages).

    `withWatermark(valid_at, watermark)` bounds the state store: a window
    closes — and is emitted exactly once, append mode — when the event-time
    watermark passes its end, so late pages within the tolerance still
    count and later ones are dropped instead of growing state forever.
    State is O(open windows x groups), independent of stream length.

    The aggregation body is shared with `windowed_episode_counts_batch`
    (the batch twin) so stream-vs-batch equality is testable: draining the
    same pages through the stream (with a watermark-advancing sentinel)
    yields the same closed windows the batch transform computes.
    """
    reader = spark.readStream.schema(schema or WEB_PAGES).parquet(input_path)
    episodes = _episode_keys(reader)
    agg = _windowed_counts_transform(
        episodes.withWatermark("valid_at", watermark), window_duration
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_episode_counts_batch(
    pages, window_duration: str = "1 hour", exact_distinct: bool = False
):
    """Batch twin of windowed_episode_counts over a static pages frame."""
    episodes = _episode_keys(pages)
    return _windowed_counts_transform(episodes, window_duration, exact_distinct)
