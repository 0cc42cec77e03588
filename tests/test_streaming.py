"""Structured Streaming ingest: foreachBatch micro-batches run the batch
pipeline incrementally against the store (Kappa-style single code path)."""

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from graphiti_spark.datagen import generate_web_pages
from graphiti_spark.graphiti import GraphitiSpark
from graphiti_spark.schemas import WEB_PAGES
from graphiti_spark.store import ParquetStore
from graphiti_spark.streaming import ingest_stream


def _write_pages(path, rows):
    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array(
                [r["warc_ts"] for r in rows], type=pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r["html"] for r in rows], type=pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    pq.write_table(table, path)


def test_streaming_incremental_ingest(spark, tmp_path):
    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    store_root = str(tmp_path / "graph")
    ck = str(tmp_path / "ck")

    rows = generate_web_pages(n_pages=60, seed=42)
    half = len(rows) // 2
    _write_pages(str(in_dir / "batch1.parquet"), rows[:half])

    q = ingest_stream(spark, str(in_dir), store_root, ck)
    q.awaitTermination(240)

    store = ParquetStore(spark, store_root)
    n_nodes_1 = store.read("nodes").count()
    n_edges_1 = store.read("edges").count()
    assert n_nodes_1 > 0 and n_edges_1 > 0
    uuid_by_name = {
        (r["group_id"], r["name"]): r["uuid"]
        for r in store.read("nodes").select("group_id", "name", "uuid").collect()
    }

    # second file lands -> availableNow drains only the new file
    _write_pages(str(in_dir / "batch2.parquet"), rows[half:])
    q2 = ingest_stream(spark, str(in_dir), store_root, ck)
    q2.awaitTermination(240)

    nodes2 = store.read("nodes")
    assert nodes2.count() >= n_nodes_1
    assert store.read("edges").count() >= n_edges_1
    # entities re-seen in batch 2 keep their batch-1 canonical uuid (D11)
    kept = {
        (r["group_id"], r["name"]): r["uuid"]
        for r in nodes2.select("group_id", "name", "uuid").collect()
    }
    overlap = set(uuid_by_name) & set(kept)
    assert overlap
    same = sum(1 for n in overlap if uuid_by_name[n] == kept[n])
    assert same / len(overlap) >= 0.95
    # uuids unique after merge
    assert nodes2.select("uuid").distinct().count() == nodes2.count()
    # the stream writes the same tables as the facade, episodes readable
    assert store.exists("episodes") and store.exists("duplicate_pairs")
    later = datetime(2100, 1, 1, tzinfo=timezone.utc)
    assert GraphitiSpark(spark, store_root).retrieve_episodes(later).count() > 0


def test_stream_matches_facade_batch(spark, tmp_path):
    """One micro-batch and GraphitiSpark.add_episode_bulk over the same
    pages write identical rows to all five batch tables, apart from the
    columns stamped with the wall-clock `now`."""
    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    _write_pages(str(in_dir / "pages.parquet"), generate_web_pages(n_pages=60, seed=42))
    stream_root = str(tmp_path / "stream")
    ingest_stream(spark, str(in_dir), stream_root, str(tmp_path / "ck")).awaitTermination(240)
    facade = GraphitiSpark(spark, str(tmp_path / "facade"), with_embeddings=False)
    facade.add_episode_bulk(spark.read.schema(WEB_PAGES).parquet(str(in_dir)))

    now_stamped = {"edges": "expired_at", "duplicate_pairs": "created_at"}

    def rows(store, table):
        df = store.read(table)
        df = df.drop(now_stamped.get(table, "_none"))
        return sorted(str(tuple(r)) for r in df.select(*sorted(df.columns)).collect())

    stream = ParquetStore(spark, stream_root)
    for table in ("episodes", "nodes", "edges", "mentions", "duplicate_pairs"):
        got = rows(stream, table)
        assert got, table
        assert got == rows(facade.store, table), table


def test_streaming_incremental_communities(spark, tmp_path):
    """G6: once communities exist, later micro-batches attach NEW entities
    to neighbor-plurality communities without recomputing LPA — existing
    assignments are byte-stable across batches."""
    from graphiti_spark.operators.communities import build_community_tables

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    store_root = str(tmp_path / "graph")
    ck = str(tmp_path / "ck")

    rows = generate_web_pages(n_pages=60, seed=42)
    half = len(rows) // 2
    _write_pages(str(in_dir / "batch1.parquet"), rows[:half])
    ingest_stream(spark, str(in_dir), store_root, ck).awaitTermination(240)

    store = ParquetStore(spark, store_root)
    comms, members = build_community_tables(store.read("nodes"), store.read("edges"))
    store.overwrite("communities", comms)
    store.overwrite("community_members", members, partition_by=None)
    before = {
        r["target_node_uuid"]: r["source_node_uuid"]
        for r in store.read("community_members").collect()
    }
    assert before

    _write_pages(str(in_dir / "batch2.parquet"), rows[half:])
    ingest_stream(spark, str(in_dir), store_root, ck).awaitTermination(240)

    after = {
        r["target_node_uuid"]: r["source_node_uuid"]
        for r in store.read("community_members").collect()
    }
    # every pre-existing assignment survives unchanged
    assert all(after.get(n) == c for n, c in before.items())
    # and at least one NEW entity joined an existing community
    assert set(after) - set(before)


def test_streaming_soak_no_cache_growth(spark, tmp_path):
    """VERDICT r02 #4: per-micro-batch stage caches must be released —
    N successive micro-batches may not grow the persistent-RDD set
    (a leak here grows executor storage memory for the stream's whole
    life)."""
    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    store_root = str(tmp_path / "graph")
    rows = generate_web_pages(n_pages=45, seed=7)

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    baseline = n_persistent()
    third = len(rows) // 3
    for i in range(3):
        _write_pages(str(in_dir / f"b{i}.parquet"), rows[i * third:(i + 1) * third])
        q = ingest_stream(spark, str(in_dir), store_root, str(tmp_path / "ck"))
        q.awaitTermination(240)
        assert n_persistent() <= baseline, (
            f"micro-batch {i} leaked {n_persistent() - baseline} cached RDDs"
        )


def test_episode_context_stream_stateful(spark, tmp_path):
    """applyInPandasWithState last-N context: state carries across
    micro-batches, and drain-in-1-batch == drain-in-2-batches =="""
    from graphiti_spark.streaming import episode_context_stream

    # the stream's context is arrival-ordered (exactly like the reference's
    # sequential add_episode ingest); feed batches in valid_at order so the
    # two-batch drain is comparable with the one-batch drain and the
    # valid_at-ordered batch twin
    rows = sorted(generate_web_pages(n_pages=40, seed=11), key=lambda r: r["warc_ts"])
    half = len(rows) // 2

    def run(tag, files):
        in_dir = tmp_path / f"in_{tag}"
        in_dir.mkdir()
        out = str(tmp_path / f"out_{tag}")
        ck = str(tmp_path / f"ck_{tag}")
        got = None
        for i, chunk in enumerate(files):
            _write_pages(str(in_dir / f"b{i}.parquet"), chunk)
            q = episode_context_stream(spark, str(in_dir), out, ck)
            q.awaitTermination(240)
        return {
            r["uuid"]: (r["group_id"], tuple(r["prev_uuids"]))
            for r in spark.read.parquet(out).collect()
        }

    one = run("one", [rows])
    two = run("two", [rows[:half], rows[half:]])
    assert one == two
    assert len(one) > 0
    # batch-semantics twin: previous_episodes_bulk on the same episodes,
    # truncated to the window length, most-recent-last
    from graphiti_spark.pipeline import pages_to_episodes
    from graphiti_spark.store import EPISODE_WINDOW_LEN, previous_episodes_bulk

    eps = pages_to_episodes(
        spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
            schema="url string, warc_ts timestamp, html binary, text string, lang string",
        )
    ).select(
        F.col("episode_uuid").alias("uuid"),
        "group_id",
        F.col("ep_valid_at").alias("valid_at"),
    )
    want = {
        r["uuid"]: sorted(r["prev_uuids"])
        for r in previous_episodes_bulk(eps, last_n=EPISODE_WINDOW_LEN).collect()
    }
    for uuid, (gid, prevs) in one.items():
        # same SET of context uuids per episode (previous_episodes_bulk
        # emits most-recent-first; the stream emits oldest-first)
        assert sorted(prevs) == want[uuid], uuid


def test_episode_context_stream_multigroup_soak(spark, tmp_path):
    """Throughput soak across many micro-batches and groups: per-batch
    wall time stays flat (state is O(groups), the rolling pass is slice
    work, not per-row Python), and the final output equals the
    previous_episodes window semantics for every group."""
    import time

    from graphiti_spark.streaming import episode_context_stream

    rows = sorted(generate_web_pages(n_pages=160, seed=7), key=lambda r: r["warc_ts"])
    n_batches = 4
    chunk = (len(rows) + n_batches - 1) // n_batches
    in_dir = tmp_path / "soak_in"
    in_dir.mkdir()
    out = str(tmp_path / "soak_out")
    ck = str(tmp_path / "soak_ck")
    batch_secs = []
    for i in range(n_batches):
        _write_pages(str(in_dir / f"b{i}.parquet"), rows[i * chunk:(i + 1) * chunk])
        t0 = time.time()
        q = episode_context_stream(spark, str(in_dir), out, ck)
        q.awaitTermination(240)
        batch_secs.append(time.time() - t0)
    got = spark.read.parquet(out)
    n_groups = got.select("group_id").distinct().count()
    assert n_groups >= 4 and got.count() > 0
    # every context window is bounded and strictly from earlier episodes
    assert got.filter(F.size("prev_uuids") > 3).count() == 0
    # flat latency: the last batch may not blow past the noise band of the
    # first (state growth or per-row Python would show superlinear drift)
    assert batch_secs[-1] < 3.0 * max(batch_secs[0], 1.0), batch_secs


def test_windowed_episode_counts_matches_batch_twin(spark, tmp_path):
    """Watermarked tumbling windows: drain pages in two micro-batches with
    a late-but-in-tolerance row, flush with a watermark-advancing sentinel,
    and compare every closed window against the batch twin."""
    from datetime import datetime, timezone

    from graphiti_spark.datagen import generate_web_pages
    from graphiti_spark.schemas import WEB_PAGES
    from graphiti_spark.streaming import (
        windowed_episode_counts,
        windowed_episode_counts_batch,
    )

    rows = generate_web_pages(n_pages=80, seed=7)
    mk = lambda rs: spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rs],
        schema=WEB_PAGES,
    )
    in_dir = tmp_path / "win_in"
    in_dir.mkdir()
    out = str(tmp_path / "win_out")
    ck = str(tmp_path / "win_ck")

    def drain(label):
        q = windowed_episode_counts(
            spark, str(in_dir) + "/*", out, ck, watermark="2 hours", available_now=True
        )
        q.awaitTermination(300)

    # split in EVENT-TIME order (datagen interleaves +30d re-crawls, so a
    # positional split would let batch 1's re-crawls drag the watermark a
    # month ahead and mass-drop batch 2). Hold back two rows from batch 1:
    # late_ok = batch 1's max-ts row (window still open under the 2h
    # watermark when it arrives in batch 2 -> counted), too_late = an early
    # row (far beyond tolerance -> must be dropped)
    from datetime import timedelta

    rows_sorted = sorted(rows, key=lambda r: (r["warc_ts"], r["url"]))
    too_late, late_ok = rows_sorted[5], rows_sorted[49]
    first = [r for r in rows_sorted[:50] if r is not late_ok and r is not too_late]
    b1_max = max(r["warc_ts"] for r in first)
    assert too_late["warc_ts"] < b1_max - timedelta(hours=3), "precondition: beyond tolerance"
    assert late_ok["warc_ts"] >= b1_max - timedelta(hours=2), "precondition: within tolerance"
    mk(first).write.mode("overwrite").parquet(str(in_dir / "b1"))
    drain("b1")

    # batch 2: the (event-time-later) rest + both held-back rows
    mk(rows_sorted[50:] + [late_ok, too_late]).write.mode("overwrite").parquet(
        str(in_dir / "b2")
    )
    drain("b2")

    # sentinel batch: advances the watermark past every real window so all
    # of them close and emit (append mode)
    sentinel = dict(rows[0])
    sentinel["url"] = "https://h0.example/sentinel"
    sentinel["warc_ts"] = datetime(2030, 1, 1, tzinfo=timezone.utc)
    mk([sentinel]).write.mode("overwrite").parquet(str(in_dir / "b3"))
    drain("b3")
    sentinel2 = dict(sentinel)
    sentinel2["url"] = "https://h0.example/sentinel2"
    sentinel2["warc_ts"] = datetime(2030, 2, 1, tzinfo=timezone.utc)
    mk([sentinel2]).write.mode("overwrite").parquet(str(in_dir / "b4"))
    drain("b4")

    got = {
        (r["group_id"], r["win_start"], r["win_end"]): (r["n_episodes"], r["approx_uuids"])
        for r in spark.read.parquet(out).collect()
        if r["win_start"].year < 2030
    }
    # effective input after the watermark drop: everything except too_late
    want_df = windowed_episode_counts_batch(mk([r for r in rows if r is not too_late]))
    want = {
        (r["group_id"], r["win_start"], r["win_end"]): (r["n_episodes"], r["approx_uuids"])
        for r in want_df.collect()
    }
    assert set(got) == set(want)
    assert got == want
    # and the drop is real: the full-input twin disagrees on too_late's window
    full = {
        (r["group_id"], r["win_start"], r["win_end"]): (r["n_episodes"], r["approx_uuids"])
        for r in windowed_episode_counts_batch(mk(rows)).collect()
    }
    assert got != full
