"""S4-S6, S10-S11 — store semantics: merge upsert, episode windows,
cascade delete."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from graphiti_spark.store import (
    ParquetStore,
    previous_episodes_bulk,
    remove_episode,
    retrieve_episodes,
)


def ts(h):
    return datetime(2024, 1, 1, h, tzinfo=timezone.utc)


def test_merge_upsert(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("u1", "g", "a"), ("u2", "g", "b")], schema="uuid string, group_id string, v string"
    )
    store.merge_upsert("nodes", base)
    upd = spark.createDataFrame(
        [("u2", "g", "B2"), ("u3", "g", "c")], schema="uuid string, group_id string, v string"
    )
    store.merge_upsert("nodes", upd)
    got = {r["uuid"]: r["v"] for r in store.read("nodes").collect()}
    assert got == {"u1": "a", "u2": "B2", "u3": "c"}
    # idempotent re-apply
    store.merge_upsert("nodes", upd)
    assert {r["uuid"]: r["v"] for r in store.read("nodes").collect()} == got


def test_delete_group(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [("u1", "g1"), ("u2", "g2")], schema="uuid string, group_id string"
    )
    store.overwrite("nodes", df)
    store.delete_group(["g1"])
    assert [r["uuid"] for r in store.read("nodes").collect()] == ["u2"]


def _group_tables(spark, store):
    """Two groups in a partitioned table of each kind delete_group must
    cover, plus an unpartitioned community_members table."""
    nodes = spark.createDataFrame(
        [("n1", "g1", "a"), ("n2", "g2", "b")], schema="uuid string, group_id string, name string"
    )
    pairs = spark.createDataFrame(
        [("p1", "g1", "n1"), ("p2", "g2", "n2")],
        schema="uuid string, group_id string, target_node_uuid string",
    )
    comms = spark.createDataFrame(
        [("c1", "g1", "x"), ("c2", "g2", "y")], schema="uuid string, group_id string, name string"
    )
    members = spark.createDataFrame(
        [("m1", "g1", "c1"), ("m2", "g2", "c2"), ("m3", None, "c0")],
        schema="edge_uuid string, group_id string, source_node_uuid string",
    )
    store.overwrite("nodes", nodes)
    store.overwrite("duplicate_pairs", pairs)
    store.overwrite("communities", comms)
    store.overwrite("community_members", members, partition_by=None)


def _rows(store, table):
    return sorted(tuple(r) for r in store.read(table).collect())


def test_delete_group_covers_every_store_table(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    _group_tables(spark, store)
    store.delete_group(["g1"])
    for table in ("nodes", "duplicate_pairs", "communities", "community_members"):
        groups = {r["group_id"] for r in store.read(table).collect()}
        assert "g1" not in groups and "g2" in groups, table
    # a null-group row is no group's to delete
    assert store.read("community_members").filter("group_id is null").count() == 1


def test_delete_group_blank_group_from_every_table(spark, tmp_path):
    """add_episode's default group is "", which a partitioned table stores
    in __HIVE_DEFAULT_PARTITION__ and reads back as null. delete_group([""])
    removes that group's rows from every table and keeps the other
    groups'."""
    from graphiti_spark.graphiti import GraphitiSpark
    from graphiti_spark.schemas import STORE_TABLES

    g = GraphitiSpark(spark, str(tmp_path / "graph"))
    body = "Alice Smith works at Initech Corp. Bob Jones met Alice Smith."
    # the first row carries no group_id, as add_episode's default leaves it
    g.add_episode_bulk([
        {"url": "https://a.example/1", "warc_ts": ts(1), "text": body},
        {"url": "https://b.example/1", "warc_ts": ts(2), "text": body, "group_id": "kept"},
    ])
    tables = [t for t in STORE_TABLES if g.store.exists(t)]
    assert {"episodes", "nodes", "edges", "mentions"} <= set(tables)

    def groups(t):
        return {r["group_id"] for r in g.store.read(t).select("group_id").collect()}

    assert all(None in groups(t) for t in ("episodes", "nodes", "edges", "mentions"))
    g.store.delete_group([""])
    for t in tables:
        assert not groups(t) & {None, ""}, t
    for t in ("episodes", "nodes", "edges", "mentions"):
        assert groups(t) == {"kept"}, t


def test_delete_group_failed_root_rename_loses_nothing(spark, tmp_path, monkeypatch):
    """A rename onto a table's root directory that fails mid-delete (a
    crash between the swap's renames) leaves each table readable as
    exactly its pre-delete or its post-delete rows."""
    import os

    from graphiti_spark import store as store_mod

    store = ParquetStore(spark, str(tmp_path))
    _group_tables(spark, store)
    tables = ("nodes", "duplicate_pairs", "communities", "community_members")
    pre = {t: _rows(store, t) for t in tables}
    roots = {os.path.normpath(store.path(t)) for t in tables}
    real_rename = os.rename

    def rename(src, dst):
        if os.path.normpath(dst) in roots:
            raise OSError(f"injected failure renaming onto {dst}")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(store_mod.os, "rename", rename)
        try:
            store.delete_group(["g1"])
        except OSError:
            pass
    for t in tables:
        post = [r for r in pre[t] if "g1" not in r]
        assert _rows(store, t) in (pre[t], post), t


def _episodes(spark):
    rows = [
        (f"e{i}", "g1" if i < 4 else "g2", "text", ts(i)) for i in range(6)
    ]
    return spark.createDataFrame(
        rows, schema="uuid string, group_id string, source string, valid_at timestamp"
    )


def test_retrieve_episodes_window(spark):
    eps = _episodes(spark)
    got = retrieve_episodes(eps, ts(5), last_n=2).collect()
    by_group = {}
    for r in got:
        by_group.setdefault(r["group_id"], []).append(r["uuid"])
    # last 2 with valid_at <= ts(5), chronological: g1 -> e2,e3; g2 -> e4,e5
    assert by_group == {"g1": ["e2", "e3"], "g2": ["e4", "e5"]}


def test_previous_episodes_bulk(spark):
    eps = _episodes(spark)
    got = {r["uuid"]: r["prev_uuids"] for r in previous_episodes_bulk(eps, last_n=2).collect()}
    assert got["e0"] == []
    assert got["e1"] == ["e0"]
    assert got["e3"] == ["e2", "e1"]  # most recent first
    assert got["e5"] == ["e4"]


def test_remove_episode_cascade(spark):
    eps = _episodes(spark)
    nodes = spark.createDataFrame(
        [("n1", "g1"), ("n2", "g1")], schema="uuid string, group_id string"
    )
    edges = spark.createDataFrame(
        [("ed1", "g1", ["e1", "e2"]), ("ed2", "g1", ["e2", "e1"])],
        schema="uuid string, group_id string, episodes array<string>",
    )
    mentions = spark.createDataFrame(
        [("m1", "g1", "e1", "n1"), ("m2", "g1", "e1", "n2"), ("m3", "g1", "e2", "n2")],
        schema="uuid string, group_id string, source_node_uuid string, target_node_uuid string",
    )
    out = remove_episode(eps, nodes, edges, mentions, "e1")
    assert "e1" not in {r["uuid"] for r in out["episodes"].collect()}
    # ed1 was created by e1 (first provenance) -> deleted; ed2 kept
    assert {r["uuid"] for r in out["edges"].collect()} == {"ed2"}
    # n1 mentioned only by e1 -> deleted; n2 also mentioned by e2 -> kept
    assert {r["uuid"] for r in out["nodes"].collect()} == {"n2"}
    assert {r["uuid"] for r in out["mentions"].collect()} == {"m3"}


def test_merge_upsert_partition_restricted(spark, tmp_path):
    """A micro-batch touching one group must not rewrite other partitions
    (O(touched partitions) I/O, the copy-on-write MERGE INTO shape)."""
    import os

    from graphiti_spark.store import ParquetStore

    store = ParquetStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("u1", "ga", 1), ("u2", "gb", 2)], schema="uuid string, group_id string, v long"
    )
    store.merge_upsert("t", base)
    gb_dir = os.path.join(store.path("t"), "group_id=gb")
    before = {f: os.path.getmtime(os.path.join(gb_dir, f)) for f in os.listdir(gb_dir)}

    updates = spark.createDataFrame(
        [("u1", "ga", 10), ("u3", "ga", 3)], schema="uuid string, group_id string, v long"
    )
    store.merge_upsert("t", updates)

    rows = {r["uuid"]: (r["group_id"], r["v"]) for r in store.read("t").collect()}
    assert rows == {"u1": ("ga", 10), "u2": ("gb", 2), "u3": ("ga", 3)}
    after = {f: os.path.getmtime(os.path.join(gb_dir, f)) for f in os.listdir(gb_dir)}
    assert after == before  # untouched partition: same files, same mtimes


def test_iceberg_merge_sql():
    from graphiti_spark.store import IcebergStore

    sql = IcebergStore.merge_sql(
        "cat.ns.edges",
        ["uuid", "group_id", "fact", "episodes"],
        key="uuid",
        array_merge_cols=("episodes",),
    )
    assert sql.startswith("MERGE INTO cat.ns.edges AS t USING __graphiti_updates AS u")
    assert "ON t.uuid = u.uuid" in sql
    assert "t.fact = u.fact" in sql
    assert "t.uuid = u.uuid " in sql and "SET t.uuid" not in sql  # key never SET
    assert (
        "t.episodes = array_sort(array_distinct(concat(coalesce(t.episodes, array()), "
        "coalesce(u.episodes, array()))))" in sql
    )
    assert sql.endswith("WHEN NOT MATCHED THEN INSERT *")


def test_iceberg_unavailable_in_sandbox(spark):
    from graphiti_spark.store import IcebergStore

    assert not IcebergStore.available(spark, "nosuch_catalog")


def test_recover_partition_level_old_dirs(spark, tmp_path):
    """ADVICE r2: a crash inside the per-partition swap loop leaves
    group_id=X__old dirs — recover() must restore them when the live dir is
    missing and delete them when the swap had completed (else partition
    discovery resurrects stale rows under a bogus 'X__old' group)."""
    import os
    import shutil

    store = ParquetStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("u1", "ga", 1), ("u2", "gb", 2)], schema="uuid string, group_id string, v long"
    )
    store.merge_upsert("t", base)
    root = store.path("t")

    # case 1: swap died between the renames — live dir gone, only __old left
    os.rename(os.path.join(root, "group_id=ga"), os.path.join(root, "group_id=ga__old"))
    rows = {r["uuid"]: r["group_id"] for r in store.read("t").collect()}
    assert rows == {"u1": "ga", "u2": "gb"}
    assert not os.path.isdir(os.path.join(root, "group_id=ga__old"))

    # case 2: swap completed but backup cleanup didn't — both dirs present
    shutil.copytree(os.path.join(root, "group_id=gb"), os.path.join(root, "group_id=gb__old"))
    rows = store.read("t").collect()
    assert {r["group_id"] for r in rows} == {"ga", "gb"}  # no 'gb__old' resurrection
    assert len(rows) == 2
    assert not os.path.isdir(os.path.join(root, "group_id=gb__old"))


def test_merge_upsert_null_group_falls_back_to_full_merge(spark, tmp_path):
    """ADVICE r2: updates containing null group_id can't use the
    partition-restricted path (the default partition isn't addressable by
    value) — pre-existing null-group rows must survive the merge."""
    store = ParquetStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("u1", "ga", 1), ("u2", None, 2)], schema="uuid string, group_id string, v long"
    )
    store.merge_upsert("t", base)
    updates = spark.createDataFrame(
        [("u3", None, 3)], schema="uuid string, group_id string, v long"
    )
    store.merge_upsert("t", updates)
    rows = {r["uuid"]: (r["group_id"], r["v"]) for r in store.read("t").collect()}
    assert rows == {"u1": ("ga", 1), "u2": (None, 2), "u3": (None, 3)}


def test_merge_upsert_empty_group_falls_back_to_full_merge(spark, tmp_path):
    """An empty-string group_id is written to the same default partition
    as null (and reads back as null), so it cannot be addressed by value
    either — a second batch in that group must not replace the first."""
    store = ParquetStore(spark, str(tmp_path))
    schema = "uuid string, group_id string, v long"
    store.merge_upsert("t", spark.createDataFrame([("u1", "", 1), ("u2", "ga", 2)], schema))
    store.merge_upsert("t", spark.createDataFrame([("u3", "", 3)], schema))
    assert {r["uuid"] for r in store.read("t").collect()} == {"u1", "u2", "u3"}


def test_corrupt_table_raises_on_read_and_merge(spark, tmp_path):
    """Only a table with NO data files reads as the canonical empty frame:
    a truncated part file raises on read AND on merge_upsert, which must
    not overwrite the table with the new batch alone."""
    import os

    import pytest

    store = ParquetStore(spark, str(tmp_path))
    row = spark.createDataFrame(
        [("u1", "g", "m1", "n1", ts(1))],
        schema="uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, created_at timestamp",
    )
    store.merge_upsert("mentions", row.coalesce(1))
    parts = [
        os.path.join(d, f)
        for d, _, files in os.walk(store.path("mentions"))
        for f in files
        if f.endswith(".parquet")
    ]
    assert len(parts) == 1
    with open(parts[0], "r+b") as f:
        f.truncate(os.path.getsize(parts[0]) // 2)
    with pytest.raises(Exception):
        store.read("mentions").collect()
    with pytest.raises(Exception):
        store.merge_upsert("mentions", row.withColumn("uuid", F.lit("u2")))
    assert os.path.getsize(parts[0]) > 0  # the corrupt file was not replaced

    # a table directory with no data files still reads as the empty frame
    os.remove(parts[0])
    assert store.read("mentions").count() == 0


def test_iceberg_sort_order_sql():
    from graphiti_spark.store import IcebergStore

    sql = IcebergStore.sort_order_sql("cat.ns.edges", ("group_id", "uuid"))
    assert sql == "ALTER TABLE cat.ns.edges WRITE ORDERED BY (group_id, uuid)"


def _partition_file_hashes(root, part):
    """(relpath -> md5) of every file under <root>/group_id=<part>."""
    import hashlib
    import os

    base = os.path.join(root, f"group_id={part}")
    out = {}
    for dirpath, _, files in os.walk(base):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, base)] = hashlib.md5(f.read()).hexdigest()
    return out


def test_overwrite_partitions_untouched_bytes(spark, tmp_path):
    """overwrite_partitions rewrites ONLY the named groups: other
    partitions' files stay byte-identical on disk, a group whose
    replacement frame is empty is deleted."""
    store = ParquetStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("a1", "ga", 1), ("a2", "ga", 2), ("b1", "gb", 3), ("c1", "gc", 4)],
        schema="uuid string, group_id string, v long",
    )
    store.overwrite("t", base)
    untouched_before = _partition_file_hashes(store.path("t"), "gb")
    assert untouched_before

    # replace ga with one row; gc becomes empty (deleted)
    repl = spark.createDataFrame(
        [("a9", "ga", 9)], schema="uuid string, group_id string, v long"
    )
    store.overwrite_partitions("t", repl, ["ga", "gc"])

    rows = {r["uuid"]: (r["group_id"], r["v"]) for r in store.read("t").collect()}
    assert rows == {"a9": ("ga", 9), "b1": ("gb", 3)}
    assert _partition_file_hashes(store.path("t"), "gb") == untouched_before


def test_delete_table(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    store.overwrite(
        "t", spark.createDataFrame([("u", "g", 1)], "uuid string, group_id string, v long")
    )
    assert store.exists("t")
    store.delete_table("t")
    assert not store.exists("t")
