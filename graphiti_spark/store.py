"""S4-S6, S10-S11 — table store: idempotent upserts, episode retrieval,
cascade deletes.

The reference materializes nodes/edges with Cypher ``UNWIND ... MERGE (n
{uuid}) SET n = row`` per provider (/root/reference/graphiti_core/
models/nodes/node_db_queries.py:22-102, utils/bulk_utils.py:131-265) —
last-writer-wins upsert keyed on uuid, which every ingest path reaches
through add_nodes_and_edges_bulk. Here the store is a directory of
partitioned parquet tables behind a small interface. Every write stages
new files, then swaps them in: a whole table (`overwrite`) or some
group_id partitions (`overwrite_partitions`); `recover` repairs a crash
between the renames. `merge_upsert` is the Iceberg ``MERGE INTO``
expressed as a union + last-writer-wins window, which is exactly what
Iceberg's copy-on-write MERGE compiles to; `merge_tables` applies each
table's key and accumulating columns and is the one write-out every
ingest path calls. On a real cluster the same call sites switch to
`spark.sql("MERGE INTO ...")` — the semantics below are the contract.

Deletes are anti-joins (S10 `clear_data`/delete-by-uuid, nodes.py:101-344)
and `remove_episode`'s cascade (S11, graphiti.py:1085-1113): edges whose
provenance starts with the episode, then entities mentioned only by it.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphiti_spark.schemas import STORE_TABLES

EPISODE_WINDOW_LEN = 3  # ref graph_data_operations.py:31


class ParquetStore:
    """group_id-partitioned parquet tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, table: str) -> DataFrame:
        self.recover(table)
        try:
            return self.spark.read.parquet(self.path(table))
        except Exception:
            # a missing table, or a partitioned write of an EMPTY frame
            # (only _SUCCESS, which defeats schema inference — e.g.
            # duplicate_pairs when nothing deduped), has no data files and
            # reads as the canonical empty frame. A table WITH data files
            # that fails to read is corrupt, and merge_upsert must not
            # overwrite it with the new batch alone.
            if table in STORE_TABLES and not self._has_data_files(table):
                return self.spark.createDataFrame([], schema=STORE_TABLES[table])
            raise

    def _has_data_files(self, table: str) -> bool:
        return any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for _, _, files in os.walk(self.path(table))
            for f in files
        )

    def recover(self, table: str) -> None:
        """Crash recovery for the stage-then-swap commit of `overwrite`
        and `overwrite_partitions`.

        Table-level: a crash between the table renames leaves only the
        `__old` backup (final dir missing) — restore it.

        Partition-level: a crash inside the per-partition swap loop can leave
        `group_id=X__old` dirs under the table root. If the live partition
        dir is missing the swap died mid-rename — restore the backup; if the
        live dir exists the swap completed but the backup cleanup didn't —
        delete it (otherwise Spark partition discovery would read it as
        partition value 'X__old' and resurrect stale rows under a bogus
        group_id)."""
        final, bak = self.path(table), self.path(table) + "__old"
        if not os.path.isdir(final) and os.path.isdir(bak):
            os.rename(bak, final)
        if os.path.isdir(final):
            for entry in os.listdir(final):
                if not (entry.startswith("group_id=") and entry.endswith("__old")):
                    continue
                stale = os.path.join(final, entry)
                live = os.path.join(final, entry[: -len("__old")])
                if os.path.isdir(live):
                    shutil.rmtree(stale)
                else:
                    os.rename(stale, live)

    def _stage(self, table: str, df: DataFrame, partition_by: str | None) -> str:
        """Write `df` to the table's staging directory (clearing any stale
        one from a failed run) and return its path. `df` may lazily derive
        from the table itself: nothing live is touched until the swap."""
        tmp = self.path(table) + "__staging"
        shutil.rmtree(tmp, ignore_errors=True)
        w = df.write.mode("overwrite")
        if partition_by and partition_by in df.columns:
            w = w.partitionBy(partition_by)
        w.parquet(tmp)
        return tmp

    def overwrite(self, table: str, df: DataFrame, partition_by: str | None = "group_id"):
        """Full-table replace: stage, rename the live table aside to
        `__old`, rename staging in, drop the backup. A crash between the
        renames leaves `__old` for recover() instead of losing the table."""
        tmp = self._stage(table, df, partition_by)
        final = self.path(table)
        bak = final + "__old"
        shutil.rmtree(bak, ignore_errors=True)
        if os.path.isdir(final):
            os.rename(final, bak)
        try:
            os.rename(tmp, final)
        except OSError:
            if os.path.isdir(bak):
                os.rename(bak, final)  # roll back: staging rename failed
            raise
        shutil.rmtree(bak, ignore_errors=True)

    def overwrite_partitions(self, table: str, df: DataFrame, groups: list[str]) -> None:
        """Replace ONLY the given group_id partitions with `df`'s rows —
        the partition-restricted form of `overwrite` (O(touched groups)
        I/O, like Iceberg's dynamic partition overwrite). `df` must hold
        rows for those groups only; untouched partitions' files are never
        rewritten or moved. A group in `groups` for which `df` has no rows
        is deleted.

        Each partition swaps like `overwrite` swaps a table: the live dir
        is renamed aside to `group_id=X__old` first, so recover() handles
        a crash mid-swap. For a deleted group a crash before the cleanup
        resurrects the partition on recover — re-running the delete is
        idempotent.
        """
        self.recover(table)
        if not self.exists(table):
            self.overwrite(table, df)
            return
        tmp = self._stage(table, df, "group_id")
        final = self.path(table)
        staged = {e for e in os.listdir(tmp) if e.startswith("group_id=")}
        # groups that became empty produce no staging dir. Partition values
        # are matched by unescaping the Hive-style %xx path encoding
        # (identity for the url-host/word group ids this engine generates).
        wanted = set(groups)
        emptied = [
            e for e in os.listdir(final)
            if e.startswith("group_id=") and not e.endswith("__old") and e not in staged
            and urllib.parse.unquote(e[len("group_id="):]) in wanted
        ]
        for part in [*staged, *emptied]:
            dst = os.path.join(final, part)
            bak = dst + "__old"
            shutil.rmtree(bak, ignore_errors=True)
            if os.path.isdir(dst):
                os.rename(dst, bak)
            if part in staged:
                os.rename(os.path.join(tmp, part), dst)
            shutil.rmtree(bak, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def merge_upsert(
        self,
        table: str,
        updates: DataFrame,
        key: str = "uuid",
        array_merge_cols: tuple[str, ...] = (),
    ) -> None:
        """MERGE INTO semantics: rows in `updates` replace same-key rows in
        the target (whole-row SET, matching the reference's ``SET n = row``),
        unmatched rows insert. Last-writer-wins inside `updates` too.

        `array_merge_cols` accumulate instead of replace (distinct union of
        old + new) — see MERGE_KEYS / ACCUMULATE for each table's rule.

        PARTITION-RESTRICTED: when the table is group_id-partitioned, only
        the partitions present in `updates` are read, merged and swapped
        through `overwrite_partitions` — I/O is O(touched partitions) per
        micro-batch, not O(table), which is what Iceberg's partition-level
        copy-on-write MERGE INTO does (see IcebergStore for the
        catalog-native form). Keys are assumed not to move between groups
        (uuid embeds group_id by construction).
        """
        self.recover(table)
        if not self.exists(table):
            self.overwrite(table, updates.dropDuplicates([key]))
            return

        touched: list[str] | None = None
        if "group_id" in updates.columns and self._is_partitioned(table):
            groups = [
                r["group_id"] for r in updates.select("group_id").distinct().collect()
            ]
            # null and empty group_ids land in __HIVE_DEFAULT_PARTITION__,
            # which the touched-partition scan cannot address by value —
            # pre-existing rows there absent from the batch would be
            # silently dropped by the swap. Those batches take the
            # full-table merge, which reads and rewrites every partition.
            if all(g not in (None, "") for g in groups):
                touched = groups
        target = self.read(table)
        if touched is not None:
            # partition pruning: the scan below reads only these directories
            target = target.filter(F.col("group_id").isin(touched))
        if array_merge_cols:
            old = target.select(
                key, *[F.col(c).alias(f"_old_{c}") for c in array_merge_cols]
            )
            updates = updates.join(old, on=key, how="left")
            for c in array_merge_cols:
                updates = updates.withColumn(
                    c,
                    F.array_sort(
                        F.array_distinct(
                            F.concat(
                                F.coalesce(F.col(f"_old_{c}"), F.array().cast("array<string>")),
                                F.coalesce(F.col(c), F.array().cast("array<string>")),
                            )
                        )
                    ),
                ).drop(f"_old_{c}")
        # precedence column: updates (1) beat target (0); duplicate keys
        # INSIDE one updates batch resolve deterministically via a stable
        # payload hash (not partition order, which varies across runs)
        unioned = target.select(*target.columns).withColumn("_src", F.lit(0)).unionByName(
            updates.select(*target.columns).withColumn("_src", F.lit(1))
        )
        payload = F.xxhash64(
            F.concat_ws(
                "\x1e",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in sorted(target.columns)
                ],
            )
        )
        w = Window.partitionBy(key).orderBy(F.desc("_src"), payload.asc())
        merged = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_src", "_rn")
        )
        # every touched group has update rows, so the swap replaces exactly
        # those partitions and deletes none
        if touched is not None:
            self.overwrite_partitions(table, merged, touched)
        else:
            self.overwrite(table, merged)

    def _is_partitioned(self, table: str) -> bool:
        root = self.path(table)
        try:
            return any(e.startswith("group_id=") for e in os.listdir(root))
        except OSError:
            return False

    # ------------------------------------------------------------------
    # S10 — deletes
    # ------------------------------------------------------------------

    def delete_table(self, table: str) -> None:
        """Drop the table directory (plus any staging/backup remnants)."""
        for suffix in ("", "__staging", "__old"):
            shutil.rmtree(self.path(table) + suffix, ignore_errors=True)

    def delete_group(self, group_ids: list[str]) -> None:
        """clear_data(group_ids) across every store table. A partitioned
        table drops just those partitions (O(touched groups)); any other
        table is rewritten without the groups' rows.

        The "" and null groups are one group here: a partitioned table
        stores both in __HIVE_DEFAULT_PARTITION__ and reads them back as
        null, and the partition swap cannot address that directory by
        value. Deleting either takes the full-table rewrite, as
        merge_upsert does."""
        blank = any(g in (None, "") for g in group_ids)
        gone = F.col("group_id").isin([g for g in group_ids if g not in (None, "")])
        if blank:
            gone = gone | F.col("group_id").isNull() | (F.col("group_id") == "")
        for table in STORE_TABLES:
            if not self.exists(table):
                continue
            df = self.read(table)
            partitioned = self._is_partitioned(table)
            if partitioned and not blank:
                self.overwrite_partitions(table, df.limit(0), group_ids)
            else:
                self.overwrite(
                    table,
                    df.filter(~F.coalesce(gone, F.lit(False))),
                    partition_by="group_id" if partitioned else None,
                )


# ---------------------------------------------------------------------------
# S6 — the one write-out every ingest path uses
# ---------------------------------------------------------------------------

# Per-table merge rule: the merge key (default "uuid") and the array columns
# that accumulate across batches instead of being replaced — node aliases
# and edge episode provenance, so incremental batches never lose history.
MERGE_KEYS = {"community_members": "edge_uuid"}
ACCUMULATE = {"nodes": ("aliases",), "edges": ("episodes",)}


def batch_tables(result: dict) -> dict[str, DataFrame]:
    """The five tables an ingested batch writes, from a run_pipeline
    result, in write order (episodes come out of the pipeline already in
    the store's episode shape)."""
    return {
        "episodes": result["episodes_with_edges"],
        **{t: result[t] for t in ("nodes", "edges", "mentions", "duplicate_pairs")},
    }


def merge_tables(store, frames: dict[str, DataFrame]) -> None:
    """MERGE-upsert each frame into its table under that table's rule —
    the reference's add_nodes_and_edges_bulk (bulk_utils.py:131-265),
    which every ingest path (add_episode[_bulk], add_triplet, the stream,
    spark-submit) calls."""
    for table, df in frames.items():
        store.merge_upsert(
            table, df,
            key=MERGE_KEYS.get(table, "uuid"),
            array_merge_cols=ACCUMULATE.get(table, ()),
        )


class IcebergStore:
    """Catalog-native store: the same interface as ParquetStore with
    merge_upsert compiled to one Iceberg ``MERGE INTO`` statement — the
    preferred materialization on a real cluster (BASELINE north_star:
    partitioned Iceberg tables). Partition spec and write order are plain
    DDL (S9), and Iceberg's copy-on-write MERGE rewrites only matched data
    files, which the ParquetStore's partition-restricted swap emulates.

    The iceberg-spark-runtime jar is absent in this sandbox, so
    `available()` gates construction; every call site falls back to
    ParquetStore. The SQL generation is pure and unit-tested regardless.
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "graphiti"):
        if not self.available(spark, catalog):
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} is not configured on this session"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    @staticmethod
    def available(spark: SparkSession, catalog: str) -> bool:
        try:
            spark.sql(f"SHOW NAMESPACES IN {catalog}")
            return True
        except Exception:
            return False

    def qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # Default write order per table: the reference's range indexes
    # (graph_queries.py:28-127 — uuid/group_id/name/created_at per label)
    # map to Iceberg as partition-by group_id (done in ensure_table) plus a
    # WRITE ORDERED BY sort order, which gives the same point-lookup and
    # range-scan locality through parquet min/max file skipping.
    DEFAULT_WRITE_ORDER: tuple[str, ...] = ("uuid",)

    @staticmethod
    def sort_order_sql(qualified: str, order_by: tuple[str, ...]) -> str:
        """S9 sort-order DDL (ref graph_queries.py:28-127): files sorted by
        the lookup keys so MERGE INTO's matched scan prunes by file stats."""
        return f"ALTER TABLE {qualified} WRITE ORDERED BY ({', '.join(order_by)})"

    def ensure_table(
        self,
        table: str,
        like: DataFrame,
        partition_by: str = "group_id",
        write_ordered_by: tuple[str, ...] | None = DEFAULT_WRITE_ORDER,
    ) -> None:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in like.schema.fields)
        part = (
            f" PARTITIONED BY ({partition_by})" if partition_by in like.columns else ""
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.qualified(table)} ({ddl}) USING iceberg{part}"
        )
        if write_ordered_by:
            cols = tuple(c for c in write_ordered_by if c in like.columns)
            if cols:
                self.spark.sql(self.sort_order_sql(self.qualified(table), cols))

    @staticmethod
    def merge_sql(
        qualified: str,
        columns: list[str],
        key: str = "uuid",
        array_merge_cols: tuple[str, ...] = (),
        updates_view: str = "__graphiti_updates",
    ) -> str:
        """The MERGE INTO statement implementing exactly ParquetStore
        .merge_upsert's contract: whole-row SET on match (array_merge_cols
        accumulate as a sorted distinct union), INSERT otherwise."""
        sets = []
        for c in columns:
            if c == key:
                continue
            if c in array_merge_cols:
                sets.append(
                    f"t.{c} = array_sort(array_distinct(concat("
                    f"coalesce(t.{c}, array()), coalesce(u.{c}, array()))))"
                )
            else:
                sets.append(f"t.{c} = u.{c}")
        return (
            f"MERGE INTO {qualified} AS t USING {updates_view} AS u "
            f"ON t.{key} = u.{key} "
            f"WHEN MATCHED THEN UPDATE SET {', '.join(sets)} "
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    def merge_upsert(
        self,
        table: str,
        updates: DataFrame,
        key: str = "uuid",
        array_merge_cols: tuple[str, ...] = (),
    ) -> None:
        self.ensure_table(table, updates)
        updates.dropDuplicates([key]).createOrReplaceTempView("__graphiti_updates")
        self.spark.sql(
            self.merge_sql(self.qualified(table), updates.columns, key, array_merge_cols)
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self.qualified(table))

    def delete_table(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.qualified(table)}")


# ---------------------------------------------------------------------------
# S4/S5 — episode retrieval
# ---------------------------------------------------------------------------


def retrieve_episodes(
    episodes: DataFrame,
    reference_time,
    last_n: int = EPISODE_WINDOW_LEN,
    group_ids: list[str] | None = None,
    source: str | None = None,
) -> DataFrame:
    """S4 (ref graph_data_operations.py:122-181): the last `last_n` episodes
    with valid_at <= reference_time, chronological order."""
    df = episodes.filter(F.col("valid_at") <= F.lit(reference_time))
    if group_ids:
        df = df.filter(F.col("group_id").isin(group_ids))
    if source is not None:
        df = df.filter(F.col("source") == source)
    w = Window.partitionBy("group_id").orderBy(F.desc("valid_at"), F.desc("uuid"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= last_n)
        .drop("_rn")
        .orderBy("group_id", "valid_at")
    )


def previous_episodes_bulk(episodes: DataFrame, last_n: int = EPISODE_WINDOW_LEN) -> DataFrame:
    """S5 (ref bulk_utils.py:113-128): for every episode, the uuids of the
    `last_n` strictly-earlier episodes in its group — an as-of self-join
    expressed as one window pass: collect the trailing window of uuids.

    Output: uuid, group_id, valid_at, prev_uuids ARRAY<STRING> (most recent
    first), matching the reference's retrieve_episodes-per-episode fan-out
    without N queries.
    """
    w = (
        Window.partitionBy("group_id")
        .orderBy(F.asc("valid_at"), F.asc("uuid"))
        .rowsBetween(-last_n, -1)
    )
    return episodes.select(
        "uuid",
        "group_id",
        "valid_at",
        F.reverse(F.collect_list("uuid").over(w)).alias("prev_uuids"),
    )


# ---------------------------------------------------------------------------
# S11 — remove_episode cascade
# ---------------------------------------------------------------------------


def remove_episode(
    episodes: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    episode_uuid: str,
) -> dict[str, DataFrame]:
    """ref graphiti.py:1085-1113: delete the episode; delete edges whose
    FIRST provenance episode is it (edges it created); delete entities
    mentioned by no other episode; drop its mention rows."""
    edges_out = edges.filter(
        ~(F.col("episodes").isNotNull() & (F.element_at(F.col("episodes"), 1) == episode_uuid))
    )
    mention_counts = (
        mentions.groupBy("target_node_uuid")
        .agg(
            F.count("*").alias("n_total"),
            F.sum((F.col("source_node_uuid") == episode_uuid).cast("int")).alias("n_mine"),
        )
    )
    orphan_nodes = mention_counts.filter(
        (F.col("n_total") == F.col("n_mine")) & (F.col("n_mine") > 0)
    ).select(F.col("target_node_uuid").alias("uuid"))
    nodes_out = nodes.join(orphan_nodes, on="uuid", how="left_anti")
    return {
        "episodes": episodes.filter(F.col("uuid") != episode_uuid),
        "nodes": nodes_out,
        "edges": edges_out,
        "mentions": mentions.filter(F.col("source_node_uuid") != episode_uuid),
    }
