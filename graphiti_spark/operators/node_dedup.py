"""D1-D14 — global entity resolution / canonicalization.

The reference resolves extracted nodes per episode against an in-memory
candidate index (exact normalized name -> else MinHash-LSH -> best Jaccard
>= 0.9; /root/reference/graphiti_core/utils/maintenance/
dedup_helpers.py:198-246) and collapses the resulting alias pairs with a
union-find (utils/bulk_utils.py:301-413). Episode-at-a-time indexing doesn't
distribute; the set-oriented equivalent is:

1. exact dedup is FREE: the pre-canonical node id is a content hash of
   (group_id, exact-normalized name), so equal names collide by construction
   — no join, no shuffle (D1, D8's exact index).
2. fuzzy dedup pairs only DISTINCT high-entropy names per group: shingles +
   minhash + LSH band keys via one vectorized pandas UDF, then
   operators/pairs.banded_pairs — posexplode of the 8 band keys, the
   LSH_BUCKET_CAP hot-bucket drop and the self-join on (group_id,
   band_pos, band_key), the LSH shuffle (D4-D6) — then native
   array_intersect/array_union Jaccard >= 0.9 (D7, D9).
3. connected components (D13/D14); each component keeps its earliest-seen
   member as canonical, the reference's arrival order.

Scale notes: the fuzzy stage's input is |distinct names per group|, orders
of magnitude below |mentions|. Band-key hot buckets (e.g. thousands of
near-identical product names) are bounded by LSH_BUCKET_CAP: buckets larger
than the cap are dropped, mirroring how LSH blocking is deliberately
approximate; AQE skew-join splitting covers moderate skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.functions.udfs import (
    name_features_udf,
    normalize_exact_col,
    normalize_fuzzy_col,
)
from graphiti_spark.kernels import JACCARD_THRESHOLD
from graphiti_spark.operators.connected_components import connected_components
from graphiti_spark.operators.pairs import banded_pairs

LSH_BUCKET_CAP = 64  # max names sharing one (group, band) bucket before we skip it


def det_id_col(*cols):
    """JVM-side twin of extraction.det_id: sha1 of \\x1f-joined parts."""
    return F.sha1(F.concat_ws("\x1f", *cols))


def name_keys(raw_mentions: DataFrame) -> DataFrame:
    """Distinct (group_id, norm_exact) keys with their pre-canonical ids, a
    deterministic display name (min surface form) and `first_seen`, the
    key's earliest sighting (ep_valid_at, episode_uuid, mention_idx) — the
    arrival order in which the reference creates nodes."""
    return (
        raw_mentions.select(
            "group_id",
            "name",
            "entity_type",
            normalize_exact_col(F.col("name")).alias("norm_exact"),
            F.struct("ep_valid_at", "episode_uuid", "mention_idx").alias("seen"),
        )
        .groupBy("group_id", "norm_exact")
        .agg(
            F.min("name").alias("name"),
            F.sort_array(F.collect_set("entity_type")).alias("entity_types"),
            F.min("seen").alias("first_seen"),
        )
        .withColumn("pre_id", det_id_col(F.lit("node"), F.col("group_id"), F.col("norm_exact")))
    )


# Above this many distinct name keys the LSH band join runs distributed;
# below it the identical kernels run in-process on the driver (the probe
# already holds the data). Mirrors connected_components' scale-adaptive
# driver/distributed switch. Sized so the driver path stays sub-second:
# measured ~30s of serial Python at 100k keys (an Amdahl hole that cut
# N-vs-4N scaling efficiency in half), vs ~0.2s at 20k. The driver path
# pays at perfbench sizes (4 cores, seed 501, traced): forcing the
# distributed path (this and DRIVER_CC_MAX_PAIRS at 0) takes stage
# name_resolution from 29 to 93 jobs and 6.4 to 14.0 s over ingest_search's
# 2 calls, and from 22 to 86 jobs and 12.7 to 15.3 s over bulk_build's 3.
DRIVER_FUZZY_MAX_KEYS = 20_000


def _driver_fuzzy_pairs(rows) -> list[tuple[str, str]]:
    """In-process twin of the LSH band join below: same entropy gate,
    shingles, band keys, bucket cap and Jaccard >= 0.9 (kernels shared with
    the sequential oracle), so both paths emit identical pairs."""
    from collections import defaultdict

    from graphiti_spark import kernels as K

    shingle_of: dict[str, frozenset] = {}
    buckets: dict[tuple, list[str]] = defaultdict(list)
    for r in rows:
        nf = K.normalize_fuzzy(r["name"])
        if not K.has_high_entropy(nf):
            continue
        shingle_of[r["pre_id"]] = K.cached_shingles(nf)
        for pos, bk in enumerate(K.band_keys(nf)):
            buckets[(r["group_id"], pos, bk)].append(r["pre_id"])

    seen: set[tuple[str, str]] = set()
    out: list[tuple[str, str]] = []
    for ids in buckets.values():
        if len(ids) > LSH_BUCKET_CAP:
            continue  # hub-name skew guard, same cap as the band join
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
                if a == b or (a, b) in seen:
                    continue
                seen.add((a, b))
                if K.jaccard(shingle_of[a], shingle_of[b]) >= K.JACCARD_THRESHOLD:
                    out.append((a, b))
    return sorted(out)


def fuzzy_duplicate_pairs(keys: DataFrame, cache_registry: list) -> DataFrame:
    """LSH band join + Jaccard >= 0.9 over high-entropy distinct names.
    Returns pairs(a, b) of pre_ids (a < b), within the same group only.

    Scale-adaptive: one probe job fetches at most DRIVER_FUZZY_MAX_KEYS + 1
    keys; when they all fit, the pairs come from the in-process kernel twin
    (zero further jobs); above it the distributed LSH band join below runs.
    `cache_registry`: the caller's list of frames to unpersist once the
    output is materialized — the distributed path's persisted feature frame
    is appended to it."""
    # module constant read at CALL time, so tests can force the distributed
    # branch by monkeypatching DRIVER_FUZZY_MAX_KEYS to 0
    if DRIVER_FUZZY_MAX_KEYS > 0:
        sample = (
            keys.select("group_id", "pre_id", "name")
            .limit(DRIVER_FUZZY_MAX_KEYS + 1)
            .collect()
        )
        if len(sample) <= DRIVER_FUZZY_MAX_KEYS:
            return keys.sparkSession.createDataFrame(
                _driver_fuzzy_pairs(sample), schema="a string, b string"
            )

    feat = (
        keys.withColumn("norm_fuzzy", normalize_fuzzy_col(F.col("name")))
        .withColumn("f", name_features_udf(F.col("norm_fuzzy")))
        .filter(F.col("f.is_high_entropy"))
        .select(
            "group_id",
            "pre_id",
            F.col("f.shingles").alias("shingles"),
            F.col("f.band_keys").alias("band_keys"),
        )
    ).persist()  # read by the bucket sizes AND both pair-join sides
    cache_registry.append(feat)
    feat.count()  # eager: all three consumers appear in downstream actions
    pairs = banded_pairs(
        feat, "pre_id", "band_keys", "shingles", LSH_BUCKET_CAP, block_cols=("group_id",)
    )
    inter = F.size(F.array_intersect("a_shingles", "b_shingles"))
    union = F.size(F.array_union("a_shingles", "b_shingles"))
    jacc = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return pairs.withColumn("jaccard", jacc).filter(
        F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)
    ).select("a", "b")


def _earliest_canonical(pool: DataFrame, canon: DataFrame) -> DataFrame:
    """The pool's rows plus `canonical_id`, given the connected components
    (id, canonical) of their fuzzy pairs. A key in no component is its own
    canonical. A component's members all take the member the reference's
    arrival order picks: an existing node first (its pool row has no
    `first_seen`), then the earliest-seen key, then the min id. The
    reference creates a node at a name's first sighting and resolves every
    later variant into it (dedup_helpers.py:198-246).

    Only the members cross an exchange: they and the unpaired keys each
    join the small component map, so the pool is never shuffled."""
    rank = F.struct(F.col("first_seen").isNotNull(), "first_seen", "pre_id")
    first = F.min(rank).over(Window.partitionBy("canonical"))["pre_id"]
    in_comp = pool.pre_id == canon.id
    members = pool.join(canon, in_comp).select(*pool.columns, first.alias("canonical_id"))
    singles = pool.join(canon, in_comp, "left_anti").withColumn("canonical_id", F.col("pre_id"))
    return members.unionByName(singles)


def resolve_names(
    raw_mentions: DataFrame,
    existing_nodes: DataFrame | None = None,
    *,
    cache_registry: list,
) -> DataFrame:
    """Global canonicalization map: one row per distinct (group_id, name key).

    `cache_registry`: list the internal key and feature caches are appended
    to; the caller unpersists them after the resolution output is
    materialized (run_pipeline's `release`).

    Returns name_resolution(group_id, norm_exact, name, entity_types,
    canonical_id) — the D15 pointer-rewrite map. A fuzzy component's
    canonical is its earliest-seen member (`_earliest_canonical`).

    With `existing_nodes` (the current canonical nodes snapshot: uuid,
    group_id, name, aliases) this is the reference's D11 — new mentions
    resolve AGAINST the existing graph: exact alias hits adopt the existing
    uuid outright; fuzzy pairs may link a new name into an existing
    component, and the existing uuid always wins as canonical (the directed
    alias->canonical rule of bulk_utils.py:72-101 — an established node is
    never re-pointed at a new one).
    """
    keys = name_keys(raw_mentions)

    if existing_nodes is None:
        # keys feed the fuzzy probe and both canonical-pick joins: the cache
        # dedupes the distinct-names aggregation (the expensive scan over
        # all mentions)
        keys = keys.persist()
        cache_registry.append(keys)
        pool = keys
    else:
        ex_keys = (
            existing_nodes.select(
                "group_id",
                F.col("uuid").alias("ex_uuid"),
                "name",
                F.explode("aliases").alias("norm_exact"),
            )
        )
        # exact alias hit: adopt the existing canonical uuid directly.
        # One ex_uuid per key: if two existing nodes ever share an alias
        # (possible after an existing-existing fuzzy merge upstream), the
        # min uuid wins — without this the join fans out and duplicates
        # every downstream mention of the shared alias.
        ex_exact = ex_keys.groupBy("group_id", "norm_exact").agg(
            F.min("ex_uuid").alias("ex_uuid")
        )
        keys = keys.join(ex_exact, on=["group_id", "norm_exact"], how="left")
        # names not exactly known enter the fuzzy pool together with the
        # existing nodes' primary keys so LSH can link new->existing; an
        # existing node has no first_seen, which ranks it first as canonical
        ex_pool = (
            ex_keys.groupBy("group_id", "ex_uuid")
            .agg(F.min("name").alias("name"), F.min("norm_exact").alias("norm_exact"))
            .select(
                "group_id",
                "norm_exact",
                "name",
                F.array().cast("array<string>").alias("entity_types"),
                F.col("ex_uuid").alias("pre_id"),
                F.lit(None).cast(keys.schema["first_seen"].dataType).alias("first_seen"),
            )
        )
        pool = keys.filter(F.col("ex_uuid").isNull()).select(*ex_pool.columns).unionByName(ex_pool)

    pairs = fuzzy_duplicate_pairs(pool, cache_registry)
    resolved = _earliest_canonical(pool, connected_components(pairs))
    if existing_nodes is not None:
        # the existing nodes' own pool rows leave; exact alias hits keep the
        # existing uuid
        hits = keys.filter(F.col("ex_uuid").isNotNull()).select(
            *ex_pool.columns, F.col("ex_uuid").alias("canonical_id")
        )
        resolved = resolved.filter(F.col("first_seen").isNotNull()).unionByName(hits)
    return resolved.select("group_id", "norm_exact", "name", "entity_types", "canonical_id")


def duplicate_pair_edges(resolution: DataFrame, now=None) -> DataFrame:
    """IS_DUPLICATE_OF provenance pairs (ref edge_operations.py:609-670,
    the duplicate-pair writes of node_db_queries): one row per resolution
    key whose pre-canonical id lost to a different canonical —
    (duplicate pre_id) -[IS_DUPLICATE_OF]-> (canonical uuid) — so a
    reference user can query which raw names folded into which entity
    instead of reading the canonical node's `aliases` array.

    Filter-existing semantics on incremental runs come for free: with
    `existing_nodes`, `resolution` covers only the NEW batch's keys, so
    pairs are new->new or new->existing, never existing->existing (the
    reference also only writes pairs for the episode's extracted nodes).

    `canonical_name` mirrors build_canonical_nodes' norm_name (min
    norm_exact over the component's resolution rows). For a new->existing
    pair it is null, like `canonical_key_name`: the batch holds only some
    of the established node's aliases, so their min is not its norm_name,
    which lives on the nodes table.

    100 TB posture: input is the distinct-keys resolution table (orders of
    magnitude below |mentions|); one groupBy + equi-join on canonical_id,
    no collect, no new shuffles beyond the small aggregation."""
    keyed = resolution.withColumn(
        "pre_id", det_id_col(F.lit("node"), F.col("group_id"), F.col("norm_exact"))
    )
    canon_names = keyed.groupBy("canonical_id").agg(
        F.min("norm_exact").alias("canonical_name")
    )
    # the canonical row's OWN key name (null when the canonical is an
    # existing node from a prior batch — its name lives on the nodes table)
    canon_keys = keyed.select(
        F.col("pre_id").alias("canonical_id"),
        F.col("norm_exact").alias("canonical_key_name"),
    )
    out = (
        keyed.filter(F.col("pre_id") != F.col("canonical_id"))
        .join(canon_names, on="canonical_id")
        .join(canon_keys, on="canonical_id", how="left")
        .select(
            det_id_col(
                F.lit("dupedge"),
                F.col("group_id"),
                F.col("pre_id"),
                F.col("canonical_id"),
            ).alias("uuid"),
            "group_id",
            F.col("pre_id").alias("source_node_uuid"),
            F.col("canonical_id").alias("target_node_uuid"),
            F.lit("IS_DUPLICATE_OF").alias("name"),
            F.col("norm_exact").alias("duplicate_name"),
            F.when(F.col("canonical_key_name").isNotNull(), F.col("canonical_name"))
            .alias("canonical_name"),
            "canonical_key_name",
        )
    )
    if now is not None:
        out = out.withColumn("created_at", F.lit(now).cast("timestamp"))
    else:
        out = out.withColumn("created_at", F.lit(None).cast("timestamp"))
    return out


def build_canonical_nodes(resolution: DataFrame, raw_mentions: DataFrame) -> DataFrame:
    """canonical_nodes(uuid, name, group_id, labels, created_at, norm_name,
    aliases, summary, attributes) — one row per canonical entity; norm_name
    is the min normalized alias (component-stable identity for P/R scoring);
    created_at = first mention time (deterministic replacement of utc_now)."""
    first_seen = (
        raw_mentions.select(
            "group_id",
            normalize_exact_col(F.col("name")).alias("norm_exact"),
            "ep_valid_at",
        )
        .groupBy("group_id", "norm_exact")
        .agg(F.min("ep_valid_at").alias("first_seen_at"))
    )

    return (
        resolution.join(first_seen, on=["group_id", "norm_exact"])
        .groupBy(F.col("canonical_id").alias("uuid"), "group_id")
        .agg(
            F.min(F.struct("norm_exact", "name")).alias("best"),
            F.min("norm_exact").alias("norm_name"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("entity_types")))).alias(
                "types"
            ),
            F.min("first_seen_at").alias("created_at"),
            F.sort_array(F.collect_set("norm_exact")).alias("aliases"),
        )
        .select(
            "uuid",
            F.col("best.name").alias("name"),
            "group_id",
            F.concat(F.array(F.lit("Entity")), F.col("types")).alias("labels"),
            "created_at",
            "norm_name",
            "aliases",
            F.lit(None).cast("string").alias("summary"),
            F.create_map().cast("map<string,string>").alias("attributes"),
        )
    )
