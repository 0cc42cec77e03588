"""Canonical StructTypes for every table the engine reads or writes.

Mirrors the reference's Pydantic data model (SURVEY.md §1.1):
EpisodicNode  -> EPISODES   (/root/reference/graphiti_core/nodes.py:353-363)
EntityNode    -> NODES      (nodes.py:496-501)
EntityEdge    -> EDGES      (edges.py:228-247)
EpisodicEdge  -> MENTIONS   (edges.py:138-151)
CommunityNode -> COMMUNITIES(nodes.py:664-666)
plus the BASELINE input_hint WEB_PAGES table.
"""

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEB_PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

EPISODES = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source", StringType(), False),           # message|json|text
        StructField("source_description", StringType(), True),
        StructField("content", StringType(), True),
        StructField("created_at", TimestampType(), False),
        StructField("valid_at", TimestampType(), False),
        StructField("entity_edges", ArrayType(StringType()), True),
    ]
)

NODES = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("labels", ArrayType(StringType()), True),
        StructField("created_at", TimestampType(), False),
        StructField("name_embedding", ArrayType(FloatType()), True),
        StructField("summary", StringType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)

EDGES = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source_node_uuid", StringType(), False),
        StructField("target_node_uuid", StringType(), False),
        StructField("name", StringType(), False),              # predicate
        StructField("fact", StringType(), True),
        StructField("fact_embedding", ArrayType(FloatType()), True),
        StructField("episodes", ArrayType(StringType()), True),
        StructField("created_at", TimestampType(), False),
        StructField("expired_at", TimestampType(), True),
        StructField("valid_at", TimestampType(), True),
        StructField("invalid_at", TimestampType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)

MENTIONS = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source_node_uuid", StringType(), False),  # episode
        StructField("target_node_uuid", StringType(), False),  # entity
        StructField("created_at", TimestampType(), False),
    ]
)

COMMUNITIES = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("summary", StringType(), True),
        StructField("created_at", TimestampType(), False),
    ]
)

COMMUNITY_MEMBERS = StructType(
    [
        StructField("edge_uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source_node_uuid", StringType(), False),  # community
        StructField("target_node_uuid", StringType(), False),  # member entity
    ]
)

# IS_DUPLICATE_OF provenance pairs (ref edge_operations.py:609-670):
# duplicate pre-canonical node -> canonical node, written per batch
DUPLICATE_PAIRS = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source_node_uuid", StringType(), False),  # duplicate
        StructField("target_node_uuid", StringType(), False),  # canonical
        StructField("name", StringType(), False),  # IS_DUPLICATE_OF
        StructField("duplicate_name", StringType(), False),
        StructField("canonical_name", StringType(), True),  # null: existing canonical
        StructField("canonical_key_name", StringType(), True),
        StructField("created_at", TimestampType(), True),
    ]
)

# every table a graph store materializes (GraphitiSpark.build_indices_and
# _constraints iterates this to issue CREATE TABLE DDL on catalog stores)
STORE_TABLES: dict[str, StructType] = {
    "episodes": EPISODES,
    "nodes": NODES,
    "edges": EDGES,
    "mentions": MENTIONS,
    "communities": COMMUNITIES,
    "community_members": COMMUNITY_MEMBERS,
    "duplicate_pairs": DUPLICATE_PAIRS,
}

# intermediate: one row per extracted mention (pre-resolution)
RAW_MENTIONS = StructType(
    [
        StructField("episode_uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("ep_valid_at", TimestampType(), False),
        StructField("name", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("mention_idx", LongType(), False),
    ]
)

# intermediate: fused single-pass extraction (kind = 'e' episode text |
# 'm' mention | 't' triple)
RAW_EXTRACTION = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("episode_uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("ep_valid_at", TimestampType(), False),
        StructField("content", StringType(), True),
        StructField("name", StringType(), True),
        StructField("entity_type", StringType(), True),
        StructField("mention_idx", LongType(), True),
        StructField("subject", StringType(), True),
        StructField("predicate", StringType(), True),
        StructField("object", StringType(), True),
        StructField("fact", StringType(), True),
        StructField("valid_at", TimestampType(), True),
        StructField("invalid_at", TimestampType(), True),
        StructField("triple_idx", LongType(), True),
    ]
)

# intermediate: per distinct (group_id, name) dedup features
NAME_FEATURES = StructType(
    [
        StructField("is_high_entropy", BooleanType(), False),
        StructField("shingles", ArrayType(StringType()), False),
        StructField("band_keys", ArrayType(LongType()), False),
    ]
)
