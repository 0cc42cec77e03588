"""D11 — resolution against the existing graph snapshot (incremental
ingest): exact alias hits adopt existing uuids; fuzzy variants link into
existing components; established canonicals never re-point."""

from pyspark.sql import functions as F

from graphiti_spark.operators.node_dedup import resolve_names


def _mentions(spark, rows):
    return spark.createDataFrame(
        [(u, g, None, n, t, i) for i, (u, g, n, t) in enumerate(rows)],
        schema="episode_uuid string, group_id string, ep_valid_at timestamp, "
        "name string, entity_type string, mention_idx long",
    )


def _existing(spark, rows):
    return spark.createDataFrame(
        rows, schema="uuid string, group_id string, name string, aliases array<string>"
    )


def test_exact_alias_adopts_existing_uuid(spark, cache_registry):
    new = _mentions(spark, [("e1", "g", "Acme Corp", "Organization")])
    existing = _existing(spark, [("EX1", "g", "Acme Corp", ["acme corp", "acme-corp"])])
    res = resolve_names(new, existing, cache_registry=cache_registry).collect()
    assert len(res) == 1
    assert res[0]["canonical_id"] == "EX1"


def test_alias_variant_adopts_existing_uuid(spark, cache_registry):
    # batch mentions only the punctuation variant, known as an alias
    new = _mentions(spark, [("e1", "g", "Acme-Corp", "Organization")])
    existing = _existing(spark, [("EX1", "g", "Acme Corp", ["acme corp", "acme-corp"])])
    res = resolve_names(new, existing, cache_registry=cache_registry).collect()
    assert res[0]["canonical_id"] == "EX1"


def test_fuzzy_links_to_existing(spark, cache_registry):
    # new surface form, not a recorded alias, but fuzzy-identical
    # (punctuation only) -> must land on the existing node via LSH
    new = _mentions(spark, [("e1", "g", "Umbrella&Labs Research", "Organization")])
    existing = _existing(
        spark, [("EX9", "g", "Umbrella Labs Research", ["umbrella labs research"])]
    )
    res = resolve_names(new, existing, cache_registry=cache_registry).collect()
    assert res[0]["canonical_id"] == "EX9"


def test_unrelated_name_gets_new_id(spark, cache_registry):
    new = _mentions(spark, [("e1", "g", "Totally Different Org", "Organization")])
    existing = _existing(spark, [("EX1", "g", "Acme Corp", ["acme corp"])])
    res = resolve_names(new, existing, cache_registry=cache_registry).collect()
    assert res[0]["canonical_id"] != "EX1"


def test_within_batch_merge_still_works_incrementally(spark, cache_registry):
    new = _mentions(
        spark,
        [("e1", "g", "Wayne Holdings", "Organization"), ("e2", "g", "Wayne-Holdings", "Organization")],
    )
    existing = _existing(spark, [("EX1", "g", "Acme Corp", ["acme corp"])])
    res = resolve_names(new, existing, cache_registry=cache_registry).collect()
    canon = {r["canonical_id"] for r in res}
    assert len(canon) == 1  # both variants collapse
    assert "EX1" not in canon
