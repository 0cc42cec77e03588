"""Scale-adaptive fuzzy dedup: the in-process driver path and the
distributed LSH band join must emit identical pairs (same kernels, same
bucket cap, same Jaccard threshold); a merged component keeps its
earliest-seen member as canonical, like the sequential oracle."""

from datetime import datetime, timedelta, timezone

from test_forced_distributed import _force_distributed

from graphiti_spark.extraction import det_id
from graphiti_spark.operators.node_dedup import (
    fuzzy_duplicate_pairs,
    name_keys,
    resolve_names,
)
from graphiti_spark.schemas import RAW_MENTIONS

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _mentions(spark, rows):
    """rows: (group_id, name, ep_valid_at, episode_uuid, mention_idx)."""
    return spark.createDataFrame(
        [(ep, g, t, n, "Entity", i) for g, n, t, ep, i in rows], schema=RAW_MENTIONS
    )


def _keys(spark):
    names = [
        "Acme Corporation",
        "Acme Corporation Inc",
        "Acme  corporation",
        "Bob Smith",
        "Bob Smith Jr",
        "Completely Different Name",
        "zq",  # low-entropy, gated out
        "International Business Machines",
        "International Business Machine",
    ]
    rows = [("g1", n, T0, "ep1", i) for i, n in enumerate(names)] + [
        ("g2", n, T0, "ep2", i) for i, n in enumerate(names[:3])
    ]
    return name_keys(_mentions(spark, rows))


def test_driver_path_matches_distributed(spark, monkeypatch, cache_registry):
    keys = _keys(spark)
    drv = {(r["a"], r["b"]) for r in fuzzy_duplicate_pairs(keys, cache_registry).collect()}
    assert cache_registry == []  # the driver path caches nothing
    _force_distributed(monkeypatch)
    dist = {(r["a"], r["b"]) for r in fuzzy_duplicate_pairs(keys, cache_registry).collect()}
    assert len(cache_registry) == 1  # the distributed path's feature frame
    assert drv == dist
    assert drv  # the name variants above must produce at least one pair


def test_pairs_stay_within_group(spark, cache_registry):
    keys = _keys(spark)
    pre = {r["pre_id"]: r["group_id"] for r in keys.collect()}
    for r in fuzzy_duplicate_pairs(keys, cache_registry).collect():
        assert pre[r["a"]] == pre[r["b"]]


def test_component_canonical_is_earliest_seen(spark, monkeypatch, cache_registry):
    """'Duff Holdings' and 'Duff-Holdings' fuzzy-merge. The oracle creates
    the node at the first sighting, so the component keeps that key's id
    even though the later spelling's pre_id sorts lower; ties on the
    sighting fall to the episode, then the mention index. Both the driver
    and the distributed path pick the same canonical."""
    early, late = "duff holdings", "duff-holdings"
    assert det_id("node", "g", late) < det_id("node", "g", early)
    cases = [
        # (first sighting of each spelling) -> the spelling that wins
        ({"Duff Holdings": (T0, "ep9", 5), "Duff-Holdings": (T0 + timedelta(days=1), "ep1", 0)},
         early),
        ({"Duff Holdings": (T0, "ep2", 0), "Duff-Holdings": (T0, "ep1", 7)}, late),
        ({"Duff Holdings": (T0, "ep1", 0), "Duff-Holdings": (T0, "ep1", 1)}, early),
    ]
    for forced in (False, True):
        if forced:
            _force_distributed(monkeypatch)
        for seen, winner in cases:
            rows = [("g", n, t, ep, i) for n, (t, ep, i) in seen.items()]
            # a later re-sighting does not move a spelling's first sighting
            rows.append(("g", "Duff-Holdings", T0 + timedelta(days=9), "ep0", 0))
            res = resolve_names(_mentions(spark, rows), cache_registry=cache_registry)
            got = {r["norm_exact"]: r["canonical_id"] for r in res.collect()}
            assert got == {early: det_id("node", "g", winner), late: det_id("node", "g", winner)}


def test_distributed_fuzzy_features_released_with_run(spark, monkeypatch):
    """The distributed fuzzy leg's persisted feature frame belongs to the
    run: after run_pipeline's release() no cached RDD is left behind."""
    from graphiti_spark.datagen import generate_web_pages
    from graphiti_spark.pipeline import run_pipeline
    from graphiti_spark.schemas import WEB_PAGES

    from graphiti_spark.operators import node_dedup

    # only the fuzzy leg: a distributed CC's localCheckpoint blocks are
    # released by the JVM's context cleaner, not by release()
    monkeypatch.setattr(node_dedup, "DRIVER_FUZZY_MAX_KEYS", 0)
    rows = generate_web_pages(n_pages=30, seed=42)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    )

    def cached() -> set:
        # ids, not a count: an earlier test's localCheckpoint blocks may be
        # cleaned up while this one runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = cached()
    result = run_pipeline(
        spark, pages, now=datetime(2026, 8, 16, tzinfo=timezone.utc),
        with_embeddings=False,
    )
    assert result["edges"].count() > 0
    assert cached() - before
    result["release"]()
    assert not cached() - before
