"""Forced-distributed full-pipeline parity (round-4 verdict ask #5).

Every scale-adaptive operator has a driver-side fast path (probe fits on
the driver) and a distributed path (what actually runs at 100x). The
distributed branches are covered piecemeal by test_connected_components /
test_skew; THIS test runs the whole pipeline end-to-end with every
driver-path threshold forced to 0 and the invalidation hub block forced to
2 rows — distributed LSH band join (D4-D9), distributed min-label CC with
pointer jumping (D13/D14) for the name components and the near-dup edge
components (T4/T5), and arrival-rank hub blocks in every multi-edge
contradiction domain (T6) — and asserts the output triple set is
IDENTICAL to the default path's. `_force_distributed` is the one forcing
helper; the operator tests import it too.
The near-miss fuzzy band (shingle Jaccard just above and just below 0.9)
is checked on both paths against a Python replay of the kernels."""

import itertools
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from graphiti_spark import kernels as K
from graphiti_spark.datagen import closed_form_pages_fuzzy, generate_web_pages
from graphiti_spark.operators import connected_components as cc_mod
from graphiti_spark.operators import edge_ops, node_dedup
from graphiti_spark.pipeline import run_pipeline
from graphiti_spark.schemas import WEB_PAGES

SF = "/root/testdata/sf0.001"


def _edge_tuples(result) -> set:
    """Comparable full-edge identity: canonical endpoint names + predicate
    + fact + the T6/T7 temporal columns."""
    nodes = result["nodes"].select("uuid", "norm_name")
    rows = (
        result["edges"]
        .join(
            nodes.withColumnRenamed("uuid", "source_node_uuid").withColumnRenamed(
                "norm_name", "subj"
            ),
            on="source_node_uuid",
        )
        .join(
            nodes.withColumnRenamed("uuid", "target_node_uuid").withColumnRenamed(
                "norm_name", "obj"
            ),
            on="target_node_uuid",
        )
        .select(
            "group_id",
            "subj",
            F.col("name").alias("pred"),
            "obj",
            "norm_fact",
            F.unix_micros("valid_at").alias("valid_us"),
            F.unix_micros("invalid_at").alias("invalid_us"),
        )
        .collect()
    )
    out = {tuple(r) for r in rows}
    assert len(out) == len(rows)  # full tuples are unique
    return out


def _force_distributed(monkeypatch):
    monkeypatch.setattr(node_dedup, "DRIVER_FUZZY_MAX_KEYS", 0)
    monkeypatch.setattr(cc_mod, "DRIVER_CC_MAX_PAIRS", 0)
    monkeypatch.setattr(edge_ops, "HUB_BLOCK_ROWS", 2)


def test_forced_distributed_matches_default_fuzzy_closed(spark, monkeypatch):
    """Fuzzy closed-form corpus: exercises the distributed LSH band join
    with REAL merge pairs plus distributed CC, against the driver path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = closed_form_pages_fuzzy(
        spark.read.parquet(f"{SF}/orders.parquet")
    ).localCheckpoint()
    default = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)
    )
    _force_distributed(monkeypatch)
    forced = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)
    )
    assert len(default) > 500
    assert forced == default


def test_forced_distributed_matches_default_generated(spark, monkeypatch):
    """Generated web corpus WITH embeddings: exercises the hub-block
    invalidation split and distributed CC over the near-dup edge pairs
    (nonzero cosine merge pairs), against the driver path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = generate_web_pages(n_pages=400, seed=42)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    ).localCheckpoint()
    default = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=True)
    )
    _force_distributed(monkeypatch)
    forced = _edge_tuples(
        run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=True)
    )
    assert len(default) > 200
    assert forced == default


# One spelling pair per side of the 0.9 fuzzy threshold, both sharing an
# LSH band (so each is a real candidate the Jaccard gate must judge), plus
# a second group where the spellings cross and must not merge.
IN_BAND = ("Rosalind Featherstone Ventures", "Rosalind Featherstone Venturez")
BELOW = ("Ignatius Marlborough", "Ignatius Marlborougj")
NEAR_MISS_PAGES = [
    ("https://news.example/1",
     f"{IN_BAND[0]} is based in Lisbon. {BELOW[0]} works at {IN_BAND[0]}."),
    ("https://news.example/2",
     f"{IN_BAND[1]} is based in Lisbon. {BELOW[1]} works at {IN_BAND[1]}."),
    ("https://other.example/1", f"{BELOW[1]} met {IN_BAND[0]}."),
]


def _replay_classes(keys) -> set:
    """The fuzzy leg replayed in Python with graphiti_spark.kernels: within
    a group, two high-entropy names pair when they share a band key and
    their shingle Jaccard reaches the threshold; classes are the
    union-find components of those pairs."""
    names = defaultdict(list)
    for group, norm_exact in keys:
        names[group].append(norm_exact)
    pairs = []
    for group, members in names.items():
        feats = {}
        for n in members:
            nf = K.normalize_fuzzy(n)
            if K.has_high_entropy(nf):
                feats[n] = (K.shingles(nf), set(K.band_keys(nf)))
        for a, b in itertools.combinations(sorted(feats), 2):
            (sh_a, bk_a), (sh_b, bk_b) = feats[a], feats[b]
            if bk_a & bk_b and K.jaccard(sh_a, sh_b) >= K.JACCARD_THRESHOLD:
                pairs.append(((group, a), (group, b)))
    classes = defaultdict(set)
    for member, root in K.min_uuid_map(pairs).items():
        classes[root].add(member)
    return {frozenset(c) for c in classes.values()}


def _merged_classes(result) -> set:
    by_canonical = defaultdict(set)
    for r in result["name_resolution"].collect():
        by_canonical[r["canonical_id"]].add((r["group_id"], r["norm_exact"]))
    return {frozenset(c) for c in by_canonical.values() if len(c) > 1}


@pytest.mark.parametrize("forced", [False, True], ids=["driver", "distributed"])
def test_near_miss_fuzzy_band_matches_kernel_replay(spark, monkeypatch, forced):
    """run_pipeline merges exactly the replay's classes, on the driver
    path and with the LSH join and connected components distributed."""
    for (a, b), in_band in ((IN_BAND, True), (BELOW, False)):
        fa, fb = K.normalize_fuzzy(a), K.normalize_fuzzy(b)
        j = K.jaccard(K.shingles(fa), K.shingles(fb))
        assert (K.JACCARD_THRESHOLD <= j < 1) if in_band else (0.88 < j < K.JACCARD_THRESHOLD)
        assert set(K.band_keys(fa)) & set(K.band_keys(fb))

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = spark.createDataFrame(
        [(url, E._FIXED_NOW, None, text, "en") for url, text in NEAR_MISS_PAGES],
        schema=WEB_PAGES,
    )
    if forced:
        _force_distributed(monkeypatch)
    result = run_pipeline(spark, pages, now=E._FIXED_NOW, with_embeddings=False)
    keys = [(r["group_id"], r["norm_exact"]) for r in result["name_resolution"].collect()]
    got = _merged_classes(result)
    assert got == _replay_classes(keys)
    news = {("news.example", n.lower()) for n in IN_BAND}
    assert frozenset(news) in got
    below = ("news.example", BELOW[0].lower())
    assert not any(below in c for c in got)
    assert not any(k[0] == "other.example" for c in got for k in c)
    result["release"]()
