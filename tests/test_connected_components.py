"""CC operator vs the in-process union-find oracle (D13/D14)."""

import random

from test_forced_distributed import _force_distributed

from graphiti_spark.kernels import min_uuid_map
from graphiti_spark.operators.connected_components import connected_components


def _run(spark, monkeypatch, pairs):
    df = spark.createDataFrame(pairs, schema="a string, b string")
    want = min_uuid_map(pairs)
    # driver-side (small) path
    got = {r["id"]: r["canonical"] for r in connected_components(df).collect()}
    assert got == want
    # distributed min-label-propagation path (forced)
    _force_distributed(monkeypatch)
    got_dist = {r["id"]: r["canonical"] for r in connected_components(df).collect()}
    assert got_dist == want


def test_cc_chain(spark, monkeypatch):
    _run(spark, monkeypatch, [("b", "c"), ("c", "d")])


def test_cc_star_and_islands(spark, monkeypatch):
    _run(spark, monkeypatch, [("hub", "x1"), ("hub", "x2"), ("hub", "x3"), ("y1", "y2")])


def test_cc_long_chain(spark, monkeypatch):
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)]
    _run(spark, monkeypatch, pairs)


def test_cc_random(spark, monkeypatch):
    rng = random.Random(7)
    ids = [f"v{i:02d}" for i in range(40)]
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(35)]
    pairs = [(a, b) for a, b in pairs if a != b]
    _run(spark, monkeypatch, pairs)
