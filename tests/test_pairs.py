"""operators.pairs.banded_pairs — the one band self-join behind the fuzzy
name leg and the minhash / simhash doc dedup: bucket dedup, the hot-bucket
cap, cap=None and block isolation."""

from graphiti_spark.operators.pairs import banded_pairs


def _rows(spark, rows):
    return spark.createDataFrame(rows, "g string, id long, keys array<long>, p string")


def _pairs(df) -> set[tuple]:
    return {(r["a"], r["b"]) for r in df.collect()}


def test_pair_colliding_in_two_bands_is_emitted_once(spark):
    rows = _rows(spark, [("g", 1, [10, 20], "x"), ("g", 2, [10, 20], "y")])
    out = banded_pairs(rows, "id", "keys", "p", cap=8).collect()
    assert [(r["a"], r["b"], r["a_p"], r["b_p"]) for r in out] == [(1, 2, "x", "y")]


def test_over_cap_bucket_drops_its_pairs_but_not_other_bands(spark):
    # band 0: ids 1, 2, 3 share key 7 -> 3 members > cap 2 -> dropped;
    # band 1: only ids 1 and 2 share key 8 -> kept, so (1, 2) survives
    rows = _rows(
        spark,
        [("g", 1, [7, 8], "a"), ("g", 2, [7, 8], "b"), ("g", 3, [7, 9], "c")],
    )
    assert _pairs(banded_pairs(rows, "id", "keys", "p", cap=2)) == {(1, 2)}


def test_cap_none_keeps_a_large_bucket(spark):
    rows = _rows(spark, [("g", i, [7], str(i)) for i in range(5)])
    everyone = {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert _pairs(banded_pairs(rows, "id", "keys", "p", cap=None)) == everyone
    assert _pairs(banded_pairs(rows, "id", "keys", "p", cap=4)) == set()


def test_rows_in_different_blocks_never_pair(spark):
    rows = _rows(
        spark,
        [("g1", 1, [7], "a"), ("g2", 2, [7], "b"), ("g1", 3, [7], "c")],
    )
    got = _pairs(banded_pairs(rows, "id", "keys", "p", cap=8, block_cols=("g",)))
    assert got == {(1, 3)}
    assert _pairs(banded_pairs(rows, "id", "keys", "p", cap=8)) == {(1, 2), (1, 3), (2, 3)}
