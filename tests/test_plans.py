"""Physical-plan quality gates: predicate pushdown, column pruning and
broadcast-join selection must survive refactors (the 100 TB posture)."""

import re
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from test_forced_distributed import _force_distributed

from graphiti_spark.datagen import generate_web_pages
from graphiti_spark.pipeline import pages_to_episodes, run_pipeline
from graphiti_spark.schemas import WEB_PAGES

NOW = datetime(2026, 8, 16, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    rows = generate_web_pages(n_pages=60, seed=42)
    spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    ).write.mode("overwrite").parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _operators(df) -> list[str]:
    """Node names of df's executed plan, through AQE wrappers and query
    stages but not into cached stage outputs (an InMemoryTableScan is a
    leaf: its cached plan already ran)."""

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        kids = node.children()
        return [name] + [n for i in range(kids.size()) for n in walk(kids.apply(i))]

    return walk(df._jdf.queryExecution().executedPlan())


def _python_operators(df) -> list[str]:
    return [n for n in _operators(df) if "Python" in n or "Pandas" in n or "InArrow" in n]


def test_lang_filter_pushed_to_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    eps = pages_to_episodes(pages, lang="en")
    plan = _plan(eps)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200], (
        "lang filter must reach the parquet scan"
    )


def test_one_python_crossing_per_page(spark, pages_path):
    """html->text runs inside the fused extraction map: the extraction
    stage's plan holds exactly one Python operator, and the stored episode
    rows take their content from that stage's output, so writing them runs
    no Python."""
    from graphiti_spark.functions.udfs import extract_all_df

    pages = spark.read.parquet(pages_path)
    extraction = extract_all_df(pages_to_episodes(pages))
    extraction.count()
    assert _python_operators(extraction) == ["MapInPandas"]
    assert "ArrowEvalPython" not in _plan(extraction)
    res = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    episodes = res["episodes_with_edges"]
    assert episodes.count() == pages.filter(F.col("lang") == "en").count()
    assert _python_operators(episodes) == []
    res["release"]()


def test_column_pruning_drops_html_when_text_only(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    # a projection that only needs url/text must not read html bytes
    df = pages.select("url", F.length("text").alias("n"))
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, f"html must be pruned: {read_schema}"


def _fuzzy_band_pairs(pages, cache_registry):
    from graphiti_spark.functions.udfs import extract_all_df, split_extraction
    from graphiti_spark.operators.node_dedup import fuzzy_duplicate_pairs, name_keys

    keys = name_keys(split_extraction(extract_all_df(pages_to_episodes(pages)))[0])
    return fuzzy_duplicate_pairs(keys, cache_registry)


def _minhash_band_pairs(pages, cache_registry):
    from graphiti_spark.dataops import minhash_neardup_pairs

    return minhash_neardup_pairs(pages.select(F.col("url").alias("doc_id"), "text"))


def _simhash_band_pairs(pages, cache_registry):
    from graphiti_spark.dataops import simhash_neardup_pairs

    return simhash_neardup_pairs(pages.select(F.col("url").alias("doc_id"), "text"))


@pytest.mark.parametrize(
    "band_pairs",
    [_fuzzy_band_pairs, _minhash_band_pairs, _simhash_band_pairs],
    ids=["fuzzy", "minhash", "simhash"],
)
def test_distributed_fuzzy_band_join_no_cartesian(
    spark, pages_path, band_pairs, monkeypatch, cache_registry
):
    """Every banded caller (the distributed fuzzy name leg, minhash and
    simhash doc dedup — what runs at 100x) must pair rows through the
    (block, band_pos, band_key) equi-join of operators.pairs.banded_pairs —
    a plan regression to a cartesian/nested-loop would be quadratic."""
    _force_distributed(monkeypatch)
    plan = _plan(band_pairs(spark.read.parquet(pages_path), cache_registry))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_duplicate_pair_edges_no_cartesian(spark, pages_path):
    """The IS_DUPLICATE_OF derivation joins the resolution table to its own
    small aggregations on canonical_id — equi-joins only."""
    from graphiti_spark.operators.node_dedup import duplicate_pair_edges

    pages = spark.read.parquet(pages_path)
    res = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    plan = _plan(duplicate_pair_edges(res["name_resolution"], now=NOW))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pointer_rewrite_uses_broadcast(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    res = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    # the canonical-map joins (D15) must broadcast the small map side
    from graphiti_spark.operators.edge_ops import rewrite_pointers
    from graphiti_spark.functions.udfs import split_extraction

    rr = rewrite_pointers(res["raw_triples"], res["name_resolution"])
    plan = _plan(rr)
    assert "BroadcastHashJoin" in plan, "D15 map join must broadcast"
    assert "CartesianProduct" not in plan


def test_edges_stage_broadcasts_both_maps(spark, pages_path):
    """The `edges` stage folds the invalidation map and the near-dup
    canonical map into the deduped edge table with no hint and no size
    gate: both maps are materialized stage outputs, so the planner knows
    their size and broadcasts them. Above the edges_dedup scan there are
    exactly two joins, both BroadcastHashJoin building the map side, and no
    Exchange: the full-width edge table is never shuffled."""
    pages = spark.read.parquet(pages_path)
    res = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    rows = {m["stage"]: m["rows"] for m in res["metrics"]}
    # an empty map would let AQE drop its join, so both must be non-empty
    assert rows["edges_invalidate"] > 0 and rows["edges_canon_map"] > 0, rows
    final = _plan(res["edges"]).split("== Final Plan ==", 1)[1]
    spine = final.split("InMemoryTableScan", 1)[0]  # down to the edges_dedup scan
    joins = [line for line in spine.splitlines() if "Join" in line]
    assert len(joins) == 2, spine
    assert all("BroadcastHashJoin" in j and "LeftOuter, BuildRight" in j for j in joins), spine
    assert "Exchange" not in spine, spine
    res["release"]()


def test_no_cartesian_in_pipeline_outputs(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    res = run_pipeline(spark, pages, now=NOW, with_embeddings=False)
    for name in ("nodes", "edges", "mentions"):
        assert "CartesianProduct" not in _plan(res[name]), name


def test_merge_pair_join_is_equijoin_no_cartesian(spark):
    """T4/T5: the near-dup candidate join must hash/sort-merge on the
    endpoint-pair key alone, never a cartesian; the vector payload is no
    join key."""
    from graphiti_spark.extraction import embed_text
    from graphiti_spark.operators.edge_ops import near_duplicate_edge_pairs

    edges = spark.createDataFrame(
        [("e%d" % i, "g", "n1", "n2", "fact %d here" % i, embed_text("fact %d" % i))
         for i in range(6)],
        schema="uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, fact string, fact_embedding array<float>",
    )
    plan = _plan(near_duplicate_edge_pairs(edges))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert joins and all(re.search(r"Join \[bk#\d+L\], \[bk#\d+L\],", j) for j in joins), joins


def test_prefix_filter_join_is_equijoin_no_cartesian(spark):
    """The prefix-filtered set-similarity candidate join must stay a
    (block, token-hash) equi-join — never a cartesian/BNL — and the
    exchanged candidate rows must carry only scalars (the wide token
    arrays are re-attached after dedup)."""
    from graphiti_spark import dataops as D

    docs = spark.createDataFrame(
        [(i, f"w{i} common tail {i % 3}", "en") for i in range(50)],
        schema="doc_id long, text string, lang string",
    )
    out = D.token_jaccard_pairs(docs, threshold=0.6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_test_grams(spark):
    """The decontamination join must broadcast the (small) distinct
    test-gram side so the train grams stream through a map-side hash join
    with no shuffle of the train side."""
    from graphiti_spark import dataops as D

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " + str(i)) for i in range(20)],
        schema="doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta tail")],
        schema="doc_id long, text string",
    )
    plan = _plan(D.ngram_decontaminate(train, test, n=8))
    assert "BroadcastHashJoin" in plan, "test-gram side must broadcast"
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_line_dedup_no_cartesian(spark):
    """Winner marking is one equi-join on the line content (partial-agg
    min absorbs hot-line skew map-side); no cartesian/BNL anywhere."""
    from graphiti_spark import dataops as D

    docs = spark.createDataFrame(
        [(i, "header\nbody " + str(i)) for i in range(10)],
        schema="doc_id long, text string",
    )
    plan = _plan(D.line_dedup(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_invalidation_map_job_fence(spark):
    """invalidation_map is one window, one grouped pandas pass and the
    result: counting its map issues at most 5 Spark jobs. A new probe
    collect, count or cached intermediate in the stage shows up here."""
    from test_skew import INV_SCHEMA, _inv_edges

    from graphiti_spark.operators.edge_ops import invalidation_map

    edges = spark.createDataFrame(_inv_edges(), schema=INV_SCHEMA)
    sc = spark.sparkContext
    group = "invalidation_map_job_fence"
    sc.setJobGroup(group, "invalidation_map job fence")
    try:
        assert invalidation_map(edges).count() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, jobs


# jobs issued by one run_pipeline call on generate_web_pages(n_pages=8,
# seed=42), measured on a 4-core host; see test_pipeline_job_fence
PIPELINE_JOBS = 51


def test_pipeline_job_fence(spark):
    """A warm run_pipeline call on a fixed 8-page input issues at most
    PIPELINE_JOBS + 2 Spark jobs. Its job is to catch a new probe collect,
    count or cache in any stage. The second of two runs is counted, so the
    first run's one-off session work is not; jobs from the stages' worker
    threads carry no job group, so the count takes every new id in the
    fence's group or in none."""
    rows = generate_web_pages(n_pages=8, seed=42)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=WEB_PAGES,
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "pipeline_job_fence"

    def ids():
        return set(tracker.getJobIdsForGroup(group)) | set(tracker.getJobIdsForGroup(None))

    sc.setJobGroup(group, "run_pipeline job fence")
    try:
        run_pipeline(spark, pages, now=NOW)["release"]()
        before = ids()
        run_pipeline(spark, pages, now=NOW)["release"]()
        jobs = ids() - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(jobs) <= PIPELINE_JOBS + 2, len(jobs)
