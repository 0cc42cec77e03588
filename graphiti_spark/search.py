"""Read-side search library — Q1-Q7/Q11 of SURVEY.md §2.6.

The reference fans out Lucene fulltext + brute-force cosine + BFS per query
and fuses with RRF/MMR/graph-distance rerankers
(/root/reference/graphiti_core/search/search.py:68-518,
search/search_utils.py:75-2012). Here each method is a set-oriented
DataFrame transformation over the materialized output tables, so a "batch
of queries" is one join, not N round trips.

Scale notes (100 TB posture):
- BM25 runs on a precomputed posting table (term, doc, tf) partitioned by
  term; a query joins a tiny broadcast term list against it — the scan
  prunes to the query's terms only.
- cosine kNN broadcasts the (small) query-vector table against the
  embedding corpus and keeps everything JVM-side: the dot product is
  zip_with + aggregate inside whole-stage codegen, no Python.
- BFS is depth<=3 fixed rounds of frontier joins (ref MAX_SEARCH_DEPTH=3,
  search_utils.py:71); each round dedups the frontier before joining.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MAX_SEARCH_DEPTH = 3   # ref search_utils.py:71
DEFAULT_MIN_SCORE = 0.6  # ref search_utils.py:69
DEFAULT_MMR_LAMBDA = 0.5  # ref search_utils.py:70
MAX_QUERY_LENGTH = 128  # ref search_utils.py:72,92: over-long queries match nothing

# ---------------------------------------------------------------------------
# Q1 — BM25 fulltext over a tokenized posting table
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) posting rows with tf — lowercased whitespace tokenization,
    JVM-side. Case folds here, on the index side too, so a query term
    (lowercased by every caller) matches a capitalized name in the text."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    return toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))


def doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")).alias("dl"),
    )


def build_bm25_index(
    corpus: DataFrame, id_col: str, text_col: str, cache: bool = True
) -> dict:
    """Precompute the posting table + stats once per corpus version — the
    100 TB posture the module docstring describes. The postings and doc
    lengths are persist()ed, so the advertised reuse is real: the first
    query materializes the tokenization once and every later
    `bm25_term_scores` call joins against the cached tables instead of
    re-tokenizing the corpus. Call `close_bm25_index` when done (or write
    the frames out as term-partitioned posting tables for a shared index).

    `cache=False` skips the persist — used for single-shot internal calls
    where caching would leak blocks into a long-lived session."""
    postings = tokenize(corpus, id_col, text_col)
    dls = doc_lengths(corpus, id_col, text_col)
    if cache:
        postings, dls = postings.persist(), dls.persist()
    n_docs = corpus.count()
    avgdl_row = dls.agg((F.sum("dl") / F.count("*")).alias("avgdl")).collect()[0]
    return {
        "postings": postings,
        "dls": dls,
        "n_docs": n_docs,
        "avgdl": float(avgdl_row["avgdl"]),
    }


def close_bm25_index(index: dict) -> None:
    """Release the cached posting/doc-length tables of build_bm25_index."""
    index["postings"].unpersist()
    index["dls"].unpersist()


def bm25_term_scores(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    index: dict | None = None,
) -> DataFrame:
    """Per-(doc, term) BM25 contributions for the query terms.

    Returned unsummed so callers control fusion (and so the driver's
    order-insensitive hash check is float-summation-order-proof); sum with
    groupBy(doc).agg(sum(score)) for the classic ranking.

    `index`: output of build_bm25_index — skips per-call tokenization and
    corpus statistics entirely.
    """
    spark = corpus.sparkSession
    index = index or build_bm25_index(corpus, id_col, text_col, cache=False)
    postings, dls = index["postings"], index["dls"]
    n_docs, avgdl = index["n_docs"], index["avgdl"]

    qt = spark.createDataFrame([(t,) for t in query_terms], ["term"])
    hits = postings.join(F.broadcast(qt), on="term").join(dls, on="doc")
    df_counts = hits.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    hits = hits.join(F.broadcast(df_counts), on="term")

    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    return hits.select("doc", "term", (idf * tf_part).alias("score"))


def bm25_multi_scores(
    corpus: DataFrame,
    queries: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Batch BM25: every query document scored against every corpus document
    they share a term with, in ONE term join — the set-oriented form of
    looping bm25_search over queries (used by the per-episode edge
    candidate generator, ref edge_operations.py:267-290 runs one fulltext
    query per extracted edge).

    corpus: (doc, fact), queries: (q, fact). Both sides tokenized with the
    SAME rule as build_bm25_index (`tokenize`: lowercased, whitespace
    split). A term repeated in a query contributes once per occurrence,
    matching bm25_search's term-list semantics. Corpus statistics stay inside the plan (1-row aggregate
    cross-join) — no driver action.

    Output: q, doc, bm (summed score over shared terms).
    """
    postings = tokenize(corpus, "doc", "fact")
    dls = doc_lengths(corpus, "doc", "fact")
    stats = dls.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = postings.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    qterms = tokenize(queries, "q", "fact").withColumnRenamed("tf", "tf_q")
    hits = (
        postings.join(qterms.withColumnRenamed("doc", "q"), on="term")
        .join(dls, on="doc")
        .join(dfreq, on="term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        hits.select("q", "doc", (F.col("tf_q") * idf * tf_part).alias("s"))
        .groupBy("q", "doc")
        .agg(F.sum("s").alias("bm"))
    )


def bm25_search(
    corpus: DataFrame, id_col: str, text_col: str, query: str, limit: int = 10
) -> DataFrame:
    """Classic top-k BM25: doc + summed score, ordered. Queries longer than
    MAX_QUERY_LENGTH words match nothing (ref search_utils.py:92-93 returns
    the empty fulltext query)."""
    if len(query.split(" ")) > MAX_QUERY_LENGTH:
        return corpus.select(F.col(id_col).alias("doc")).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    terms = [t for t in query.lower().split() if t]
    per_term = bm25_term_scores(corpus, id_col, text_col, terms)
    return (
        per_term.groupBy("doc")
        .agg(F.sum("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(limit)
    )


# ---------------------------------------------------------------------------
# Q2 — cosine kNN (brute force, as the reference is; ref search_utils.py:314-479)
# ---------------------------------------------------------------------------


def quantize_col(col: Column) -> Column:
    """array<float> -> array<smallint> at 1e-3 resolution. Integer dot
    products are bit-exact across engines, which pins the oracle comparison;
    ranking is unchanged at embedding scale. The explicit double cast keeps
    the float->double promotion identical to the oracle's CAST(x AS DOUBLE).

    smallint storage (safe for |x| <= 32.767; every embedder here is
    L2-normalized so |x| <= 1) quarters the payload of the self-joins that
    ship quantized vectors — the near-dup candidate join moves ~256 B/vector
    instead of ~1 KB, which is the difference between a bandwidth-bound and
    a CPU-bound shuffle at high core counts. All arithmetic happens in
    BIGINT (`_dot` upcasts per element), so values are unchanged."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000).cast("smallint"))


def _dot(a, b) -> Column:
    # upcast per element: smallint*smallint would overflow in its own type
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("long") * y), F.lit(0).cast("long"),
                       lambda acc, v: acc + v)


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    min_score: float | None = None,
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """queries(q_id, q_vec) × candidates(c_id, c_vec) -> top-k by cosine.

    Broadcast the query side (small); the candidate scan stays JVM-side —
    zip_with/aggregate, no Python. `band=(lo, hi)` restricts to
    lo <= cos < hi BEFORE the rank window (hard-negative mining's
    confusable-but-not-duplicate band). Output: q_id, c_id, cos(double),
    rnk.
    """
    q = F.broadcast(
        normed(queries.select("q_id", quantize_col(F.col("q_vec")).alias("qv")), "q")
    )
    c = normed(candidates.select("c_id", quantize_col(F.col("c_vec")).alias("cv")), "c")
    return cos_rank(c.crossJoin(q), k, min_score, band)


def normed(df: DataFrame, side: str) -> DataFrame:
    """Add `<side>n`, the L2 norm of the quantized vector `<side>v` — once
    per row, before the pair join multiplies the rows."""
    v = F.col(f"{side}v")
    return df.withColumn(f"{side}n", F.sqrt(_dot(v, v).cast("double")))


def cos_rank(
    pairs: DataFrame,
    k: int,
    min_score: float | None = None,
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """The exact-cosine rerank every kNN operator ends in. pairs: q_id,
    c_id, qv/cv (quantized vectors) and qn/cn (their norms, see `normed`).
    Output: q_id, c_id, cos (double), rnk — the top k per q_id by cos desc,
    ties to the smaller c_id."""
    pairs = pairs.withColumn(
        "cos", _dot(F.col("qv"), F.col("cv")).cast("double") / (F.col("qn") * F.col("cn"))
    )
    if min_score is not None:
        pairs = pairs.filter(F.col("cos") > min_score)
    if band is not None:
        lo, hi = band
        pairs = pairs.filter((F.col("cos") >= lo) & (F.col("cos") < hi))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "cos", "rnk")
    )


# ---------------------------------------------------------------------------
# Q3 — BFS expansion, depth <= 3 fixed rounds (ref search_utils.py:482-602)
# ---------------------------------------------------------------------------


def bfs(edges: DataFrame, origins: DataFrame, max_depth: int = MAX_SEARCH_DEPTH) -> DataFrame:
    """edges(src, dst) from origins(id) -> (id, depth) with min hop distance.

    Origins are depth 0. Each round joins the (deduped) frontier against the
    edge table; visited nodes never re-enter the frontier.
    """
    visited = origins.select(F.col("id"), F.lit(0).alias("depth"))
    frontier = visited.select("id")
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id").withColumnRenamed("id", "seen"),
                  F.col("id") == F.col("seen"), "left_anti")
        )
        nxt = nxt.select("id", F.lit(d).alias("depth")).localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.union(nxt)
        frontier = nxt.select("id")
    return visited


# ---------------------------------------------------------------------------
# Q4 — reciprocal rank fusion (ref search_utils.py:1869-1884: 1/(rank+1),
# rank enumerated from 0 per result list)
# ---------------------------------------------------------------------------


def rrf(ranked_lists: list[DataFrame], min_score: float = 0.0) -> DataFrame:
    """Each input: (uuid, rank) with rank starting at 1. Output: uuid, score
    = sum of 1/(rank+... ) matching the reference's 1-based enumerate-from-0,
    i.e. contribution = 1/rank_0based+1 == 1/rank_1based."""
    scored = [
        df.select("uuid", (F.lit(1.0) / F.col("rank")).alias("part")) for df in ranked_lists
    ]
    allparts = reduce(DataFrame.union, scored)
    return (
        allparts.groupBy("uuid")
        .agg(F.sum("part").alias("score"))
        .filter(F.col("score") >= min_score)
        .orderBy(F.desc("score"), F.asc("uuid"))
    )


# ---------------------------------------------------------------------------
# Q5 — maximal marginal relevance (candidate sets are tiny: pandas on driver
# would also do, but keep it a grouped-map so batches of queries distribute;
# ref search_utils.py:1974-2012)
# ---------------------------------------------------------------------------


def mmr_rerank(
    candidates: DataFrame, mmr_lambda: float = DEFAULT_MMR_LAMBDA, k: int = 10
) -> DataFrame:
    """candidates(q_id, c_id, rel, emb array<float>) -> (q_id, c_id, mmr_rank).

    Greedy MMR per query group: score = λ·rel + (λ-1)·max_sim(c, chosen).
    (Reference uses λ·sim(q,c) + (λ-1)·max_sim — `rel` is that first term.)
    """
    import numpy as np
    import pandas as pd

    lam = float(mmr_lambda)

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        embs = np.array([np.asarray(e, dtype=np.float64) for e in pdf["emb"]])
        norms = np.linalg.norm(embs, axis=1)
        norms[norms == 0] = 1.0
        unit = embs / norms[:, None]
        sims = unit @ unit.T
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        n = len(pdf)
        chosen: list[int] = []
        remaining = list(range(n))
        while remaining and len(chosen) < k:
            best_i, best_v = None, None
            for i in remaining:
                penalty = max(sims[i, j] for j in chosen) if chosen else 0.0
                v = lam * rel[i] + (lam - 1) * penalty
                if best_v is None or v > best_v or (
                    v == best_v and pdf["c_id"].iloc[i] < pdf["c_id"].iloc[best_i]
                ):
                    best_i, best_v = i, v
            chosen.append(best_i)
            remaining.remove(best_i)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[chosen].to_numpy(),
                "c_id": pdf["c_id"].iloc[chosen].to_numpy(),
                "mmr_rank": np.arange(1, len(chosen) + 1),
            }
        )

    return candidates.groupBy("q_id").applyInPandas(
        _mmr, schema="q_id string, c_id string, mmr_rank long"
    )


# ---------------------------------------------------------------------------
# Q6/Q7 — graph-distance + mention-count rerankers
# ---------------------------------------------------------------------------


def node_distance_rerank(candidates: DataFrame, edges: DataFrame, center_uuid: str) -> DataFrame:
    """candidates(uuid) -> (uuid, score=1/distance); center itself scores
    1/0.1 like the reference (ref search_utils.py:1887-1938). Unreached
    candidates keep infinite distance -> score 0."""
    origins = candidates.sparkSession.createDataFrame([(center_uuid,)], ["id"])
    bidir = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"),
                                                          F.col("src").alias("dst")))
    dists = bfs(bidir, origins)
    return (
        candidates.join(dists, candidates.uuid == dists.id, "left")
        .select(
            "uuid",
            F.when(F.col("uuid") == center_uuid, F.lit(1.0 / 0.1))
            .when(F.col("depth").isNotNull() & (F.col("depth") > 0), 1.0 / F.col("depth"))
            .otherwise(F.lit(0.0))
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("uuid"))
    )


def token_overlap_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
) -> DataFrame:
    """Deterministic stand-in for the reference's LLM cross-encoder reranker
    (ref cross_encoder/client.py — scores passages against the query with a
    model; north_star is LLM-free): score = token-set Jaccard between the
    query and the candidate text, computed JVM-side. candidates(uuid) ->
    (uuid, score) ordered desc."""
    q_terms = sorted({t for t in query.lower().split() if t})
    if not q_terms:
        return candidates.select("uuid", F.lit(0.0).alias("score"))
    q_arr = F.array(*[F.lit(t) for t in q_terms])
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    )
    inter = F.size(F.array_intersect(toks, q_arr))
    union = F.size(F.array_union(toks, q_arr))
    scored = corpus.select(
        F.col(id_col).alias("uuid"),
        F.when(union > 0, inter.cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return (
        candidates.select("uuid")
        .join(scored, on="uuid", how="left")
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
        .orderBy(F.desc("score"), F.asc("uuid"))
    )


def episode_mentions_rerank(candidates: DataFrame, mentions: DataFrame) -> DataFrame:
    """Rerank nodes by how many episodes mention them (ref :1941-1971)."""
    counts = mentions.groupBy(F.col("target_node_uuid").alias("uuid")).agg(
        F.count("*").alias("score")
    )
    return (
        candidates.join(counts, on="uuid", how="left")
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0)).cast("double"))
        .orderBy(F.desc("score"), F.asc("uuid"))
    )


# ---------------------------------------------------------------------------
# Q14 — provenance traversals (ref search_utils.py:118-172): one-join
# lookups over the materialized mentions / community-membership tables
# ---------------------------------------------------------------------------

RELEVANT_SCHEMA_LIMIT = 10  # ref search_utils.py:68


def get_mentioned_nodes(episodes_sel: DataFrame, mentions: DataFrame, nodes: DataFrame) -> DataFrame:
    """Entities mentioned by the given episodes (ref `get_mentioned_nodes`):
    episodes_sel(uuid) -> distinct node rows."""
    hits = (
        episodes_sel.select(F.col("uuid").alias("source_node_uuid"))
        .join(mentions, on="source_node_uuid")
        .select(F.col("target_node_uuid").alias("uuid"))
        .distinct()
    )
    return nodes.join(hits, on="uuid")


def get_communities_by_nodes(
    nodes_sel: DataFrame, community_members: DataFrame, communities: DataFrame
) -> DataFrame:
    """Communities any of the given entities belong to
    (ref `get_communities_by_nodes`): nodes_sel(uuid) -> community rows."""
    hits = (
        nodes_sel.select(F.col("uuid").alias("target_node_uuid"))
        .join(community_members, on="target_node_uuid")
        .select(F.col("source_node_uuid").alias("uuid"))
        .distinct()
    )
    return communities.join(hits, on="uuid")


def get_episodes_by_mentions(
    edges_sel: DataFrame, episodes: DataFrame, limit: int = RELEVANT_SCHEMA_LIMIT
) -> DataFrame:
    """Episodes that are provenance of the given edges
    (ref `get_episodes_by_mentions`): explode the edges' episode arrays,
    keep the first `limit` distinct uuids (ordered deterministically by
    episode uuid — the reference's list order is edge-input order)."""
    ep_ids = (
        edges_sel.select(F.explode("episodes").alias("uuid"))
        .distinct()
        .orderBy("uuid")
        .limit(limit)
    )
    return episodes.join(ep_ids, on="uuid")


# ---------------------------------------------------------------------------
# Q11 — SearchFilters: OR-of-AND date/label filter compiler
# (ref search/search_filters.py:26-251)
# ---------------------------------------------------------------------------

_OPS = {
    "=": lambda c, v: c == v,
    "<>": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    "<": lambda c, v: c < v,
    ">=": lambda c, v: c >= v,
    "<=": lambda c, v: c <= v,
    "IS NULL": lambda c, v: c.isNull(),
    "IS NOT NULL": lambda c, v: c.isNotNull(),
}


def compile_filters(or_of_ands: list[list[tuple[str, str, object]]]) -> Column:
    """[[(column, op, value), ...], ...] -> one Column predicate.

    Mirrors the reference's DateFilter OR-of-AND structure: inner lists AND
    together; outer list ORs. Empty input -> always-true.
    """
    if not or_of_ands:
        return F.lit(True)
    ors = []
    for conj in or_of_ands:
        ands = [_OPS[op](F.col(col), F.lit(val)) for (col, op, val) in conj]
        ors.append(reduce(and_, ands) if ands else F.lit(True))
    return reduce(or_, ors)
