"""T1-T10 — edge pointer rewrite, dedup, near-dup merge and temporal
invalidation.

- D15 pointer rewrite: triples join the name-resolution map on
  (group_id, normalized mention name) for subject and object — the
  hub-entity skew point; AQE skew-join splitting handles it, and the
  planner broadcasts the map side under the session's
  autoBroadcastJoinThreshold (ref utils/bulk_utils.py:556-563).
- T4/T5/T10 near-dup merge: the canonical map (id, canonical,
  merged_episodes) folds in through one left join. Like the invalidation
  map, it is a small materialized stage output in the pipeline, so the
  planner sizes and broadcasts it with no hint.
- T1/T2 exact-fact dedup: first occurrence wins on the key
  (source, target, normalized fact); the surviving edge absorbs all
  episode uuids in chronological order
  (ref edge_operations.py:235-249, 467-478).
- T6/T7 temporal invalidation, set-based: for every edge, the earliest
  later-valid_at contradicting edge (same group/source/predicate,
  different target) sets invalid_at, subject to the disjoint-interval
  guards of resolve_edge_contradictions (ref edge_operations.py:393-423)
  and the new-edge self-expiry rule (:585-598). Sequential and set-based
  evaluation agree except on second-order arrival effects (see oracle.py).
  The guard reads only a contradicting edge's extracted invalid_at (its
  self-expiry value always lies above the edge's own valid_at, so it
  always passes), which makes self-expiry and later truncation two
  independent minimums: one grouped numpy pass per contradiction domain
  computes both, with hub domains split into arrival-rank blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.functions.udfs import normalize_exact_col
from graphiti_spark.operators.connected_components import connected_components
from graphiti_spark.operators.node_dedup import det_id_col


def rewrite_pointers(raw_triples: DataFrame, name_resolution: DataFrame) -> DataFrame:
    """D15: subject/object surface names -> canonical node uuids."""
    subj_map = name_resolution.select(
        "group_id",
        F.col("norm_exact").alias("subj_norm"),
        F.col("canonical_id").alias("source_node_uuid"),
    )
    obj_map = name_resolution.select(
        "group_id",
        F.col("norm_exact").alias("obj_norm"),
        F.col("canonical_id").alias("target_node_uuid"),
    )
    t = raw_triples.withColumn("subj_norm", normalize_exact_col(F.col("subject"))).withColumn(
        "obj_norm", normalize_exact_col(F.col("object"))
    )
    return (
        t.join(subj_map, on=["group_id", "subj_norm"])
        .join(obj_map, on=["group_id", "obj_norm"])
        .filter(F.col("source_node_uuid") != F.col("target_node_uuid"))
        .drop("subj_norm", "obj_norm")
    )


def dedup_edges(resolved_triples: DataFrame) -> DataFrame:
    """T1/T2: first-wins on (group, src, dst, normalized fact); merge episode
    provenance chronologically. Winner = earliest (ep_valid_at, episode_uuid,
    triple_idx), matching the oracle's arrival order.

    The grouping key uses xxhash64 of the normalized fact, not the ~100-byte
    string — the fact text still reaches the output via the winner struct and
    norm_fact is recomputed from it post-aggregation, so results are
    identical (modulo 2^-64 hash collisions) while the shuffle moves ~40%
    fewer bytes — this stage is memory-bandwidth-bound at scale."""
    t = resolved_triples.withColumn(
        "fact_key", F.xxhash64(normalize_exact_col(F.col("fact")))
    )
    winner = F.min(
        F.struct("ep_valid_at", "episode_uuid", "triple_idx", "predicate", "fact", "valid_at", "invalid_at")
    ).alias("w")
    episodes = F.array_distinct(
        F.transform(
            F.array_sort(F.collect_set(F.struct("ep_valid_at", "episode_uuid"))),
            lambda s: s.episode_uuid,
        )
    ).alias("episodes")
    return (
        t.groupBy("group_id", "source_node_uuid", "target_node_uuid", "fact_key")
        .agg(winner, episodes)
        .withColumn("norm_fact", normalize_exact_col(F.col("w.fact")))
        .select(
            det_id_col(
                F.lit("edge"),
                F.col("group_id"),
                F.col("source_node_uuid"),
                F.col("w.predicate"),
                F.col("target_node_uuid"),
                F.col("norm_fact"),
            ).alias("uuid"),
            "group_id",
            "source_node_uuid",
            "target_node_uuid",
            F.col("w.predicate").alias("name"),
            F.col("w.fact").alias("fact"),
            "norm_fact",
            "episodes",
            F.col("w.ep_valid_at").alias("created_at"),
            F.col("w.valid_at").alias("valid_at"),
            F.col("w.invalid_at").alias("invalid_at"),
            # arrival-order tiebreaks (winner's episode + in-episode triple
            # position): consumed by invalidation_map to reproduce
            # the oracle's sequential arrival semantics, dropped there
            F.col("w.episode_uuid").alias("arr_episode"),
            F.col("w.triple_idx").alias("arr_idx"),
        )
    )


EDGE_COSINE_THRESHOLD = 0.6  # ref utils/bulk_utils.py:425


ENDPOINT_PAIR_CAP = 10_000  # hub guard: same shape as node_dedup.LSH_BUCKET_CAP


def near_duplicate_edge_pairs(
    edges: DataFrame,
    cosine_threshold: float = EDGE_COSINE_THRESHOLD,
) -> DataFrame:
    """T4 candidate generation + T5 judgment (ref utils/bulk_utils.py:416-510):
    pairs of edges between the SAME directed endpoint pair (ref :446-450
    skips any candidate whose source or target differs) whose fact
    embeddings have cosine >= 0.6 (:460-465). The reference's word-overlap
    candidates (:451-457) are not generated: its duplicate judgment keeps
    only pairs at cosine >= 0.6, so a token-only candidate never merges.

    Output: a_uuid, b_uuid, cos DOUBLE. The endpoint-pair join key bounds
    the quadratic blowup exactly as the reference's per-pair candidate loop
    does. Endpoint pairs with more parallel (already exact-deduped) edges
    than ENDPOINT_PAIR_CAP are skipped outright — at web scale a hub pair
    with 10^6 distinct facts would otherwise emit 10^12 candidate rows;
    skipping mirrors how node_dedup.LSH_BUCKET_CAP makes blocking
    deliberately approximate (exact-fact dedup has already run for those
    edges).
    """
    from graphiti_spark.search import _dot, quantize_col

    has_vec = "fact_embedding" in edges.columns
    # the directed endpoint-pair block key (group_id, source, target) is
    # ~90 B of uuid-hex strings; every downstream exchange keys on it, so it
    # travels as one xxhash64 instead. A 2^-64 block-key collision merges
    # two endpoint blocks — extra CANDIDATES whose cosine judgment still
    # decides, the same accepted-risk class as dedup_edges' fact_key.
    bk = F.xxhash64("group_id", "source_node_uuid", "target_node_uuid").alias("bk")
    # fact rides along only for the embed-on-demand path below — with
    # embeddings present (the pipeline's canonical map) the string never moves
    base = edges.select("uuid", bk, "fact_embedding" if has_vec else "fact")
    # singleton endpoint pairs can never produce a candidate — drop them
    # BEFORE any per-edge feature work. In webtext the overwhelming
    # majority of endpoint pairs hold exactly one (already exact-deduped)
    # edge, so this one aggregation shrinks the quantize/embed
    # work from |edges| to |edges in multi-edge blocks| (~13% on the 400k-
    # page corpus). The block list is tiny relative to the edge table, so
    # AQE turns this into a broadcast join (64 MB session threshold) and
    # the edge side is never shuffled.
    sizes = edges.groupBy(bk).count()
    multi_blocks = sizes.filter(F.col("count").between(2, ENDPOINT_PAIR_CAP))
    base = base.join(multi_blocks.drop("count"), on="bk")
    if has_vec:
        # quantize AFTER the block restriction: the 128-element transform is
        # interpreted (higher-order functions skip codegen), so running it
        # on the full table costs ~8x the surviving-block work (measured
        # 68s -> ~20s on the 400k-page corpus at local[8])
        base = base.withColumn("qv", quantize_col(F.col("fact_embedding"))).drop(
            "fact_embedding"
        )
    else:
        # embeddings only for the surviving candidates (same kernel the
        # pipeline uses everywhere; bit-identical to the oracle twin). The
        # explicit repartition keeps the pandas UDF spread over every core
        # — AQE would coalesce the small post-join exchange and serialize
        # the Python stage.
        from graphiti_spark.functions.udfs import embed_udf

        par = edges.sparkSession.sparkContext.defaultParallelism * 2
        base = base.repartition(par).withColumn(
            "qv", quantize_col(embed_udf(F.col("fact")))
        ).drop("fact")
    # norms computed once per EDGE here, not once per PAIR below: the pair
    # join then evaluates a single integer dot per candidate instead of 3
    base = base.withColumn("qn", F.sqrt(_dot(F.col("qv"), F.col("qv")).cast("double")))
    a = base.select(
        "bk", F.col("uuid").alias("a_uuid"), F.col("qv").alias("a_qv"), F.col("qn").alias("a_qn")
    )
    b = base.select(
        "bk", F.col("uuid").alias("b_uuid"), F.col("qv").alias("b_qv"), F.col("qn").alias("b_qn")
    )
    pairs = a.join(b, on="bk").filter(F.col("a_uuid") < F.col("b_uuid"))
    # zero-norm guard: 0/0 would be NaN, and Spark SQL sorts NaN above every
    # number so `cos >= threshold` would be TRUE — the oracle twin
    # (_quantized_cosine) returns 0.0 for zero norms, so gate the expression
    # on both norms being positive (null otherwise; null fails the filter)
    cos = F.when(
        F.col("a_qv").isNotNull() & F.col("b_qv").isNotNull()
        & (F.col("a_qn") > 0) & (F.col("b_qn") > 0),
        _dot(F.col("a_qv"), F.col("b_qv")).cast("double")
        / (F.col("a_qn") * F.col("b_qn")),
    )
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= cosine_threshold)
        .select("a_uuid", "b_uuid", "cos")
    )


def near_dup_canonical_map(
    edges: DataFrame,
    cosine_threshold: float = EDGE_COSINE_THRESHOLD,
) -> DataFrame:
    """T5/T10 judgment + union-find + provenance merge, WITHOUT the final
    rewrite: returns the map (id, canonical, merged_episodes) over the
    component members only (the min_uuid_map contract, self-mappings
    included). `merged_episodes` — every member's episode provenance in
    member (created_at, uuid) order — is set on the canonical's own row
    only. Split out from `merge_near_duplicate_edges` because the map
    depends only on columns temporal invalidation never touches (uuid,
    endpoints, created_at, episodes, fact embeddings), so the pipeline
    computes it from the deduped table CONCURRENTLY with invalidation and
    applies it to the invalidated table afterwards.
    """
    pairs = near_duplicate_edge_pairs(edges, cosine_threshold).select(
        F.col("a_uuid").alias("a"), F.col("b_uuid").alias("b")
    )
    canon = connected_components(pairs)
    members = F.collect_list(F.struct("created_at", "uuid", "episodes")).over(
        Window.partitionBy("canonical")
    )
    merged = F.array_distinct(
        F.flatten(F.transform(F.array_sort(members), lambda s: s.episodes))
    )
    return edges.join(canon, edges.uuid == canon.id).select(
        "id",
        "canonical",
        F.when(F.col("id") == F.col("canonical"), merged).alias("merged_episodes"),
    )


def merge_near_duplicate_edges(
    edges: DataFrame,
    cosine_threshold: float = EDGE_COSINE_THRESHOLD,
) -> DataFrame:
    """T5/T10: collapse near-duplicate edges (ref utils/bulk_utils.py:416-510
    `dedupe_edges_bulk`): candidate pairs from `near_duplicate_edge_pairs`,
    judged duplicates when fact-embedding cosine >= 0.6 (the deterministic
    replacement of the reference's LLM `resolve_extracted_edge` judgment —
    north_star is LLM-free), then union-find with the lexicographically
    smallest uuid as canonical (ref `compress_uuid_map`, :513-550). The
    canonical edge keeps its own scalar fields (fact, dates — as the
    reference keeps the canonical EntityEdge object) and absorbs every
    member's episode provenance, ordered by member (created_at, uuid).

    Embeds facts internally when no `fact_embedding` column is present.
    Schema is preserved; merged-away edges disappear.
    """
    return apply_edge_merge(edges, near_dup_canonical_map(edges, cosine_threshold))


def apply_edge_merge(edges: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite step of T5/T10: one left join of the edge table with a
    `near_dup_canonical_map` — merged-away edges disappear, each canonical
    edge takes its component's merged provenance. The map is a small
    materialized stage output in the pipeline, so the planner broadcasts it
    and the full-width edge table is scanned once and never shuffled."""
    return (
        edges.join(canon.withColumnRenamed("id", "uuid"), on="uuid", how="left")
        .filter(F.col("canonical").isNull() | (F.col("canonical") == F.col("uuid")))
        .withColumn("episodes", F.coalesce("merged_episodes", "episodes"))
        .select(*edges.columns)
    )


# contradiction domains with more edges than this are split into arrival-
# rank blocks of this size, one pandas group each (the hub strategy)
HUB_BLOCK_ROWS = 10_000


def invalidation_map(edges: DataFrame) -> DataFrame:
    """T6/T7 interval algebra over contradicting edges — the exact
    set-based form of the reference's sequential per-arrival rules
    (ref edge_operations.py:393-423 contradiction loop, :585-598 new-edge
    self-expiry), reproduced against an explicit arrival order so the
    result is row-identical to the chronological oracle (oracle.py).

    Returns the per-uuid invalidation MAP (uuid, _self_min, _later_min) —
    only edges with at least one contradiction appear — WITHOUT touching
    the edge table itself; `apply_invalidation` folds it back in. Splitting
    the two lets the pipeline materialize (or checkpoint) only the small
    map, never a second full-width copy of the edge table.

    Contradiction domain (deterministic replacement of the reference's LLM
    judgment, SURVEY.md §2.4 T5): same (group_id, source, predicate),
    different target, both valid_at non-null. Arrival order is
    (created_at, arr_episode, arr_idx) when dedup_edges' tiebreak columns
    are present, else (valid_at, uuid); arrival ties are impossible
    (distinct deduped edges have distinct winner (episode, triple_idx), and
    the fallback ends in the unique uuid), so a per-domain row_number is
    the whole arrival order.

    Per edge E with contradiction set C:
    1. post-arrival invalid A(E) = E's extracted invalid_at if set (an
       extracted end date is authoritative at arrival — ref :581-583 sets
       expired and skips self-expiry); else _self_min(E) = min{c.valid :
       c arrived before E, c.valid > E.valid} (self-expiry, :585-598).
    2. later-arrived contradictions truncate further: _later_min(E) =
       min{c.valid : c arrived after E, c.valid > E.valid, A(c) null or >
       E.valid} (the :402-413 disjointness guard, evaluated against c's
       own post-arrival invalid exactly as the sequential loop sees it).
    3. invalid_at = least(A(E), _later_min(E)); expired_at = now iff set.

    The guard needs only c's EXTRACTED invalid_at, so both minimums come
    from one pass: A(c) = coalesce(ext_c, _self_min(c)), and _self_min(c)
    is a minimum over values above c.valid, while phase 2 only looks at c
    with c.valid > E.valid — so a non-null _self_min(c) always passes the
    guard, and "A(c) null or A(c) > E.valid" equals "ext_c null or ext_c >
    E.valid". No contradiction-pair set is ever materialized.

    Execution: one window over the domain hash ranks arrivals and counts
    the domain; singleton domains drop out; then one
    groupBy(pmod(domain, defaultParallelism), block).applyInPandas runs
    kernels.invalidation_mins, which compares each domain's rows pairwise
    in bounded chunks. The pmod bucket batches many small domains into one
    Python call. A hub domain with n > HUB_BLOCK_ROWS edges is split into
    ceil(n / HUB_BLOCK_ROWS) arrival-rank blocks: every edge is a
    candidate in every block of its domain, and a query in its own block
    only, so each block is its own pandas group and task. Timestamps cross
    the Arrow boundary as unix-microsecond longs (no timezone conversion).
    """
    import pandas as pd

    from graphiti_spark.kernels import NO_TIME, invalidation_mins

    has_arr = "arr_episode" in edges.columns and "arr_idx" in edges.columns
    block = HUB_BLOCK_ROWS
    par = edges.sparkSession.sparkContext.defaultParallelism

    # The contradiction domain (group_id, source, predicate) is ~90 B of
    # mostly uuid-hex strings and keys the window AND the grouping, so it
    # travels as one xxhash64; the target uuid is only ever compared for
    # inequality, so it travels hashed too. A 2^-64 key collision could
    # alias two domains (a false contradiction) or two targets (a missed
    # one) — the same accepted-risk class as dedup_edges' fact_key.
    kh = F.xxhash64("group_id", "source_node_uuid", "name")
    order_cols = (
        [F.col("created_at"), F.col("arr_episode"), F.col("arr_idx")]
        if has_arr
        else [F.col("valid_at"), F.col("uuid")]
    )
    domain = Window.partitionBy(kh)
    rows = (
        edges.filter(F.col("valid_at").isNotNull())
        .select(
            "uuid",
            kh.alias("kh"),
            F.xxhash64("target_node_uuid").alias("dh"),
            F.row_number().over(domain.orderBy(*order_cols)).alias("r"),
            F.count(F.lit(1)).over(domain).alias("n"),
            F.unix_micros("valid_at").alias("v"),
            F.coalesce(F.unix_micros("invalid_at"), F.lit(NO_TIME)).alias("ext"),
        )
        .filter(F.col("n") > 1)
        .withColumn(
            "blk",
            F.explode(F.sequence(F.lit(0), ((F.col("n") - 1) / block).cast("int"))),
        )
        .withColumn("q", F.col("blk") == ((F.col("r") - 1) / block).cast("int"))
        .withColumn("bucket", F.pmod(F.col("kh"), F.lit(par)))
    )

    def _mins(pdf: pd.DataFrame) -> pd.DataFrame:
        idx, self_min, later_min = invalidation_mins(
            pdf["kh"].to_numpy(), pdf["dh"].to_numpy(), pdf["r"].to_numpy(),
            pdf["v"].to_numpy(), pdf["ext"].to_numpy(), pdf["q"].to_numpy(),
        )
        return pd.DataFrame(
            {
                "uuid": pdf["uuid"].to_numpy()[idx],
                "_self_min": self_min,
                "_later_min": later_min,
            }
        )

    mins = rows.groupBy("bucket", "blk").applyInPandas(
        _mins, "uuid string, _self_min long, _later_min long"
    )
    return mins.select(
        "uuid",
        *(
            F.timestamp_micros(F.nullif(c, F.lit(NO_TIME))).alias(c)
            for c in ("_self_min", "_later_min")
        ),
    )


def apply_invalidation(edges: DataFrame, inv_map: DataFrame, now_ts) -> DataFrame:
    """Fold an `invalidation_map` back into the edge table: one left join
    (the pipeline's map is a small materialized stage output, which the
    planner broadcasts, so the full-width edge table never crosses an
    exchange) + the invalid_at/expired_at column algebra. Stays LAZY:
    callers chain the near-dup merge and the final write on top without
    materializing the intermediate."""
    out = (
        edges.join(inv_map, on="uuid", how="left")
        .withColumn(
            "invalid_at",
            F.least(F.coalesce("invalid_at", "_self_min"), F.col("_later_min")),
        )
        .drop("_self_min", "_later_min")
        .withColumn(
            "expired_at",
            F.when(F.col("invalid_at").isNotNull(), F.lit(now_ts)).otherwise(
                F.lit(None).cast("timestamp")
            ),
        )
    )
    if "arr_episode" in edges.columns:
        out = out.drop("arr_episode", "arr_idx")
    return out


def invalidate_contradictions(edges: DataFrame, now_ts) -> DataFrame:
    """T6/T7 temporal invalidation — see `invalidation_map` for the full
    algebra and `apply_invalidation` for the fold-back. This wrapper keeps
    the one-call contract the driver-oracle entries use."""
    return apply_invalidation(edges, invalidation_map(edges), now_ts)


RELATED_EDGE_LIMIT = 10  # ref search/search_config.py DEFAULT_SEARCH_LIMIT


COSINE_CAND_BLOCKS = 8  # hub-group grid width for the cogrouped cosine leg


def _blocked_cosine_frames(
    new_edges: DataFrame, existing_edges: DataFrame, n_blocks: int
):
    """Cogroup inputs for the hybrid-candidate cosine leg, gridded so a hub
    group never lands in ONE pandas task: the existing-edge (candidate)
    side splits into `n_blocks` disjoint hash blocks per group, the query
    side replicates across all blocks. Cogrouping on (group_id, _blk)
    bounds single-task memory/CPU at O(|group| / n_blocks * |q_group|)
    while the union over blocks is EXACTLY the unblocked pair set (each
    candidate lives in exactly one block). NULL/empty embeddings are
    dropped on both sides — the pre-cogroup JVM expression this leg
    replaced produced NULL cosine for them, which the >= min_score filter
    discarded; numpy would instead crash on the ragged array."""
    vec_ok = F.col("fact_embedding").isNotNull() & (F.size("fact_embedding") > 0)
    q = (
        new_edges.select("uuid", "group_id", "fact_embedding")
        .filter(vec_ok)
        .withColumn(
            "_blk", F.explode(F.array(*[F.lit(i) for i in range(n_blocks)]))
        )
    )
    c = (
        existing_edges.select("uuid", "group_id", "fact_embedding")
        .filter(vec_ok)
        .withColumn("_blk", F.pmod(F.xxhash64("uuid"), F.lit(n_blocks)).cast("int"))
    )
    return q, c


def per_episode_edge_candidates(
    new_edges: DataFrame,
    existing_edges: DataFrame,
    k: int = RELATED_EDGE_LIMIT,
    cosine_blocks: int = COSINE_CAND_BLOCKS,
) -> DataFrame:
    """T3 per-episode candidate generation (ref utils/maintenance/
    edge_operations.py:256-296): for each newly extracted edge, hybrid-
    search (bm25 + cosine, RRF-fused — EDGE_HYBRID_SEARCH_RRF, ref
    search/search_config_recipes.py:111) the existing graph's edges with
    the new fact as the query, two ways:

      restricted=true  — candidates limited to existing edges between the
                         same directed (source, target) endpoints (the
                         reference's get_between_nodes valid-edges filter,
                         edges.py:368) -> dedup/resolution candidates;
      restricted=false — whole-group candidates -> invalidation candidates.

    Whole-batch and set-oriented where the reference loops one DB query per
    extracted edge: one tokenization of each side, one term join for every
    query at once, one per-group embedding join — a batch of N new edges
    costs the same number of Spark jobs as a batch of 1. BM25 statistics
    (n_docs, avgdl, df) are corpus-wide like the reference's single Lucene
    fulltext index, with the group restriction applied to candidates, and
    stay inside the plan (1-row aggregate cross-join) so no driver action
    is spent on them. Cosine keeps the reference's DEFAULT_MIN_SCORE gate;
    each method contributes its top 2k ranks per scope (ref search.py:205
    oversample) before RRF.

    Requires `fact_embedding` on both sides for the cosine leg (absent ->
    bm25-only, like a reference deployment without an embedder). Output:
    q_uuid, cand_uuid, restricted, rrf_x1e6 (score * 1e6, bigint —
    engine-exact), rank — ties broken by ascending cand_uuid.
    """
    from graphiti_spark.search import DEFAULT_MIN_SCORE, bm25_multi_scores

    have_vec = (
        "fact_embedding" in new_edges.columns
        and "fact_embedding" in existing_edges.columns
    )
    qmeta = new_edges.select(
        F.col("uuid").alias("q_uuid"),
        F.col("group_id").alias("q_group"),
        F.col("source_node_uuid").alias("q_src"),
        F.col("target_node_uuid").alias("q_dst"),
    )
    cmeta = existing_edges.select(
        F.col("uuid").alias("cand_uuid"),
        F.col("group_id").alias("c_group"),
        F.col("source_node_uuid").alias("c_src"),
        F.col("target_node_uuid").alias("c_dst"),
    )

    bm = bm25_multi_scores(
        existing_edges.select(F.col("uuid").alias("doc"), "fact"),
        new_edges.select(F.col("uuid").alias("q"), "fact"),
    ).select(F.col("q").alias("q_uuid"), F.col("doc").alias("cand_uuid"), "bm")

    if have_vec:
        # cosine leg: cogrouped Arrow batches, one numpy int64 matmul per
        # group, instead of |q| x |cand| interpreted 64-element aggregate
        # expressions in a JVM join (measured ~4x on the driver-entry
        # corpus). Quantization is the numpy twin of search.quantize_col
        # (sign * floor(|x|*1000 + 0.5) = Spark round-half-up to smallint),
        # the dot is exact in int64, and the float64 norm/divide matches
        # the JVM double arithmetic op-for-op — bit-identical cos values,
        # as the DuckDB oracle requires. Task cells are (group, block): the
        # candidate side grids into `cosine_blocks` hash blocks inside each
        # group (_blocked_cosine_frames), so a hub group spreads over
        # n_blocks tasks and per-task memory is O(|group|/n_blocks * dim).
        import numpy as np
        import pandas as pd

        from graphiti_spark.kernels import int_cosine

        min_score = DEFAULT_MIN_SCORE

        def _cos_group(key, qdf: pd.DataFrame, cdf: pd.DataFrame):
            if len(qdf) == 0 or len(cdf) == 0:
                return pd.DataFrame({"q_uuid": [], "cand_uuid": [], "cos": []})
            # belt over the DataFrame-side isNotNull filter: a null/empty
            # vector that slipped through (schema drift) must degrade to
            # "no match", not crash the task on a ragged np.array
            qdf = qdf[qdf.fact_embedding.map(lambda v: v is not None and len(v) > 0)]
            cdf = cdf[cdf.fact_embedding.map(lambda v: v is not None and len(v) > 0)]
            if len(qdf) == 0 or len(cdf) == 0:
                return pd.DataFrame({"q_uuid": [], "cand_uuid": [], "cos": []})

            def quant(col):
                m = np.array([np.asarray(v, dtype=np.float64) for v in col])
                return (np.sign(m) * np.floor(np.abs(m) * 1000.0 + 0.5)).astype(np.int64)

            # a zero-norm side gives NaN, which fails the >= gate
            cos = int_cosine(quant(qdf["fact_embedding"]), quant(cdf["fact_embedding"]))
            qi, ci = np.nonzero(cos >= min_score)
            return pd.DataFrame(
                {
                    "q_uuid": qdf["uuid"].to_numpy()[qi],
                    "cand_uuid": cdf["uuid"].to_numpy()[ci],
                    "cos": cos[qi, ci],
                }
            )

        qb, cb = _blocked_cosine_frames(new_edges, existing_edges, cosine_blocks)
        cs = (
            qb.groupBy("group_id", "_blk")
            .cogroup(cb.groupBy("group_id", "_blk"))
            .applyInPandas(_cos_group, "q_uuid string, cand_uuid string, cos double")
        )
        pairs = bm.join(cs, on=["q_uuid", "cand_uuid"], how="full_outer")
    else:
        pairs = bm.withColumn("cos", F.lit(None).cast("double"))

    pairs = (
        pairs.join(qmeta, on="q_uuid")
        .join(cmeta, on="cand_uuid")
        .filter(F.col("q_group") == F.col("c_group"))
        .withColumn(
            "endpoint_match",
            (F.col("q_src") == F.col("c_src")) & (F.col("q_dst") == F.col("c_dst")),
        )
        .select("q_uuid", "cand_uuid", "bm", "cos", "endpoint_match")
    )

    def _scope(subset: DataFrame, restricted: bool) -> DataFrame:
        wb = Window.partitionBy("q_uuid").orderBy(F.desc("bm"), F.asc("cand_uuid"))
        wc = Window.partitionBy("q_uuid").orderBy(F.desc("cos"), F.asc("cand_uuid"))
        parts = (
            subset.filter(F.col("bm").isNotNull())
            .withColumn("r", F.row_number().over(wb))
            .filter(F.col("r") <= 2 * k)
            .select("q_uuid", "cand_uuid", (F.lit(1.0) / F.col("r")).alias("part"))
        ).unionByName(
            subset.filter(F.col("cos").isNotNull())
            .withColumn("r", F.row_number().over(wc))
            .filter(F.col("r") <= 2 * k)
            .select("q_uuid", "cand_uuid", (F.lit(1.0) / F.col("r")).alias("part"))
        )
        fused = parts.groupBy("q_uuid", "cand_uuid").agg(F.sum("part").alias("score"))
        wr = Window.partitionBy("q_uuid").orderBy(F.desc("score"), F.asc("cand_uuid"))
        return (
            fused.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select(
                "q_uuid",
                "cand_uuid",
                F.lit(restricted).alias("restricted"),
                F.round(F.col("score") * 1e6).cast("long").alias("rrf_x1e6"),
                "rank",
            )
        )

    # four consumers read the pair set (2 scopes x {bm25, cosine} branches);
    # without a checkpoint the whole candidate DAG — term join, cogrouped
    # matmul, meta joins — executes four times per action. Lazy local
    # checkpoint: materialized by the first action, blocks GC-released.
    pairs = pairs.localCheckpoint(eager=False)
    return _scope(pairs, False).unionByName(
        _scope(pairs.filter(F.col("endpoint_match")), True)
    )
