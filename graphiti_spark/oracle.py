"""Single-process reference-semantics oracle (no Spark).

A faithful, sequential re-expression of the reference's bulk ingest flow
(/root/reference/graphiti_core/graphiti.py:584-870 `add_episode_bulk`):
episodes processed in chronological order per group; per episode the
mentions are extracted (E1), resolved against the accumulated canonical
entity pool exactly as `_resolve_with_similarity` does
(/root/reference/graphiti_core/utils/maintenance/dedup_helpers.py:198-246:
exact-normalized hit -> resolve; else, for high-entropy names, LSH-band
candidates -> best Jaccard >= 0.9 -> resolve; else new canonical node),
then triples are extracted (E3), pointer-rewritten through the uuid map
(D15), deduped on the exact fact key (T1/T2,
edge_operations.py:235-249,467-478) and temporally invalidated with the
interval algebra of `resolve_edge_contradictions`
(edge_operations.py:393-423) + the new-edge self-expiry rule (:585-598).

This is the ground truth for the triple P/R >= 0.95 gate: it shares the
extraction and dedup *kernels* with the Spark pipeline but none of its
distributed structure, so it independently checks the global joins.
"""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from graphiti_spark import kernels as K
from graphiti_spark.extraction import det_id, extract_mentions, extract_triples


@dataclass
class OracleEdge:
    uuid: str
    group_id: str
    src: str            # canonical node uuid
    dst: str
    predicate: str
    fact: str
    episodes: list[str]
    valid_at: datetime | None
    invalid_at: datetime | None = None
    expired_at: datetime | None = None


@dataclass
class OracleGraph:
    # canonical entity pool, per group
    nodes: dict[str, dict] = field(default_factory=dict)           # uuid -> {name, group_id}
    by_exact: dict = field(default_factory=lambda: defaultdict(list))   # (group, norm) -> [uuid]
    lsh: dict = field(default_factory=lambda: defaultdict(list))        # (group, band_key) -> [uuid]
    shingles: dict[str, frozenset] = field(default_factory=dict)
    edges: dict[tuple, OracleEdge] = field(default_factory=dict)   # (src,dst,normfact) -> edge
    mentions: list[tuple[str, str]] = field(default_factory=list)  # (episode_uuid, node_uuid)


def _resolve_mention(g: OracleGraph, group: str, name: str) -> str:
    """Resolve one mention against the pool; insert as canonical if new."""
    norm = K.normalize_exact(name)
    fuzzy = K.normalize_fuzzy(name)

    hits = g.by_exact.get((group, norm), [])
    if len(hits) >= 1:
        return hits[0]

    def _absorb(canonical: str) -> str:
        # record the alias form and index it so future exact hits resolve too
        g.nodes[canonical]["aliases"].add(norm)
        g.by_exact[(group, norm)].append(canonical)
        return canonical

    if K.has_high_entropy(fuzzy):
        sh = K.cached_shingles(fuzzy)
        cand_ids: set[str] = set()
        for bk in K.band_keys(name):
            cand_ids.update(g.lsh.get((group, bk), []))
        best, best_score = None, 0.0
        for cid in cand_ids:
            score = K.jaccard(sh, g.shingles.get(cid, frozenset()))
            if score > best_score:
                best, best_score = cid, score
        if best is not None and best_score >= K.JACCARD_THRESHOLD:
            return _absorb(best)

    # new canonical node
    uid = det_id("node", group, norm)
    g.nodes[uid] = {"uuid": uid, "name": name, "group_id": group, "aliases": {norm}}
    g.by_exact[(group, norm)].append(uid)
    g.shingles[uid] = K.cached_shingles(fuzzy)
    for bk in K.band_keys(name):
        g.lsh[(group, bk)].append(uid)
    return uid


def ingest_episodes(
    episodes: list[dict], now: datetime, mention_fn=extract_mentions
) -> OracleGraph:
    """episodes: [{uuid, group_id, content, valid_at}] — processed in
    (group_id, valid_at, uuid) order like a chronological bulk load.
    `mention_fn` is the E1 extractor; pass
    extraction.extract_mentions_with_reflexion to mirror
    run_pipeline(reflexion=True)."""
    g = OracleGraph()
    for ep in sorted(episodes, key=lambda e: (e["group_id"], e["valid_at"], e["uuid"])):
        group = ep["group_id"]
        name_to_canon: dict[str, str] = {}
        for m in mention_fn(ep["content"]):
            canon = _resolve_mention(g, group, m["name"])
            name_to_canon[m["name"]] = canon
            g.mentions.append((ep["uuid"], canon))

        for t in extract_triples(ep["content"], ep["valid_at"]):
            src = name_to_canon.get(t["subject"])
            dst = name_to_canon.get(t["object"])
            if src is None or dst is None or src == dst:
                continue
            key = (src, dst, K.normalize_exact(t["fact"]))
            if key in g.edges:
                # T2 exact-fact short circuit: reuse, append provenance
                if ep["uuid"] not in g.edges[key].episodes:
                    g.edges[key].episodes.append(ep["uuid"])
                continue
            edge = OracleEdge(
                uuid=det_id("edge", group, src, t["predicate"], dst, K.normalize_exact(t["fact"])),
                group_id=group,
                src=src,
                dst=dst,
                predicate=t["predicate"],
                fact=t["fact"],
                episodes=[ep["uuid"]],
                valid_at=t["valid_at"],
                invalid_at=t["invalid_at"],
            )
            if edge.invalid_at is not None:
                # ref edge_operations.py:581-583: invalid_at set and no
                # expiry yet -> expire now
                edge.expired_at = now

            # invalidation candidates: same (group, src, predicate), other object
            # (deterministic replacement of the reference's LLM contradiction
            # judgment for functional predicates; interval algebra ports 1:1)
            candidates = [
                e
                for e in g.edges.values()
                if e.group_id == group and e.src == src
                and e.predicate == edge.predicate and e.dst != dst
            ]

            # new-edge self-expiry (ref edge_operations.py:585-598)
            if edge.expired_at is None:
                later = sorted(
                    (c.valid_at for c in candidates
                     if c.valid_at is not None and edge.valid_at is not None
                     and c.valid_at > edge.valid_at),
                )
                if later:
                    edge.invalid_at = later[0]
                    edge.expired_at = now

            # contradiction invalidation (ref edge_operations.py:393-423)
            for c in candidates:
                if (c.invalid_at is not None and edge.valid_at is not None
                        and c.invalid_at <= edge.valid_at) or (
                        c.valid_at is not None and edge.invalid_at is not None
                        and edge.invalid_at <= c.valid_at):
                    continue
                if (c.valid_at is not None and edge.valid_at is not None
                        and c.valid_at < edge.valid_at):
                    c.invalid_at = edge.valid_at
                    c.expired_at = c.expired_at or now

            g.edges[key] = edge
    merge_edge_near_duplicates(g)
    return g


EDGE_MERGE_COSINE = 0.6  # ref utils/bulk_utils.py:425


def _quantized_cosine(a: list[float], b: list[float]) -> float:
    """Twin of the Spark path's quantize_col + integer dot (search.py):
    HALF_UP x1000 quantization, exact integer dot, IEEE sqrt/div."""
    qa = [int((1 if x >= 0 else -1) * int(abs(x) * 1000 + 0.5)) for x in a]
    qb = [int((1 if x >= 0 else -1) * int(abs(x) * 1000 + 0.5)) for x in b]
    na = math.sqrt(float(sum(x * x for x in qa)))
    nb = math.sqrt(float(sum(x * x for x in qb)))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return sum(x * y for x, y in zip(qa, qb)) / (na * nb)


def merge_edge_near_duplicates(g: OracleGraph, threshold: float = EDGE_MERGE_COSINE) -> OracleGraph:
    """T5/T10 twin of operators.edge_ops.merge_near_duplicate_edges (ref
    utils/bulk_utils.py:416-510): within each directed (src, dst) endpoint
    pair, edges whose fact-embedding cosine >= 0.6 are duplicates; the
    min-uuid member of each union-find component survives (compress_uuid_map
    ordering, :513-550) and absorbs the merged edges' episode provenance."""
    from graphiti_spark.extraction import embed_text

    groups: dict[tuple, list] = defaultdict(list)
    for key, e in g.edges.items():
        groups[(e.src, e.dst)].append(key)

    pairs: list[tuple[str, str]] = []
    for keys in groups.values():
        if len(keys) < 2:
            continue
        embs = [embed_text(g.edges[k].fact) for k in keys]
        for i in range(len(keys)):
            for j in range(i + 1, len(keys)):
                if _quantized_cosine(embs[i], embs[j]) >= threshold:
                    pairs.append((g.edges[keys[i]].uuid, g.edges[keys[j]].uuid))
    if not pairs:
        return g

    mapping = K.min_uuid_map(pairs)
    by_uuid = {e.uuid: key for key, e in g.edges.items()}
    for uuid, canonical in mapping.items():
        if uuid == canonical or uuid not in by_uuid:
            continue
        loser = g.edges[by_uuid[uuid]]
        winner = g.edges[by_uuid[canonical]]
        for ep in loser.episodes:
            if ep not in winner.episodes:
                winner.episodes.append(ep)
        del g.edges[by_uuid[uuid]]
    return g


def triple_set(g: OracleGraph) -> set[tuple]:
    """Comparable triple identity: (group, subj canonical name, predicate,
    obj canonical name, fact normalized). Canonical name = lexicographic min
    over the component's alias set, so the identity is independent of which
    member a pipeline picks as representative."""
    out = set()
    for e in g.edges.values():
        out.add(
            (
                e.group_id,
                min(g.nodes[e.src]["aliases"]),
                e.predicate,
                min(g.nodes[e.dst]["aliases"]),
                K.normalize_exact(e.fact),
            )
        )
    return out


def precision_recall(candidate: set[tuple], reference: set[tuple]) -> tuple[float, float]:
    if not candidate or not reference:
        return (0.0, 0.0)
    tp = len(candidate & reference)
    return tp / len(candidate), tp / len(reference)
