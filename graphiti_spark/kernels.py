"""Deterministic dedup kernels (pure Python/numpy — no Spark imports).

These reproduce, value-for-value, the entity-dedup math of the reference
(/root/reference/graphiti_core/utils/maintenance/dedup_helpers.py:31-140):

- exact/fuzzy name normalization        (ref :39-49)
- Shannon char entropy + entropy gate   (ref :52-85, thresholds :31-33)
- character 3-gram shingles             (ref :88-94)
- 64-bit blake2b minhash, 32 perms      (ref :97-114, const :35)
- LSH bands of size 4 (8 bands)         (ref :117-128, const :36)
- Jaccard with empty-set edge cases     (ref :131-140)
- fuzzy accept threshold 0.9            (ref :34)

and the canonicalization rules of
/root/reference/graphiti_core/utils/bulk_utils.py:72-101 (directed
union-find) and :513-550 (undirected, min-uuid canonical).

They are imported both by the vectorized pandas UDFs (the Spark hot path)
and by the single-process oracle used in tests, so both pipelines share
one source of truth for the dedup semantics the P/R metric depends on.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache
from hashlib import blake2b

ENTROPY_THRESHOLD = 1.5
MIN_NAME_LEN = 6
MIN_TOKENS = 2
JACCARD_THRESHOLD = 0.9
MINHASH_PERMS = 32
BAND_SIZE = 4
NUM_BANDS = MINHASH_PERMS // BAND_SIZE

_WS = re.compile(r"\s+")
_NON_FUZZY = re.compile(r"[^a-z0-9' ]")


def normalize_exact(name: str) -> str:
    """Lowercase + collapse whitespace: the exact-match blocking key."""
    return _WS.sub(" ", name.lower()).strip()


def normalize_fuzzy(name: str) -> str:
    """Keep only [a-z0-9' ] of the exact form; re-collapse whitespace."""
    out = _NON_FUZZY.sub(" ", normalize_exact(name)).strip()
    return _WS.sub(" ", out)


def name_entropy(normalized: str) -> float:
    """Shannon entropy over the characters of the space-stripped name."""
    chars = normalized.replace(" ", "")
    if not chars:
        return 0.0
    counts: dict[str, int] = {}
    for ch in chars:
        counts[ch] = counts.get(ch, 0) + 1
    n = len(chars)
    return -sum((c / n) * math.log2(c / n) for c in counts.values())


def has_high_entropy(normalized: str) -> bool:
    """Gate: names shorter than 6 chars AND with <2 tokens never fuzzy-match;
    otherwise require entropy >= 1.5."""
    if len(normalized) < MIN_NAME_LEN and len(normalized.split()) < MIN_TOKENS:
        return False
    return name_entropy(normalized) >= ENTROPY_THRESHOLD


def shingles(normalized: str) -> set[str]:
    """Character 3-grams of the space-stripped name (singleton below 2 chars)."""
    s = normalized.replace(" ", "")
    if len(s) < 2:
        return {s} if s else set()
    return {s[i : i + 3] for i in range(len(s) - 2)}


@lru_cache(maxsize=4096)
def cached_shingles(normalized: str) -> frozenset[str]:
    return frozenset(shingles(normalized))


def hash_shingle(shingle: str, seed: int) -> int:
    """64-bit big-endian blake2b of 'seed:shingle' — one hash per permutation."""
    return int.from_bytes(blake2b(f"{seed}:{shingle}".encode(), digest_size=8).digest(), "big")


def minhash_signature(shingle_set) -> tuple[int, ...]:
    """Per-seed minimum over the shingle hashes; empty input -> empty tuple."""
    if not shingle_set:
        return ()
    return tuple(min(hash_shingle(sh, seed) for sh in shingle_set) for seed in range(MINHASH_PERMS))


def lsh_bands(signature) -> list[tuple[int, ...]]:
    """Chop the signature into NUM_BANDS tuples of BAND_SIZE (drop ragged tail)."""
    sig = list(signature)
    return [
        tuple(sig[i : i + BAND_SIZE])
        for i in range(0, len(sig), BAND_SIZE)
        if len(sig[i : i + BAND_SIZE]) == BAND_SIZE
    ]


def band_keys(name: str) -> list[int]:
    """Hashable per-band bucket keys for a raw name: one 64-bit int per band.

    Spark-side convenience: the LSH band join shuffles on
    (band_index, band_key) so the key must be a compact scalar, not a tuple.
    """
    sig = minhash_signature(cached_shingles(normalize_fuzzy(name)))
    keys = []
    for idx, band in enumerate(lsh_bands(sig)):
        digest = blake2b(
            (str(idx) + "|" + "|".join(map(str, band))).encode(), digest_size=8
        ).digest()
        keys.append(int.from_bytes(digest, "big", signed=False) - (1 << 63))
    return keys


def jaccard(a, b) -> float:
    """Jaccard similarity; both-empty -> 1.0, one-empty -> 0.0."""
    a, b = set(a), set(b)
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def int_cosine(a, b):
    """All-pairs cosine of two int64 row matrices (quantized vectors): exact
    int64 norms and matmul, then IEEE sqrt and divide — op-for-op the JVM
    double arithmetic of search._dot, so the values are bit-identical to the
    Spark and DuckDB twins. A zero row gives NaN, which fails every >=."""
    import numpy as np

    an = np.sqrt((a * a).sum(axis=1).astype(np.float64))
    bn = np.sqrt((b * b).sum(axis=1).astype(np.float64))
    with np.errstate(divide="ignore", invalid="ignore"):
        return (a @ b.T).astype(np.float64) / (an[:, None] * bn[None, :])


NO_TIME = (1 << 63) - 1  # int64 max: "no timestamp" in invalidation_mins


def invalidation_mins(kh, dh, rank, valid, ext, query, max_cells=1 << 22):
    """T6/T7 per-edge minimums over contradiction domains (the kernel of
    edge_ops.invalidation_map). Rows are edges: domain hash `kh`, target
    hash `dh`, arrival rank `rank` within the domain, `valid` and
    extracted-invalid `ext` as int64 microseconds (NO_TIME = null). Every
    row is a candidate c; each `query` row E gets

      self_min  = min valid_c : dh_c != dh_E, valid_c > valid_E, rank_c < rank_E
      later_min = min valid_c : dh_c != dh_E, valid_c > valid_E, rank_c > rank_E,
                                ext_c > valid_E

    by pairwise compares within E's domain, at most `max_cells` cells per
    chunk. Returns (row index, self_min, later_min) for the query rows with
    at least one minimum; a missing minimum is NO_TIME."""
    import numpy as np

    order = np.argsort(kh, kind="stable")
    ks = kh[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    ends = np.r_[starts[1:], len(ks)]
    out = []
    for s, e in zip(starts, ends):
        seg = order[s:e]
        qs = seg[query[seg]]
        c_dh, c_r, c_v, c_ext = dh[seg], rank[seg], valid[seg], ext[seg]
        step = max(1, max_cells // len(seg))
        for i in range(0, len(qs), step):
            q = qs[i : i + step]
            q_v = valid[q][:, None]
            hit = (c_dh != dh[q][:, None]) & (c_v > q_v)
            q_r = rank[q][:, None]
            self_min = np.where(hit & (c_r < q_r), c_v, NO_TIME).min(axis=1)
            later_min = np.where(
                hit & (c_r > q_r) & (c_ext > q_v), c_v, NO_TIME
            ).min(axis=1)
            keep = (self_min != NO_TIME) | (later_min != NO_TIME)
            out.append((q[keep], self_min[keep], later_min[keep]))
    if not out:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, empty
    return tuple(np.concatenate(parts) for parts in zip(*out))


# ---------------------------------------------------------------------------
# Union-find canonicalization (driver-side oracle; the Spark pipeline uses the
# iterative connected-components job in operators/connected_components.py)
# ---------------------------------------------------------------------------


def directed_uuid_map(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Collapse directed alias->canonical chains, preserving direction.

    Matches /root/reference/graphiti_core/utils/bulk_utils.py:72-101: the
    *target* of the most recent union wins as root, even when the alias sorts
    lexicographically before the canonical uuid.
    """
    parent: dict[str, str] = {}

    def root_of(u: str) -> str:
        parent.setdefault(u, u)
        r = u
        while parent[r] != r:
            r = parent[r]
        # path compression
        while parent[u] != r:
            parent[u], u = r, parent[u]
        return r

    for alias, canonical in pairs:
        parent.setdefault(alias, alias)
        parent.setdefault(canonical, canonical)
        parent[root_of(alias)] = root_of(canonical)

    return {u: root_of(u) for u in parent}


def min_uuid_map(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Undirected union-find; canonical = lexicographically smallest member.

    Matches /root/reference/graphiti_core/utils/bulk_utils.py:513-550.
    """
    parent: dict[str, str] = {}

    def root_of(u: str) -> str:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = root_of(a), root_of(b)
        if ra != rb:
            hi, lo = (ra, rb) if ra > rb else (rb, ra)
            parent[hi] = lo

    return {u: root_of(u) for u in parent}


# U1 — fulltext-query sanitization (ref helpers.py:62-96). Lucene special
# characters are backslash-escaped; the uppercase letters O/R/N/T/A/D are
# escaped too so the Lucene keywords OR / NOT / AND can never be formed by
# user input. Kept for drop-in parity even though this engine's BM25 path
# (search.tokenize) has no query syntax to inject into.
_LUCENE_ESCAPED = frozenset('+-&|!(){}[]^"~*?:\\/ORNTAD')


def lucene_sanitize(query: str) -> str:
    return "".join("\\" + c if c in _LUCENE_ESCAPED else c for c in query)
