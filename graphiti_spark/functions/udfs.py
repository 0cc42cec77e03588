"""Vectorized Arrow/pandas UDFs — the ONLY Python that runs on executors.

Per the BASELINE input_hint there is no per-row Python UDF anywhere in this
engine: html->text and the extraction fan-out share one mapInPandas (one
Arrow batch of pages in, one exploded Arrow batch out — no array<struct>
intermediary, no shuffle, one crossing per page), and per-name dedup
features use a scalar pandas UDF returning a struct.

All semantic logic lives in graphiti_spark.kernels / .extraction (pure
Python, shared with the oracle); these wrappers only batch it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from graphiti_spark import kernels as K
from graphiti_spark import schemas
from graphiti_spark.extraction import (
    EMBEDDING_DIM,
    embed_text,
    extract_mentions,
    extract_triples,
    html_to_text,
)

# ---------------------------------------------------------------------------
# S3/E1/E3 — html->text plus extraction fan-out in ONE mapInPandas
# expected input columns: episode_uuid, group_id, ep_valid_at, html, text
# ---------------------------------------------------------------------------

# Each page crosses into Python once: the map derives its text
# (html_to_text(html), or the text column when html is null) and emits it
# as the page's kind='e' row, then the page's mentions ('m') and triples
# ('t') from that same string. The episode row takes its content from the
# materialized 'e' rows, so no Python runs when episodes are written.

_KEYS = ("kind", "episode_uuid", "group_id", "ep_valid_at")
_PAYLOAD = tuple(f.name for f in schemas.RAW_EXTRACTION.fields if f.name not in _KEYS)
_TRIPLE = ("subject", "predicate", "object", "fact", "valid_at", "invalid_at")


def extract_all_map(
    batches: Iterator[pd.DataFrame], mention_fn=extract_mentions
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        cols = {k: [] for k in _KEYS + _PAYLOAD}

        def row(*keys, **vals):
            for k, v in zip(_KEYS, keys):
                cols[k].append(v)
            for k in _PAYLOAD:
                cols[k].append(vals.get(k))

        for ep_uuid, group, ts, html, page_text in zip(
            pdf["episode_uuid"], pdf["group_id"], pdf["ep_valid_at"], pdf["html"], pdf["text"]
        ):
            content = html_to_text(html) if html is not None else page_text
            row("e", ep_uuid, group, ts, content=content)
            text = content or ""
            for idx, m in enumerate(mention_fn(text)):
                row("m", ep_uuid, group, ts, name=m["name"],
                    entity_type=m["entity_type"], mention_idx=idx)
            ref_time = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            for t_idx, t in enumerate(extract_triples(text, ref_time)):
                row("t", ep_uuid, group, ts, triple_idx=t_idx, **{k: t[k] for k in _TRIPLE})
        out = pd.DataFrame(cols)
        # arrow needs consistent dtypes even for EMPTY frames (a batch with
        # zero extractions materializes float64 columns otherwise)
        for c in ("valid_at", "invalid_at", "ep_valid_at"):
            out[c] = pd.to_datetime(out[c], utc=True)
        for c in ("mention_idx", "triple_idx"):
            out[c] = out[c].astype("Int64")
        yield out


def extract_all_df(episodes_df, reflexion: bool = False):
    """Fused one-scan extraction over pages_to_episodes' output;
    `reflexion=True` adds the E2 second-pass mention family
    (extraction.extract_mentions_with_reflexion) — opt-in, mirroring the
    reference's MAX_REFLEXION_ITERATIONS=0 default-off. The text column
    crosses only for rows without html, the rows whose content it is."""
    from functools import partial

    from graphiti_spark.extraction import extract_mentions_with_reflexion

    fn = (
        partial(extract_all_map, mention_fn=extract_mentions_with_reflexion)
        if reflexion
        else extract_all_map
    )
    return episodes_df.select(
        "episode_uuid", "group_id", "ep_valid_at", "html",
        F.when(F.col("html").isNull(), F.col("text")).alias("text"),
    ).mapInPandas(fn, schema=schemas.RAW_EXTRACTION)


def split_extraction(raw_all):
    """(raw_mentions, raw_triples, contents) views over the fused
    extraction table; contents is (episode_uuid, content), one row per
    extracted page."""
    m = raw_all.filter(F.col("kind") == "m").select(
        "episode_uuid", "group_id", "ep_valid_at", "name", "entity_type", "mention_idx"
    )
    t = raw_all.filter(F.col("kind") == "t").select(
        "episode_uuid", "group_id", "ep_valid_at", "subject", "predicate", "object",
        "fact", "valid_at", "invalid_at", "triple_idx",
    )
    e = raw_all.filter(F.col("kind") == "e").select("episode_uuid", "content")
    return m, t, e


# ---------------------------------------------------------------------------
# D3-D6 — per-name dedup features (entropy gate, shingles, LSH band keys)
# input: fuzzy-normalized name (normalize happens JVM-side, see normalize_*)
# ---------------------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=65536)
def _name_features(nf: str) -> tuple[bool, tuple, tuple]:
    """Per-executor memo: the same fuzzy name recurs across every group_id
    partition, and the minhash is the only Python-hot kernel in dedup."""
    high = K.has_high_entropy(nf)
    if not high:
        return False, (), ()
    # normalize_fuzzy is idempotent, so band_keys(nf) == band_keys(raw)
    return True, tuple(sorted(K.cached_shingles(nf))), tuple(K.band_keys(nf))


@F.pandas_udf(schemas.NAME_FEATURES)
def name_features_udf(fuzzy_name: pd.Series) -> pd.DataFrame:
    highs, shingle_lists, band_lists = [], [], []
    for nf in fuzzy_name:
        high, sh, bk = _name_features(nf or "")
        highs.append(high)
        shingle_lists.append(list(sh))
        band_lists.append(list(bk))
    return pd.DataFrame(
        {"is_high_entropy": highs, "shingles": shingle_lists, "band_keys": band_lists}
    )


# ---------------------------------------------------------------------------
# E7 — deterministic feature-hash embeddings
# ---------------------------------------------------------------------------


_EMBED_FEAT_CACHE: dict[str, tuple[int, float]] = {}


def _embed_fast(text: str, dim: int = EMBEDDING_DIM) -> list[float]:
    """Bit-identical to extraction.embed_text (same features, same addition
    order) with the per-feature blake2b memoized — corpora repeat tokens
    massively, so the hash cost amortizes to ~zero per row."""
    from hashlib import blake2b

    vec = [0.0] * dim
    cleaned = text.replace("\n", " ").lower()
    feats = cleaned.split()
    for tok in list(feats):
        if len(tok) > 3:
            feats.extend(tok[i : i + 3] for i in range(len(tok) - 2))
    cache = _EMBED_FEAT_CACHE
    for f in feats:
        hit = cache.get(f)
        if hit is None:
            d = blake2b(f.encode("utf-8"), digest_size=8).digest()
            hit = (int.from_bytes(d[:4], "big") % dim, 1.0 if d[4] & 1 else -1.0)
            if len(cache) < 2_000_000:
                cache[f] = hit
        vec[hit[0]] += hit[1]
    norm = sum(v * v for v in vec) ** 0.5
    if norm == 0.0:
        return vec
    return [v / norm for v in vec]


@F.pandas_udf(ArrayType(FloatType()))
def embed_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: _embed_fast(t or "", EMBEDDING_DIM))


# ---------------------------------------------------------------------------
# JVM-side normalization columns (D1/D2 — no Python in this path)
# ---------------------------------------------------------------------------


def normalize_exact_col(col):
    """lower + collapse whitespace + trim == kernels.normalize_exact."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalize_fuzzy_col(col):
    """keep [a-z0-9' ] of the exact form, re-collapse == kernels.normalize_fuzzy."""
    cleaned = F.regexp_replace(normalize_exact_col(col), r"[^a-z0-9' ]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))
