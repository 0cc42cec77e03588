"""Vectorized Arrow/pandas UDFs — the ONLY Python that runs on executors.

Per the BASELINE input_hint there is no per-row Python UDF anywhere in this
engine: extraction fan-out uses mapInPandas (one Arrow batch in, one
exploded Arrow batch out — no array<struct> intermediary, no shuffle), and
per-name dedup features use a scalar pandas UDF returning a struct.

All semantic logic lives in graphiti_spark.kernels / .extraction (pure
Python, shared with the oracle); these wrappers only batch it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StringType

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
# html -> text (scalar pandas UDF; byte-identical per url)
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: html_to_text(b) if b is not None else None)


# ---------------------------------------------------------------------------
# E1/E3 — extraction fan-out via mapInPandas
# expected input columns: episode_uuid, group_id, ep_valid_at, content
# ---------------------------------------------------------------------------


def mentions_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("episode_uuid", "group_id", "ep_valid_at", "name", "entity_type", "mention_idx")}
        for ep_uuid, group, ts, content in zip(
            pdf["episode_uuid"], pdf["group_id"], pdf["ep_valid_at"], pdf["content"]
        ):
            for idx, m in enumerate(extract_mentions(content or "")):
                out["episode_uuid"].append(ep_uuid)
                out["group_id"].append(group)
                out["ep_valid_at"].append(ts)
                out["name"].append(m["name"])
                out["entity_type"].append(m["entity_type"])
                out["mention_idx"].append(idx)
        pdf_out = pd.DataFrame(out)
        pdf_out["ep_valid_at"] = pd.to_datetime(pdf_out["ep_valid_at"], utc=True)
        yield pdf_out


def extract_mentions_df(episodes_df):
    """episodes(episode_uuid, group_id, ep_valid_at, content) -> RAW_MENTIONS."""
    cols = ["episode_uuid", "group_id", "ep_valid_at", "content"]
    return episodes_df.select(*cols).mapInPandas(mentions_map, schema=schemas.RAW_MENTIONS)


# fused single-pass extraction: mentions AND triples from one scan of the
# episode content (kind = 'm' | 't'), so the corpus is read and shipped to
# Python exactly once


def extract_all_map(
    batches: Iterator[pd.DataFrame], mention_fn=extract_mentions
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        cols = {
            k: []
            for k in (
                "kind", "episode_uuid", "group_id", "ep_valid_at",
                "name", "entity_type", "mention_idx",
                "subject", "predicate", "object", "fact", "valid_at", "invalid_at",
                "triple_idx",
            )
        }

        def base(kind, ep_uuid, group, ts):
            cols["kind"].append(kind)
            cols["episode_uuid"].append(ep_uuid)
            cols["group_id"].append(group)
            cols["ep_valid_at"].append(ts)

        for ep_uuid, group, ts, content in zip(
            pdf["episode_uuid"], pdf["group_id"], pdf["ep_valid_at"], pdf["content"]
        ):
            text = content or ""
            for idx, m in enumerate(mention_fn(text)):
                base("m", ep_uuid, group, ts)
                cols["name"].append(m["name"])
                cols["entity_type"].append(m["entity_type"])
                cols["mention_idx"].append(idx)
                for k in ("subject", "predicate", "object", "fact", "valid_at", "invalid_at"):
                    cols[k].append(None)
                cols["triple_idx"].append(None)
            ref_time = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            for t_idx, t in enumerate(extract_triples(text, ref_time)):
                base("t", ep_uuid, group, ts)
                cols["name"].append(None)
                cols["entity_type"].append(None)
                cols["mention_idx"].append(None)
                cols["subject"].append(t["subject"])
                cols["predicate"].append(t["predicate"])
                cols["object"].append(t["object"])
                cols["fact"].append(t["fact"])
                cols["valid_at"].append(t["valid_at"])
                cols["invalid_at"].append(t["invalid_at"])
                cols["triple_idx"].append(t_idx)
        out = pd.DataFrame(cols)
        # arrow needs consistent dtypes even for EMPTY frames (a batch with
        # zero extractions materializes float64 columns otherwise)
        for c in ("valid_at", "invalid_at", "ep_valid_at"):
            out[c] = pd.to_datetime(out[c], utc=True)
        for c in ("mention_idx", "triple_idx"):
            out[c] = out[c].astype("Int64")
        yield out


def extract_all_df(episodes_df, reflexion: bool = False):
    """Fused one-scan extraction; `reflexion=True` adds the E2 second-pass
    mention family (extraction.extract_mentions_with_reflexion) — opt-in,
    mirroring the reference's MAX_REFLEXION_ITERATIONS=0 default-off."""
    from functools import partial

    from graphiti_spark.extraction import extract_mentions_with_reflexion

    fn = (
        partial(extract_all_map, mention_fn=extract_mentions_with_reflexion)
        if reflexion
        else extract_all_map
    )
    cols = ["episode_uuid", "group_id", "ep_valid_at", "content"]
    return episodes_df.select(*cols).mapInPandas(fn, schema=schemas.RAW_EXTRACTION)


def split_extraction(raw_all):
    """(raw_mentions, raw_triples) views over the fused extraction table."""
    from pyspark.sql import functions as F

    m = raw_all.filter(F.col("kind") == "m").select(
        "episode_uuid", "group_id", "ep_valid_at", "name", "entity_type", "mention_idx"
    )
    t = raw_all.filter(F.col("kind") == "t").select(
        "episode_uuid", "group_id", "ep_valid_at", "subject", "predicate", "object",
        "fact", "valid_at", "invalid_at", "triple_idx",
    )
    return m, t


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
