"""Large-scale training-data pipeline operators over a `documents` corpus.

Beyond the reference's KG operators, a 100 TB webtext engine needs the
curation stages every training-data pipeline runs: deduplication (exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup), approximate
similarity search, text analysis (language-ID, quality scoring, token
stats, fingerprinting) and multimodal column plumbing. All hot-path logic
is JVM-side (split/regexp/md5/zip_with/aggregate inside whole-stage
codegen); Python appears only as Arrow-batched pandas UDFs for the hash
kernels (minhash/simhash) — never per-row.

Scale notes:
- exact/fingerprint dedup: one md5 groupBy — a single shuffle on the hash,
  uniformly distributed by construction (no skew possible).
- minhash-LSH and simhash: |docs| × bands rows shuffle through
  operators/pairs.banded_pairs, the band self-join node dedup uses too;
  minhash caps hot buckets (deliberately-approximate blocking), simhash's
  16-bit bands stay uncapped.
- token-Jaccard: quadratic *within a language block* — correct at oracle
  scale; at 100 TB use minhash_neardup_pairs as the blocked scale path and
  keep this as the verifier on sampled buckets.
- cosine near-dup: one distributed block-grid self-join (_grid_cosine_pairs,
  exact all-pairs, no driver collect; grouped by k-means cluster for
  SemDeDup) over kernels.int_cosine; two sub-quadratic approximate paths,
  lsh_bucketed_ann (data-oblivious random-hyperplane buckets) and ivf_topk
  (data-adaptive k-means inverted lists, FAISS IVF-Flat shape), end in
  search.cos_rank like the brute-force cosine_topk.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphiti_spark.operators.pairs import banded_pairs
from graphiti_spark.search import cos_rank, cosine_topk, normed, quantize_col

# ---------------------------------------------------------------------------
# exact dedup + fingerprinting (hash-groupBy)
# ---------------------------------------------------------------------------


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Spread a tiny scan before compute-heavy per-row work.

    A small parquet table arrives as ONE split (a single row group cannot
    be subdivided), which would serialize the expensive per-row stage that
    follows — interpreted shingle expressions, hashing pandas UDFs — on a
    single core. Round-robin repartition moves only the raw input bytes,
    BEFORE any derived expression exists. At cluster scale the scan
    already arrives in >= defaultParallelism splits and this is a no-op,
    so the full corpus is never shuffled."""
    sc = df.sparkSession.sparkContext
    if not sc.master.startswith("local"):
        # on a real cluster the scan already arrives in >= parallelism
        # splits, and localCheckpoint's non-replicated blocks would make an
        # executor loss after materialization unrecoverable (job failure
        # instead of lineage recompute) — this helper is a local-mode-only
        # fixup, so skip it (also skipping the getNumPartitions plan
        # compile) everywhere else
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        # the lazy localCheckpoint cuts the plan at the exchange: without
        # it the optimizer pushes filters (whose conditions re-evaluate the
        # expensive derived expressions) below the repartition, back onto
        # the single scan partition
        return df.repartition(sc.defaultParallelism).localCheckpoint(eager=False)
    return df


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: fingerprint, keeper (min id), copy count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col).alias("id"))
        .groupBy("fp")
        .agg(F.min("id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def normalized_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """md5 of whitespace-normalized lowercase text — the cheap near-exact
    dedup key (catches case/whitespace-only variants)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(F.col(id_col).alias("id"), F.md5(norm).alias("fp"))


# ---------------------------------------------------------------------------
# n-gram (token-set) Jaccard near-dup — the SQL-verifiable quadratic form
# ---------------------------------------------------------------------------


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.85,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
) -> DataFrame:
    """Same-block pairs (a < b) with token-set Jaccard >= threshold.

    Output: a_id, b_id, jac_x10000 (bigint — integer-derived, engine-exact).

    Candidates come from LOSSLESS prefix filtering (see
    _hashed_set_jaccard_pairs): the self-join key is (block, rare prefix
    token), so candidate volume is output-sensitive instead of quadratic
    inside a dup-dense block. Zero-token docs are dropped outright: their
    Jaccard is NULL in both engines and never passes the filter.
    """
    t = _spread_small_input(docs).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.array_distinct(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")).alias(
            "toks_s"
        ),
    )
    return _hashed_set_jaccard_pairs(t, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
) -> DataFrame:
    """Same-block pairs (a < b) with word n-gram (shingle) set Jaccard >=
    threshold — the order-sensitive exact near-dup judgment (token-set
    Jaccard ignores word order; n-grams don't). Shingle convention matches
    doc_minhash_features / the reference dedup kernel: a document shorter
    than n words contributes its whole text as one shingle; shingles are
    distinct. Output: a_id, b_id, jac_x10000. Same lossless
    prefix-filtering candidate machinery as token_jaccard_pairs."""
    w = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    t0 = _spread_small_input(docs).select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), w.alias("w")
    ).filter(F.size("w") >= 1)
    sh = F.when(
        F.size("w") < n, F.array(F.concat_ws(" ", F.col("w")))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
        )
    )
    t = t0.select("id", "blk", F.array_distinct(sh).alias("toks_s"))
    return _hashed_set_jaccard_pairs(t, threshold)


def _hashed_set_jaccard_pairs(t: DataFrame, threshold: float) -> DataFrame:
    """Shared body of token_jaccard_pairs / ngram_jaccard_pairs: input
    t(id, blk, toks_s array<string> DISTINCT elements); emits same-block
    (a < b, jac >= threshold) pairs.

    Candidate generation is LOSSLESS prefix filtering (the AllPairs/PPJoin
    principle): under one global token order, any pair with J >= t — which
    forces overlap >= ceil(t * max(|A|,|B|)) — must share a token inside
    each side's first |X| - ceil(t*|X|) + 1 tokens. The global order is
    (per-block document frequency ASC, hash), so every prefix holds its
    document's RAREST tokens: prefix posting lists stay short by
    construction and the candidate self-join never builds a hot-token
    quadratic cell — the frequent tokens that would create one are sorted
    out of every prefix. Compared to size-bucket blocking this moves the
    join key from (block, size bucket) — near-quadratic inside a dup-dense
    block — to (block, rare token), which is output-sensitive. The exact
    integer size-ratio filter plus the exact Jaccard verification define
    the output, so the DuckDB oracle needs no mirror of any of this."""
    thr = int(round(threshold * 10000))
    # intersect 64-bit token hashes, not strings: set sizes are identical
    # (collision odds ~|vocab|^2/2^64) and per-pair hashing is ~10x cheaper
    t = t.select(
        "id",
        "blk",
        F.transform("toks_s", lambda x: F.xxhash64(x)).alias("toks"),
        F.size("toks_s").cast("long").alias("n"),
    ).filter(F.col("n") >= 1)
    # tokenization (the expensive interpreted shingle expressions) runs
    # exactly ONCE: document frequency comes from a window over the
    # token-level frame (one shuffle, no self-join), the per-doc rare-first
    # sort + prefix slice happen in the groupBy that follows, and the
    # resulting doc frame — which carries BOTH the prefix and the full
    # sorted hash array for verification — is lazily localCheckpointed so
    # its four downstream consumers (a/b candidate sides, a/b verify
    # re-attach) scan the materialized copy instead of re-tokenizing.
    # localCheckpoint (not persist) so the blocks are GC-released with the
    # returned DataFrame.
    tok = t.select("id", "blk", "n", F.explode("toks").alias("h"))
    tok = tok.withColumn("df", F.count("*").over(Window.partitionBy("blk", "h")))
    # prefix length p = n - ceil(t*n) + 1, integer-exact:
    # ceil(n*thr/10000) = floor((n*thr + 9999)/10000)
    p = (F.col("n") - F.floor((F.col("n") * thr + F.lit(9999)) / 10000) + 1).cast("int")
    d = (
        tok.groupBy("id", "blk", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("st"))
        .select(
            "id",
            "blk",
            "n",
            F.transform("st", lambda s: s["h"]).alias("toks"),
            F.slice(F.transform("st", lambda s: s["h"]), F.lit(1), p).alias("prefix"),
        )
        .localCheckpoint(eager=False)
    )
    a = d.select(
        "blk",
        F.col("id").alias("a_id"),
        F.col("n").alias("a_n"),
        F.explode("prefix").alias("h"),
    )
    b = d.select(
        "blk",
        F.col("id").alias("b_id"),
        F.col("n").alias("b_n"),
        F.explode("prefix").alias("h"),
    )
    # exact size-ratio prefilter: J(A,B) <= min/max sizes, so J >= t requires
    # |A|*10000 >= |B|*t*10000 both ways — integer arithmetic so the oracle
    # SQL applies the identical cut. (It also discharges the |B| >= t*|A|
    # premise the per-side prefix length relies on.) A pair sharing several
    # prefix tokens appears once: dropDuplicates runs on the SCALAR pair
    # rows, before the wide token arrays are re-attached.
    pairs = (
        a.join(b, on=["blk", "h"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            (F.col("a_n") * 10000 >= F.col("b_n") * thr)
            & (F.col("b_n") * 10000 >= F.col("a_n") * thr)
        )
        .select("a_id", "b_id", "a_n", "b_n")
        .dropDuplicates(["a_id", "b_id"])
    )
    toks = d.select("id", "toks")
    pairs = pairs.join(
        toks.select(F.col("id").alias("a_id"), F.col("toks").alias("a_toks")), on="a_id"
    ).join(toks.select(F.col("id").alias("b_id"), F.col("toks").alias("b_toks")), on="b_id")
    # |A ∪ B| = |A| + |B| - |A ∩ B| for distinct token sets: one hash-build
    # per pair instead of two
    inter = F.size(F.array_intersect("a_toks", "b_toks")).cast("long")
    jac = inter.cast("double") / (F.col("a_n") + F.col("b_n") - inter).cast("double")
    return (
        pairs.withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select(
            "a_id", "b_id", F.round(F.col("jac") * 10000).cast("long").alias("jac_x10000")
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup over word shingles (the scale path)
# ---------------------------------------------------------------------------

DOC_MINHASH_PERMS = 64
DOC_BAND_SIZE = 8
DOC_SHINGLE_WORDS = 5

_DOC_FEATURES = StructType(
    [
        StructField("band_keys", ArrayType(LongType()), False),
        StructField("sig", ArrayType(LongType()), False),
    ]
)


_MINHASH_MASKS = None


def _doc_minhash_batch(texts: pd.Series) -> pd.DataFrame:
    import numpy as np
    from hashlib import blake2b, md5

    global _MINHASH_MASKS
    if _MINHASH_MASKS is None:
        # splitmix64-style derived permutations of one strong base hash —
        # one digest per shingle instead of 64 (10x cheaper, same
        # collision behavior); min over (base ^ mask) * odd-constant.
        # The base hash is md5's lower 8 bytes little-endian — exactly
        # DuckDB's md5_number_lower(s) — so the whole signature is
        # SQL-recomputable and the dedup_minhash_lsh driver entry gets a
        # true value-level oracle instead of a rows-only check.
        _MINHASH_MASKS = (
            np.uint64(0x9E3779B97F4A7C15)
            * np.arange(1, DOC_MINHASH_PERMS + 1, dtype=np.uint64)
        )[:, None]
    mult = np.uint64(0xBF58476D1CE4E5B9)
    topbit = np.uint64(1 << 63)

    band_lists, sigs = [], []
    nb = DOC_MINHASH_PERMS // DOC_BAND_SIZE
    old = np.seterr(over="ignore")
    try:
        for txt in texts:
            toks = (txt or "").split()
            if len(toks) < DOC_SHINGLE_WORDS:
                shingle_set = {" ".join(toks)} if toks else set()
            else:
                shingle_set = {
                    " ".join(toks[i : i + DOC_SHINGLE_WORDS])
                    for i in range(len(toks) - DOC_SHINGLE_WORDS + 1)
                }
            if not shingle_set:
                band_lists.append([])
                sigs.append([])
                continue
            base = np.fromiter(
                (
                    int.from_bytes(md5(s.encode()).digest()[8:], "little")
                    for s in shingle_set
                ),
                dtype=np.uint64,
                count=len(shingle_set),
            )
            sig = ((base[None, :] ^ _MINHASH_MASKS) * mult).min(axis=1)
            keys = []
            for bidx in range(nb):
                band = sig[bidx * DOC_BAND_SIZE : (bidx + 1) * DOC_BAND_SIZE]
                d = blake2b(
                    (str(bidx) + "|" + "|".join(map(str, band))).encode(), digest_size=8
                ).digest()
                keys.append(int.from_bytes(d, "big") - (1 << 63))
            band_lists.append(keys)
            # v - 2^63 as int64 == flip the top bit, reinterpret signed
            sigs.append((sig ^ topbit).view(np.int64).tolist())
    finally:
        np.seterr(**old)
    return pd.DataFrame({"band_keys": band_lists, "sig": sigs})


doc_minhash_udf = F.pandas_udf(_DOC_FEATURES)(_doc_minhash_batch)

LSH_DOC_BUCKET_CAP = 128


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH-blocked near-dup pairs; estimated Jaccard = signature agreement.

    Output: a_id, b_id, est_jac (double). Band-join shuffle is the only
    quadratic-risk stage; buckets above LSH_DOC_BUCKET_CAP are dropped
    (same deliberate approximation as node dedup).
    """
    # the hashing pandas UDF is the expensive stage and the feature frame
    # has four downstream consumers (bucket sizes, bucket join, a/b pair
    # sides) — spread the scan, hash once, let GC release the blocks
    feat = (
        _spread_small_input(docs)
        .select(F.col(id_col).alias("id"), doc_minhash_udf(F.col(text_col)).alias("f"))
        .select("id", F.col("f.band_keys").alias("band_keys"), F.col("f.sig").alias("sig"))
        .localCheckpoint(eager=False)
    )
    pairs = banded_pairs(feat, "id", "band_keys", "sig", LSH_DOC_BUCKET_CAP)
    agree = F.size(
        F.filter(F.zip_with("a_sig", "b_sig", lambda x, y: (x == y).cast("int")), lambda v: v == 1)
    )
    est = agree.cast("double") / F.size("a_sig")
    return (
        pairs.withColumn("est_jac", est)
        .filter(F.col("est_jac") >= threshold)
        .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"), "est_jac")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup (64-bit, banded hamming join)
# ---------------------------------------------------------------------------


def _simhash_batch(texts: pd.Series) -> pd.Series:
    import numpy as np
    from hashlib import md5

    shifts = np.arange(64, dtype=np.uint64)[None, :]
    one = np.uint64(1)
    out = []
    # per-executor token-hash memo: vocabularies repeat heavily across docs.
    # Token hash = md5 lower 8 bytes little-endian == DuckDB
    # md5_number_lower(t), so the dedup_simhash driver entry is
    # SQL-recomputable end-to-end (value-level oracle, not rows-only).
    memo: dict[str, int] = {}
    for txt in texts:
        toks = (txt or "").split()
        if not toks:
            out.append(-(1 << 63))
            continue
        hs = np.fromiter(
            (
                memo[t]
                if t in memo
                else memo.setdefault(
                    t, int.from_bytes(md5(t.encode()).digest()[8:], "little")
                )
                for t in toks
            ),
            dtype=np.uint64,
            count=len(toks),
        )
        bits = ((hs[:, None] >> shifts) & one).astype(np.int32)
        votes = bits.sum(axis=0) * 2 - len(toks)  # (+1/-1 vote sums)
        v = int(((votes > 0).astype(np.uint64) << shifts[0]).sum())
        out.append(v - (1 << 63))
    return pd.Series(out)


simhash_udf = F.pandas_udf(LongType())(_simhash_batch)

SIMHASH_BANDS = 4  # 4 x 16-bit bands: hamming <= 3 guarantees >= 1 shared band


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded simhash join: candidates share >= 1 of 4 16-bit bands; verify
    with popcount(xor) <= max_hamming. Output: a_id, b_id, hamming."""
    # same shape as minhash: spread the single-split scan, hash once for
    # the frame's multiple consumers, GC releases the checkpoint blocks
    sh = (
        _spread_small_input(docs)
        .select(F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sh"))
        .localCheckpoint(eager=False)
    )
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("sh"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(SIMHASH_BANDS)
        ]
    )
    # uncapped: a 16-bit band bucket is the hamming <= 3 guarantee itself
    pairs = banded_pairs(sh.withColumn("bands", bands), "id", "bands", "sh", cap=None)
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"), "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup + ANN
# ---------------------------------------------------------------------------


EMB_GRID_BLOCKS = 8


def embedding_neardup_pairs(
    embs: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = EMB_GRID_BLOCKS,
) -> DataFrame:
    """All pairs (a < b) with quantized-cosine >= threshold — a fully
    distributed block-grid self-join (no driver collect, no corpus
    broadcast): rows hash into `n_blocks` blocks; each unordered block pair
    (i <= j) is one grid cell; every row replicates to the n_blocks cells it
    participates in, and each cell computes its pairs with one exact-int64
    numpy matmul. Work is the all-pairs O(n^2/2) the semantics demand, but
    spread over B(B+1)/2 independent tasks with O((n/B)*dim) memory each —
    at 100 TB raise n_blocks so a block fits an executor; lsh_bucketed_ann
    remains the sub-quadratic approximate path.

    Output: a_id, b_id, cos_x10000 — quantization (HALF_UP x1000) happens
    JVM-side via quantize_col; integer dots and IEEE sqrt/div in numpy are
    bit-identical to the DuckDB oracle's arithmetic.
    """
    rows = embs.select(F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv"))
    return _grid_cosine_pairs(rows, threshold, n_blocks)


def _grid_cosine_pairs(
    rows: DataFrame, threshold: float, n_blocks: int, group_col: str | None = None
) -> DataFrame:
    """The block-grid self-join behind embedding_neardup_pairs (ungrouped)
    and semantic_neardup_pairs (grouped by `group_col`). rows: id (long),
    qv (quantized vector)[, group_col (long)]. Output: a_id, b_id
    [, group_col], cos_x10000 for every pair a < b in one group with
    cos >= threshold."""
    import numpy as np

    from graphiti_spark.kernels import int_cosine

    b = int(n_blocks)
    thr = float(threshold)
    groups = [group_col] if group_col else []
    out_cols = ["a_id", "b_id", *groups, "cos_x10000"]
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(b))
    # row in block k participates in cells (i,k) for i<=k and (k,j) for j>k;
    # cell id = i*b + j with i <= j, so each unordered block pair is one key
    cells = rows.withColumn("blk", blk).withColumn(
        "cell",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(F.lit(0), F.col("blk")), lambda i: i * b + F.col("blk")
                ),
                F.when(
                    F.col("blk") < b - 1,
                    F.transform(
                        F.sequence(F.col("blk") + 1, F.lit(b - 1)),
                        lambda j: F.col("blk") * b + j,
                    ),
                ).otherwise(F.array().cast("array<bigint>")),
            )
        ),
    )

    def _cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ci, cj = divmod(int(key[-1]), b)
        a_side = pdf[pdf["blk"] == ci]
        b_side = pdf[pdf["blk"] == cj] if ci != cj else a_side
        empty = pd.DataFrame({c: [] for c in out_cols})
        if len(a_side) == 0 or len(b_side) == 0:
            return empty
        aid = a_side["id"].to_numpy(dtype=np.int64)
        bid = b_side["id"].to_numpy(dtype=np.int64)
        cos = int_cosine(
            np.array(a_side["qv"].tolist(), dtype=np.int64),
            np.array(b_side["qv"].tolist(), dtype=np.int64),
        )
        mask = cos >= thr
        if ci == cj:
            mask &= aid[:, None] < bid[None, :]
        ai, bi = np.nonzero(mask)
        if len(ai) == 0:
            return empty
        a_ids, b_ids = aid[ai], bid[bi]
        out = {"a_id": np.minimum(a_ids, b_ids), "b_id": np.maximum(a_ids, b_ids)}
        if group_col:
            out[group_col] = np.full(len(ai), int(key[0]), dtype=np.int64)
        out["cos_x10000"] = np.floor(cos[ai, bi] * 10000.0 + 0.5).astype(np.int64)
        return pd.DataFrame(out)

    return cells.groupBy(*groups, "cell").applyInPandas(
        _cell_pairs, schema=", ".join(f"{c} long" for c in out_cols)
    )


def ann_topk(
    embs: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: first n_queries ids vs the rest.
    Output: q_id, c_id, cos_x10000, rnk.

    Ids stay numeric end-to-end: cosine_topk's tie-break (asc c_id) must
    use the same ordering as the DuckDB oracle's numeric ORDER BY — a
    string cast would rank '10' before '9' on cosine ties."""
    q = embs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = embs.filter(F.col(id_col) >= n_queries).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    out = cosine_topk(q, c, k=k)
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("c_id").cast("long").alias("c_id"),
        F.round(F.col("cos") * 10000).cast("long").alias("cos_x10000"),
        "rnk",
    )


N_LSH_TABLES = 10
N_LSH_BITS = 6
N_PROBE_BITS = 1


def _lsh_planes(n_planes: int, dim: int):
    """Deterministic Rademacher hyperplanes: component (p, i) is +1 when
    the first hex nibble of md5('lshplane:p:i') is < 8, else -1 — the
    exact rule the DuckDB oracle twin recomputes (engine-exact signs over
    integer-quantized vectors)."""
    import hashlib

    import numpy as np

    return np.array(
        [
            [
                1 if int(hashlib.md5(f"lshplane:{p}:{i}".encode()).hexdigest()[0], 16) < 8 else -1
                for i in range(dim)
            ]
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )


def lsh_bucketed_ann(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_LSH_TABLES,
    n_bits: int = N_LSH_BITS,
    probe_bits: int = N_PROBE_BITS,
) -> DataFrame:
    """Scale-path ANN: multi-table random-hyperplane LSH with 1-bit
    multiprobe, exact cosine rerank inside the candidate union.

    Each of `n_tables` tables signs the vector against `n_bits` seeded
    hyperplanes; a candidate is anyone sharing a (table, signature) bucket
    with the query, where the query additionally probes every signature
    within hamming distance `probe_bits` (0 disables probing). Recall for
    a neighbor at angle theta: per-plane agreement p = 1 - theta/pi, so
    recall = 1 - (1 - P_ham<=probe(p, n_bits))^n_tables — tunable to any
    target by (n_tables, n_bits). Defaults (10 tables x 6 bits, 1-bit
    probe) measure >= 0.9 recall@10 even on a near-orthogonal corpus
    (top-10 cosine ~0.3; tests/test_dedup_recall.py pins both recall and
    candidate pruning). At 100 TB raise n_bits ~ log2(n / target bucket
    size): pruning improves exponentially in n_bits while the planted
    near-dup recall (cos >= 0.9, p ~ 0.9) stays high; on a corpus whose
    neighbors are barely above random alignment no LSH family can both
    recall and prune — that is a data property, not an index defect.
    The candidate index is n_tables rows per vector (the standard L-table
    storage cost); queries are broadcast.

    Hyperplanes are DETERMINISTIC Rademacher (+-1) vectors keyed by md5
    ('lshplane:<plane>:<dim>', sign = first hex nibble < 8) over the
    1e-3-quantized vectors, so bucket membership is integer-exact and
    SQL-recomputable — the driver's DuckDB twin rebuilds the identical
    buckets and the entry is value-checked end-to-end, not rows-only.
    Sign-random-projection only needs a symmetric component distribution,
    so Rademacher planes keep the 1 - theta/pi agreement rate of gaussian
    ones (recall re-pinned by tests/test_dedup_recall.py)."""
    import numpy as np

    dim = int(embs.select(F.size(vec_col).alias("d")).first()["d"])
    planes = _lsh_planes(n_tables * n_bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        q = (np.sign(mat) * np.floor(np.abs(mat) * 1000.0 + 0.5)).astype(np.int64)
        signs = (q @ planes.T) > 0  # (n, tables*bits), exact int64 dots
        sigs = signs.reshape(len(vecs), n_tables, n_bits).astype(np.int64) @ weights
        return pd.Series(list(sigs))

    cb = normed(
        embs.select(
            F.col(id_col).cast("string").alias("c_id"),
            quantize_col(F.col(vec_col)).alias("cv"),
            F.posexplode(sig_udf(F.col(vec_col))).alias("tbl", "sig"),
        ),
        "c",
    )
    qb = normed(
        queries.select(
            F.col(id_col).cast("string").alias("q_id"),
            quantize_col(F.col(vec_col)).alias("qv"),
            F.posexplode(sig_udf(F.col(vec_col))).alias("tbl", "sig"),
        ),
        "q",
    )
    if probe_bits >= 1:
        # probe every 1-bit flip of the signature (hamming <= 1 covered);
        # generated JVM-side so the index side stays single-signature
        qb = qb.withColumn(
            "sig",
            F.explode(
                F.expr(
                    f"concat(array(sig), transform(sequence(0, {n_bits - 1}),"
                    " i -> sig ^ shiftleft(1, i)))"
                )
            ),
        )
    joined = (
        cb.join(F.broadcast(qb), on=["tbl", "sig"])
        .filter(F.col("q_id") != F.col("c_id"))
        .dropDuplicates(["q_id", "c_id"])
    )
    return cos_rank(joined, k)


IVF_N_CENTROIDS = 32
IVF_N_PROBE = 4
IVF_LLOYD_ITERS = 5
IVF_TRAIN_SAMPLE = 4096


def ivf_topk(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = IVF_N_CENTROIDS,
    n_probe: int = IVF_N_PROBE,
    iters: int = IVF_LLOYD_ITERS,
) -> DataFrame:
    """IVF-Flat ANN: k-means coarse quantizer, exact cosine rerank inside
    the probed inverted lists. Output: q_id, c_id, cos, rnk.

    The complementary scale path to lsh_bucketed_ann: LSH is data-oblivious
    (recall guaranteed by table multiplicity, any distribution), IVF is
    data-adaptive (centroids follow the corpus's cluster structure, so on
    clustered data it prunes to ~n_probe/n_centroids of the corpus with
    near-perfect recall — the FAISS IndexIVFFlat contract).

    Training follows standard practice (FAISS trains coarse quantizers on
    a bounded sample): a deterministic ~IVF_TRAIN_SAMPLE-row sample comes
    to the driver — O(sample x dim) memory regardless of corpus size — and
    runs seeded spherical Lloyd iterations in numpy. Assignment of the
    full corpus is distributed: centroids broadcast inside an Arrow-batched
    pandas UDF, one matmul argmax per batch, then an equi-join on the cell
    id (queries probe their n_probe nearest cells). At 100 TB raise
    n_centroids ~ sqrt(n) so lists stay bounded; the cell equi-join is the
    only shuffle and cell ids are near-uniform by construction (k-means
    balances mass), so no salting is needed. Brute-force ann_topk is the
    recall oracle (tests/test_dedup_recall.py pins recall and pruning)."""
    import numpy as np

    # deterministic bounded training sample: xxhash64 orders rows by a
    # seed-stable pseudo-random key without a full sort-shuffle (TABLESAMPLE
    # needs a fraction, which needs a count — this is one pass + limit)
    sample = (
        embs.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(IVF_TRAIN_SAMPLE)
        .collect()
    )
    x = np.array([np.asarray(r["v"], dtype=np.float64) for r in sample])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    k_eff = min(n_centroids, len(x))
    rng = np.random.RandomState(11)
    cents = x[rng.choice(len(x), size=k_eff, replace=False)]
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for ci in range(k_eff):
            members = x[assign == ci]
            if len(members):
                c = members.mean(axis=0)
                cents[ci] = c / max(np.linalg.norm(c), 1e-12)
        # dead cells re-seeded from the point farthest from its centroid,
        # deterministically, so every list carries mass
        sims = (x @ cents.T).max(axis=1)
        for ci in set(range(k_eff)) - set(assign):
            cents[ci] = x[sims.argmin()]

    def cells_udf(n_cells: int):
        @F.pandas_udf(ArrayType(LongType()))
        def f(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            # stable sort: deterministic probe order under cosine ties
            order = np.argsort(-(mat @ cents.T), axis=1, kind="stable")[:, :n_cells].astype(
                np.int64
            )
            return pd.Series(list(order))

        return f

    # ids keep their incoming type: the cosine tie-break (asc c_id) must
    # sort the same way as a numeric oracle ORDER BY — a string cast would
    # rank '10' before '9' (same lesson as ann_topk)
    cb = normed(
        embs.select(
            F.col(id_col).alias("c_id"),
            quantize_col(F.col(vec_col)).alias("cv"),
            # index side stores each vector in exactly ONE inverted list
            F.explode(cells_udf(1)(F.col(vec_col))).alias("cell"),
        ),
        "c",
    )
    qb = normed(
        queries.select(
            F.col(id_col).alias("q_id"),
            quantize_col(F.col(vec_col)).alias("qv"),
            F.explode(cells_udf(min(n_probe, k_eff))(F.col(vec_col))).alias("cell"),
        ),
        "q",
    )
    joined = cb.join(F.broadcast(qb), on="cell").filter(F.col("q_id") != F.col("c_id"))
    return cos_rank(joined, k)


# ---------------------------------------------------------------------------
# text analysis: language-ID, quality, token stats
# ---------------------------------------------------------------------------

EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "was", "for"]
LANG_ID_THRESHOLD = 0.05

SPLIT_BUCKETS = 10_000  # hash_split basis points; weights resolve to 1e-4


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test split assignment (the reproducible
    subsampling every training-data pipeline needs): bucket = the first 48
    bits of md5(id || salt) mod 10000, mapped to split names by cumulative
    weight in basis points. Pure column expressions — stateless,
    embarrassingly parallel, and the SAME row lands in the same split on
    any cluster, any partitioning, any engine (DuckDB twin:
    CAST(concat('0x', substr(md5(s),1,12)) AS BIGINT) % 10000).
    Output: id, bucket, split."""
    if not weights:
        raise ValueError("weights must name at least one split")
    # integer basis points PER WEIGHT (then cumulated): rounding each
    # weight independently keeps every interior boundary independent of
    # float accumulation order — round(cum * 10000) could shift a boundary
    # by 1 bp depending on which weights preceded it
    cum, bounds = 0, []
    for name, wt in weights.items():
        cum += int(round(wt * SPLIT_BUCKETS))
        bounds.append((name, cum))
    if bounds[-1][1] != SPLIT_BUCKETS:
        raise ValueError(
            f"weights must sum to 1.0 (in 1e-4 steps), got {bounds[-1][1]} basis points"
        )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 12), 16, 10).cast("long"),
        F.lit(SPLIT_BUCKETS),
    )
    expr = F.lit(bounds[-1][0])
    for name, hi in reversed(bounds[:-1]):
        expr = F.when(F.col("bucket") < hi, F.lit(name)).otherwise(expr)
    # evaluate the (possibly long) when-chain against the named column; the
    # chain is built high-to-low so the FIRST bound that covers the bucket
    # wins, exactly matching a cumulative CASE in SQL
    return docs.select(
        F.col(id_col).alias("id"), bucket.alias("bucket")
    ).withColumn("split", expr)


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — the data-mixing
    primitive (up/down-weight domains or languages to a target
    distribution, DoReMi/Pile-style). A row is kept iff its hash bucket
    (first 48 bits of md5(id || salt) mod 10000) falls below its stratum's
    keep-fraction in basis points; strata absent from `fractions` use
    `default_fraction`.

    Same determinism contract as hash_split: the SAME row survives on any
    cluster, any partitioning, any engine — and because the bucket depends
    only on the id, samples drawn at different fractions are NESTED
    (fraction 0.1 ⊂ fraction 0.2), which makes scaling-law subsamples
    comparable. The fraction map compiles to a literal CASE chain (no
    join, no broadcast, stateless whole-stage codegen).
    Output (kept rows only): id, stratum, bucket."""
    frac_bp = {k: int(round(v * SPLIT_BUCKETS)) for k, v in fractions.items()}
    for name, bp in frac_bp.items():
        if not 0 <= bp <= SPLIT_BUCKETS:
            raise ValueError(f"fraction for {name!r} outside [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction outside [0, 1]")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 12
            ),
            16,
            10,
        ).cast("long"),
        F.lit(SPLIT_BUCKETS),
    )
    thresh = F.lit(int(round(default_fraction * SPLIT_BUCKETS)))
    for name, bp in frac_bp.items():
        thresh = F.when(F.col("stratum") == name, F.lit(bp)).otherwise(thresh)
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(strata_col).alias("stratum"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < thresh)
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 2,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level n-gram frequency profile: the k most frequent word
    n-grams with total occurrence and document-frequency counts (the
    corpus-analysis pass behind boilerplate discovery and contamination
    triage). Ties broken by gram text ascending, so the result set is
    deterministic on any partitioning.

    Shape at 100 TB: per-(doc, gram) counts first — partial-aggregatable,
    so hot grams ('of the', cookie-banner phrases) combine map-side before
    the shuffle — then one global groupBy(gram) whose key space is already
    collapsed per doc, and a TakeOrdered top-k (no full sort).
    Output: gram, n_occurrences, n_docs."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    t = _spread_small_input(docs).select(F.col(id_col).alias("id"), toks.alias("w"))
    grams = t.filter(F.size("w") >= n).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("w"), i, n), " "),
            )
        ).alias("gram"),
    )
    per_doc = grams.groupBy("id", "gram").agg(F.count("*").alias("c"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


def repetition_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition features over word 2-grams (Rae et al. 2021
    repetition filters, the C4/Gopher 'duplicate n-gram fraction' rule):
    per document, total 2-gram occurrences, the count of the most frequent
    2-gram, and the number of occurrences belonging to 2-grams seen more
    than once. All integers — engine-exact against the DuckDB twin.
    Documents with fewer than two tokens have no 2-grams and are omitted
    (their repetition is undefined in both engines).
    Output: id, n_2grams, top_2gram_n, dup_2gram_n."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    t = _spread_small_input(docs).select(F.col(id_col).alias("id"), toks.alias("w"))
    grams = t.filter(F.size("w") >= 2).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("w"), i), F.element_at(F.col("w"), i + 1)
                ),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("id", "gram").agg(F.count("*").alias("n"))
    return per_gram.groupBy("id").agg(
        F.sum("n").cast("long").alias("n_2grams"),
        F.max("n").cast("long").alias("top_2gram_n"),
        F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("dup_2gram_n"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language detector (en vs other). Output: id,
    predicted_lang, stop_ratio_x1e6 — integer-derived, engine-exact."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    stops = F.filter(toks, lambda x: F.lower(x).isin(EN_STOPWORDS))
    n_tok = F.size(toks)
    ratio = F.when(n_tok > 0, F.size(stops).cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )
    return docs.select(
        F.col(id_col).alias("id"),
        F.when(ratio >= LANG_ID_THRESHOLD, F.lit("en")).otherwise(F.lit("other")).alias(
            "predicted_lang"
        ),
        F.round(ratio * 1000000).cast("long").alias("stop_ratio_x1e6"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, distinct-token ratio, mean
    token length — the length/diversity heuristics of C4-style filters.
    All integer-derived columns."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return docs.select(
        F.col(id_col).alias("id"),
        n_tok.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq_tokens"),
        F.when(n_tok > 0, F.round(n_uniq.cast("double") / n_tok.cast("double") * 1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("uniq_ratio_x1e6"),
        F.when(n_tok > 0, F.round(sum_len.cast("double") / n_tok.cast("double") * 100))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_tok_len_x100"),
    )


# GPT-2-style pre-tokenizer, restricted to constructs both Java regex
# (Spark) and RE2 (DuckDB) support with identical leftmost-first
# alternation: contraction suffixes, letter runs, digit runs, punctuation
# runs. (The original GPT-2 pattern's \s+(?!\S) lookahead is RE2-illegal,
# so whitespace is simply not counted — BPE tokenizers fold it into the
# following word anyway.)
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}']+"


def bpe_token_count(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc token counts under BOTH counting conventions a training-data
    budget needs: whitespace words and a BPE-ish pre-tokenizer regex
    (letter runs / digit runs / punctuation runs / contraction suffixes —
    the GPT-2 pre-tokenization shape). Pure JVM regexp_count, no Python.
    Output: id, n_ws_tokens, n_bpe_tokens."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != ""))
    return docs.select(
        F.col(id_col).alias("id"),
        ws.cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN)).cast("long").alias(
            "n_bpe_tokens"
        ),
    )


def token_stats(
    docs: DataFrame, group_cols: list[str], text_col: str = "text"
) -> DataFrame:
    """Corpus token accounting per group: docs, tokens, avg tokens/doc."""
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != ""))
    return (
        docs.withColumn("n_tok", toks.cast("long"))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.sum("n_tok").cast("double") / F.count("*").cast("double") * 100)
            .cast("long")
            .alias("avg_tokens_x100"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup (the first stage of every web-crawl pipeline:
# the same page arrives under scheme/host-case, www., default-port,
# tracking-param, fragment and trailing-slash variants)
# ---------------------------------------------------------------------------


def url_normalize(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Canonicalize http(s) URLs with the standard crawl-dedup rules:
    lowercase scheme+host, strip a leading `www.`, strip the scheme's
    default port (:80 / :443), drop the fragment, drop `utm_*` tracking
    params, sort the surviving query params, strip trailing slashes from
    the path. Pure JVM regexp/array expressions (whole-stage codegen) with
    a character-level DuckDB twin. Output: id, canonical_url."""
    url = F.col(url_col)
    scheme = F.lower(F.regexp_extract(url, r"^([^:/?#]+)://", 1))
    rem = F.regexp_replace(url, r"^[^:/?#]+://", "")
    auth = F.lower(F.regexp_extract(rem, r"^([^/?#]*)", 1))
    host = F.regexp_replace(auth, r"^www\.", "")
    host = F.when(scheme == "https", F.regexp_replace(host, r":443$", "")).when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).otherwise(host)
    path = F.regexp_replace(F.regexp_extract(rem, r"^[^/?#]*([^?#]*)", 1), r"/+$", "")
    # extract the query from the PRE-fragment part only: a '?' inside the
    # fragment (SPA hash routing like '/p#!/route?x=1') is not a query
    query = F.regexp_extract(F.regexp_replace(url, r"#.*$", ""), r"\?(.*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (F.length(x) > 0) & (x.substr(1, 4) != "utm_"),
        )
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))).otherwise(
            F.lit("")
        ),
    )
    return docs.select(F.col(id_col).alias("id"), canonical.alias("canonical_url"))


def url_dedup(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Exact dedup by canonical URL: one hash groupBy on the canonical
    string (uniform, skew-free — same shape as exact_dedup), keeping the
    lowest id as the winner. Output: canonical_url, keep_id, n_dups."""
    return (
        url_normalize(_spread_small_input(docs), id_col, url_col)
        .groupBy("canonical_url")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# corpus-level exact line dedup (CCNet-style: boilerplate lines — navbars,
# cookie banners, footers — repeat across millions of pages; keep each
# distinct line's first occurrence in (doc, position) order)
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-wide exact line dedup. A line is kept iff its (id, pos) is
    the minimum over all occurrences of that exact line content in the
    corpus (CCNet's per-shard dedup rule, made deterministic corpus-wide).

    Shape at 100 TB: explode to (line, id, pos), groupBy line with a
    min(struct) — partial-aggregatable, so the hot keys every corpus has
    (empty line, 'Home', cookie-banner text) are combined map-side before
    the shuffle — then one equi-join back on the line to mark winners.
    Output per doc: id, n_lines, n_kept, kept_md5 (md5 of the kept lines
    re-joined with \\n in original order — the cleaned-text fingerprint)."""
    lines = (
        _spread_small_input(docs)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
    )
    winners = lines.groupBy("line").agg(
        F.min(F.struct("id", "pos")).alias("w")
    )
    marked = lines.join(winners, on="line").withColumn(
        "kept", (F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos"))
    )
    return marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            )
        ).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap between a train split and a
# held-out test split — the standard pre-training hygiene check)
# ---------------------------------------------------------------------------

DECONTAM_NGRAM = 8


def ngram_decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = DECONTAM_NGRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag train documents sharing any word n-gram with any test document
    (the GPT-3/PaLM-style 13-gram decontamination rule, here n=8 so the
    synthetic corpus actually collides). Documents shorter than n tokens
    contribute their whole token sequence as one gram (the minhash shingle
    convention). The distinct-test-gram side is the small one by
    construction (held-out splits are ~5% of the corpus) and is broadcast —
    the train side streams through a map-side hash join with no shuffle of
    the train grams. Output (sparse): id, n_hit_grams for hit docs only."""

    def grams(df: DataFrame) -> DataFrame:
        toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        t = df.select(F.col(id_col).alias("id"), toks.alias("w")).filter(
            F.size("w") > 0
        )
        g = F.when(
            F.size("w") < n, F.array(F.array_join(F.col("w"), " "))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("w"), i, n), " "),
            )
        )
        return t.select("id", F.explode(F.array_distinct(g)).alias("gram"))

    test_grams = grams(test).select("gram").distinct()
    return (
        grams(train)
        .join(F.broadcast(test_grams), on="gram")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_hit_grams"))
    )


# ---------------------------------------------------------------------------
# PII detection + redaction (regex scrub — the compliance pass every
# training-data pipeline runs before tokenization)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 dialect so the Spark plan and
# the DuckDB oracle compile the same automaton: no lookaround, no
# backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Count and redact emails / IPv4 addresses / US-style phone numbers.
    Counts are measured on the ORIGINAL text per pattern (independent, so
    the numbers are auditable); redaction is sequential email → ip → phone
    (emails may contain digit runs, so they are replaced first). All
    regexp_count/regexp_replace — JVM-side, no Python. Output: id,
    n_emails, n_ipv4, n_phones, redacted_md5, redacted_len."""
    text = F.col(text_col)
    red = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("id"),
        F.regexp_count(text, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(PII_IPV4)).cast("long").alias("n_ipv4"),
        F.regexp_count(text, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


# ---------------------------------------------------------------------------
# multimodal columns: opaque binary + typed metadata. Decode is REAL for
# every format whose spec needs no external codec: BMP (raw pixel array),
# PNG (stdlib zlib inflate + spec filters 0-4), PCM16 WAV, Y4M raw video;
# JPEG gets a real dimension parse (SOF marker walk) but pixel decode
# honestly requires a DCT codec absent in this container.
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("format", StringType(), True),
    ]
)


def _bmp_header(raw: bytes) -> tuple[int, int, int, int, int] | None:
    """Parse a BITMAPFILEHEADER + BITMAPINFOHEADER (the public 54-byte BMP
    layout): returns (width, height, bits_per_pixel, compression,
    pixel_offset) or None if not a plausible BMP."""
    if len(raw) < 54 or raw[:2] != b"BM":
        return None
    off = int.from_bytes(raw[10:14], "little")
    width = int.from_bytes(raw[18:22], "little", signed=True)
    height = int.from_bytes(raw[22:26], "little", signed=True)
    bpp = int.from_bytes(raw[28:30], "little")
    comp = int.from_bytes(raw[30:34], "little")
    if width <= 0 or height == 0 or off < 54:
        return None
    return width, height, bpp, comp, off


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_ihdr(raw: bytes) -> tuple[int, int, int, int, int] | None:
    """Parse the PNG signature + IHDR chunk (always first, fixed 13-byte
    layout per the public spec): returns (width, height, bit_depth,
    color_type, interlace) or None if not a plausible PNG."""
    if len(raw) < 33 or raw[:8] != _PNG_SIG or raw[12:16] != b"IHDR":
        return None
    width = int.from_bytes(raw[16:20], "big")
    height = int.from_bytes(raw[20:24], "big")
    bit_depth = raw[24]
    color_type = raw[25]
    interlace = raw[28]
    if width <= 0 or height <= 0:
        return None
    return width, height, bit_depth, color_type, interlace


# channels per PNG color type (the public IHDR contract)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_decode(raw: bytes):
    """Spec-complete PNG pixel decode with no image library: stdlib zlib
    inflates the IDAT stream and the five scanline filters (None/Sub/Up/
    Average/Paeth) are inverted per the public spec. Supports 8-bit
    greyscale / RGB / grey+alpha / RGBA, non-interlaced — the shapes a
    curation pipeline meets in practice. Returns an (H, W, C) uint8 array
    or None if the blob is not decodable under those bounds.

    Up/None rows invert fully vectorized; Sub inverts via a per-pixel-lane
    modular cumsum; Average/Paeth carry a true intra-row data dependency
    (recon[x] needs recon[x-1]) so they walk pixels in Python — O(W) per
    row, fine for thumbnail-scale curation stats; a deployment swaps in a
    codec library inside this same mapInPandas loop for megapixel inputs.
    """
    import zlib

    import numpy as np

    hdr = _png_ihdr(raw)
    if hdr is None:
        return None
    width, height, bit_depth, color_type, interlace = hdr
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        return None
    nch = _PNG_CHANNELS[color_type]
    # walk chunks: IDAT segments concatenate into one zlib stream
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(raw):
        clen = int.from_bytes(raw[pos : pos + 4], "big")
        ctype = raw[pos + 4 : pos + 8]
        body_end = pos + 8 + clen
        if body_end + 4 > len(raw):
            return None  # truncated chunk
        if ctype == b"IDAT":
            idat += raw[pos + 8 : body_end]
        elif ctype == b"IEND":
            break
        pos = body_end + 4  # skip CRC
    if not idat:
        return None
    try:
        flat = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = width * nch
    if len(flat) < height * (stride + 1):
        return None
    rows = np.frombuffer(flat, dtype=np.uint8, count=height * (stride + 1))
    rows = rows.reshape(height, stride + 1)
    filters = rows[:, 0]
    data = rows[:, 1:].astype(np.int64)
    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        f = filters[y]
        row = data[y]
        if f == 0:  # None
            rec = row
        elif f == 1:  # Sub: cumsum along the pixel axis per byte lane
            rec = np.cumsum(row.reshape(width, nch), axis=0).reshape(stride)
        elif f == 2:  # Up
            rec = row + prev
        elif f == 3:  # Average
            rec = row.copy()
            for x in range(stride):
                left = rec[x - nch] if x >= nch else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = row.copy()
            for x in range(stride):
                a = rec[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            return None
        rec = rec & 0xFF
        out[y] = rec
        prev = rec
    return out.astype(np.uint8).reshape(height, width, nch)


def _jpeg_dims(raw: bytes) -> tuple[int, int] | None:
    """Real JPEG dimension parse — walk the marker stream to the first
    SOF0-SOF15 frame header (public JFIF layout); no DCT codec needed for
    metadata. Returns (width, height) or None."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            return None
        marker = raw[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        seg_len = int.from_bytes(raw[pos + 2 : pos + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > len(raw):
                return None
            height = int.from_bytes(raw[pos + 5 : pos + 7], "big")
            width = int.from_bytes(raw[pos + 7 : pos + 9], "big")
            return (width, height) if width > 0 and height > 0 else None
        if marker == 0xDA:
            return None  # scan data reached without a frame header
        pos += 2 + seg_len
    return None


def media_metadata(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """Extract metadata from opaque binary columns via mapInPandas.

    Dimensions are parsed for real from the public header layouts — BMP's
    BITMAPINFOHEADER, PNG's IHDR chunk, JPEG's SOF frame marker — no codec
    library involved; only formats whose headers are genuinely opaque
    without one keep width/height NULL. The Spark-side batch shape, schema
    and partitioning are what this function pins.
    """

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widths, heights, sizes, fmts = [], [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                raw = bytes(blob) if blob is not None else b""
                ids.append(mid)
                sizes.append(len(raw))
                width = height = None
                if raw[:2] == b"\xff\xd8":
                    fmts.append("jpeg")
                    if (jd := _jpeg_dims(raw)) is not None:
                        width, height = jd
                elif raw[:8] == _PNG_SIG:
                    fmts.append("png")
                    if (ph := _png_ihdr(raw)) is not None:
                        width, height = ph[0], ph[1]
                elif (hdr := _bmp_header(raw)) is not None:
                    fmts.append("bmp")
                    width, height = hdr[0], abs(hdr[1])
                elif _wav_header(raw) is not None:
                    fmts.append("wav")
                elif (vh := _y4m_header(raw)) is not None:
                    fmts.append("y4m")
                    width, height = vh[0], vh[1]
                else:
                    fmts.append("unknown")
                widths.append(width)
                heights.append(height)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "width": pd.array(widths, dtype="Int64"),
                    "height": pd.array(heights, dtype="Int64"),
                    "n_bytes": sizes,
                    "format": fmts,
                }
            )

    return media.select(id_col, blob_col).mapInPandas(
        _meta, schema="media_id long, width long, height long, n_bytes long, format string"
    )


def decode_media(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode image blobs to per-channel statistics — the feature-extract
    stage of a multimodal curation pipeline (used for brightness filters,
    monochrome detection, near-dup prefilters).

    REAL decode for uncompressed 24-bit BMP (BI_RGB — numpy slice over the
    public pixel-array layout: bottom-up rows padded to 4 bytes, BGR order)
    and for 8-bit non-interlaced PNG (stdlib zlib inflate + spec filter
    inversion, see _png_decode; greyscale is broadcast to RGB and alpha is
    dropped for the channel means). JPEG pixel decode requires a DCT codec
    absent in this container and comes back decoded=false / NULL stats; a
    deployment adds PIL in this same numpy loop. Output: media_id, decoded,
    width, height, mean_r_x100, mean_g_x100, mean_b_x100 (integer-scaled,
    engine-exact)."""
    import numpy as np

    def _decode_one(raw: bytes):
        if raw[:8] == _PNG_SIG:
            px = _png_decode(raw)
            if px is None:
                return None
            h, w, nch = px.shape
            if nch in (2, 4):  # drop the alpha channel for the means
                px = px[:, :, : nch - 1]
            if px.shape[2] == 1:  # greyscale -> broadcast to RGB
                px = np.repeat(px, 3, axis=2)
            means = px.reshape(-1, 3).mean(axis=0)
            return (
                w,
                h,
                int(round(float(means[0]) * 100)),
                int(round(float(means[1]) * 100)),
                int(round(float(means[2]) * 100)),
            )
        hdr = _bmp_header(raw)
        if hdr is None:
            return None
        width, height, bpp, comp, off = hdr
        if bpp != 24 or comp != 0:
            return None  # compressed / paletted BMPs need a codec table
        h = abs(height)
        stride = (width * 3 + 3) & ~3  # rows padded to 4-byte boundaries
        need = off + stride * h
        if len(raw) < need:
            return None
        arr = np.frombuffer(raw, dtype=np.uint8, count=stride * h, offset=off)
        rows = arr.reshape(h, stride)[:, : width * 3].reshape(h, width, 3)
        if height > 0:
            rows = rows[::-1]  # positive height = bottom-up storage
        # BMP stores BGR
        means = rows.reshape(-1, 3).mean(axis=0)
        return (
            width,
            h,
            int(round(float(means[2]) * 100)),
            int(round(float(means[1]) * 100)),
            int(round(float(means[0]) * 100)),
        )

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "decoded": [], "width": [], "height": [],
                "mean_r_x100": [], "mean_g_x100": [], "mean_b_x100": [],
            }
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                raw = bytes(blob) if blob is not None else b""
                got = _decode_one(raw)
                out["media_id"].append(mid)
                out["decoded"].append(got is not None)
                for key, val in zip(
                    ("width", "height", "mean_r_x100", "mean_g_x100", "mean_b_x100"),
                    got if got is not None else (None,) * 5,
                ):
                    out[key].append(val)
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "decoded": out["decoded"],
                    "width": pd.array(out["width"], dtype="Int64"),
                    "height": pd.array(out["height"], dtype="Int64"),
                    "mean_r_x100": pd.array(out["mean_r_x100"], dtype="Int64"),
                    "mean_g_x100": pd.array(out["mean_g_x100"], dtype="Int64"),
                    "mean_b_x100": pd.array(out["mean_b_x100"], dtype="Int64"),
                }
            )

    return media.select(id_col, blob_col).mapInPandas(
        _dec,
        schema=(
            "media_id long, decoded boolean, width long, height long, "
            "mean_r_x100 long, mean_g_x100 long, mean_b_x100 long"
        ),
    )


def _wav_header(raw: bytes) -> tuple[int, int, int, int, int, int] | None:
    """Parse a RIFF/WAVE container (the public chunk layout): walk the
    chunk list for ``fmt `` then ``data``; returns (n_channels,
    sample_rate, bits_per_sample, audio_format, data_offset, data_len)
    or None if not a plausible WAV."""
    if len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    pos = 12
    fmt: tuple[int, int, int, int] | None = None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        clen = int.from_bytes(raw[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt " and clen >= 16 and body + 16 <= len(raw):
            audio_format = int.from_bytes(raw[body : body + 2], "little")
            n_channels = int.from_bytes(raw[body + 2 : body + 4], "little")
            sample_rate = int.from_bytes(raw[body + 4 : body + 8], "little")
            bits = int.from_bytes(raw[body + 14 : body + 16], "little")
            fmt = (audio_format, n_channels, sample_rate, bits)
        elif cid == b"data" and fmt is not None:
            af, nch, sr, bits = fmt
            if nch <= 0 or sr <= 0:
                return None
            data_len = min(clen, len(raw) - body)
            return nch, sr, bits, af, body, data_len
        pos = body + clen + (clen & 1)  # RIFF chunks are word-aligned
    return None


def decode_audio(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode audio blobs to signal statistics — the audio leg of the
    multimodal feature-extract stage (loudness filters, silence
    detection, clipping checks before a corpus keeps an audio-text pair).

    REAL decode for 16-bit PCM WAV (RIFF audio_format=1, bits=16): the
    sample array is sliced out of the blob with numpy (little-endian
    int16, channel-interleaved — the public WAV layout), no audio
    library needed. Compressed formats (MP3/OGG/FLAC) need codecs absent
    in this container and come back decoded=false / NULL stats; a
    deployment adds its codec in this same numpy loop. Output per blob:
    sample_rate, n_channels, n_frames (per-channel sample count),
    duration_ms (floor), rms_x100 (integer-scaled, sum-of-squares kept
    in exact int64 arithmetic), peak_abs.
    """
    import math

    import numpy as np

    def _decode_one(raw: bytes):
        hdr = _wav_header(raw)
        if hdr is None:
            return None
        nch, sr, bits, af, off, dlen = hdr
        if af != 1 or bits != 16:
            return None  # non-PCM16 needs a codec table
        n_vals = dlen // 2
        if n_vals == 0:
            return None
        arr = np.frombuffer(raw, dtype="<i2", count=n_vals, offset=off)
        n_frames = n_vals // nch
        if n_frames == 0:
            return None
        # stats over COMPLETE frames only: a truncated multi-channel blob
        # leaves a dangling partial frame that n_frames/duration already
        # exclude — including it in rms/peak would make the outputs
        # internally inconsistent
        arr = arr[: n_frames * nch]
        sumsq = int(np.dot(arr.astype(np.int64), arr.astype(np.int64)))
        rms = math.sqrt(sumsq / (n_frames * nch))
        return (
            sr,
            nch,
            n_frames,
            n_frames * 1000 // sr,
            int(round(rms * 100)),
            int(np.abs(arr.astype(np.int32)).max()),
        )

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "sample_rate", "n_channels", "n_frames", "duration_ms",
            "rms_x100", "peak_abs",
        )
        for pdf in batches:
            out = {"media_id": [], "decoded": []}
            out.update({c: [] for c in cols})
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                raw = bytes(blob) if blob is not None else b""
                got = _decode_one(raw)
                out["media_id"].append(mid)
                out["decoded"].append(got is not None)
                for key, val in zip(cols, got if got is not None else (None,) * 6):
                    out[key].append(val)
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "decoded": out["decoded"],
                    **{c: pd.array(out[c], dtype="Int64") for c in cols},
                }
            )

    return media.select(id_col, blob_col).mapInPandas(
        _dec,
        schema=(
            "media_id long, decoded boolean, sample_rate long, "
            "n_channels long, n_frames long, duration_ms long, "
            "rms_x100 long, peak_abs long"
        ),
    )


def audio_frame_features(
    media: DataFrame,
    window_ms: int = 100,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Frame-sample PCM16 WAV blobs into fixed windows and emit per-frame
    RMS — the audio analogue of video frame sampling (feeds silence
    trimming, voice-activity gating, per-segment quality scores). One
    input row fans out to ceil(n_frames / window) output rows; undecodable
    blobs emit zero rows (they are filtered, not errored, matching
    decode_audio's posture). Windows are channel-merged; the tail window
    keeps its true (shorter) length in n_samples.
    """
    import math

    import numpy as np

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "n_samples": [], "rms_x100": []}
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                raw = bytes(blob) if blob is not None else b""
                hdr = _wav_header(raw)
                if hdr is None:
                    continue
                nch, sr, bits, af, off, dlen = hdr
                if af != 1 or bits != 16 or dlen < 2:
                    continue
                arr = np.frombuffer(raw, dtype="<i2", count=dlen // 2, offset=off)
                win = max(1, sr * window_ms // 1000) * nch
                sq = arr.astype(np.int64) ** 2
                for i in range(math.ceil(len(arr) / win)):
                    chunk = sq[i * win : (i + 1) * win]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["n_samples"].append(len(chunk))
                    out["rms_x100"].append(
                        int(round(math.sqrt(int(chunk.sum()) / len(chunk)) * 100))
                    )
            # explicit dtypes so an all-undecodable batch still yields
            # Arrow-castable long columns instead of empty object ones
            yield pd.DataFrame(
                {c: pd.array(v, dtype="Int64") for c, v in out.items()}
            )

    return media.select(id_col, blob_col).mapInPandas(
        _frames,
        schema="media_id long, frame_idx long, n_samples long, rms_x100 long",
    )


def _y4m_header(raw: bytes) -> tuple[int, int, int, int, str, int] | None:
    """Parse a YUV4MPEG2 stream header (the public uncompressed-video
    container: ASCII parameter line, then raw planar frames). Returns
    (width, height, fps_num, fps_den, colorspace, body_offset) or None
    if not a plausible Y4M."""
    if not raw.startswith(b"YUV4MPEG2"):
        return None
    nl = raw.find(b"\x0a", 9)
    if nl < 0:
        return None
    width = height = 0
    fps_num, fps_den, cs = 0, 1, "420"
    for tok in raw[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        try:
            if tag == b"W":
                width = int(val)
            elif tag == b"H":
                height = int(val)
            elif tag == b"F":
                num, den = val.split(b":")
                fps_num, fps_den = int(num), int(den)
            elif tag == b"C":
                cs = val.decode("ascii")
        except (ValueError, UnicodeDecodeError):
            return None
    if width <= 0 or height <= 0:
        return None
    return width, height, fps_num, fps_den, cs, nl + 1


def _y4m_frame_len(width: int, height: int, cs: str) -> int | None:
    """Bytes of raw planar data per frame for the public Y4M colorspaces
    (luma plane + two chroma planes at the subsampled size)."""
    y = width * height
    if cs.startswith("420"):  # 420, 420jpeg, 420mpeg2, 420paldv
        return y + 2 * ((width // 2) * (height // 2))
    if cs.startswith("422"):
        return y + 2 * ((width // 2) * height)
    if cs.startswith("444"):
        return 3 * y
    if cs.startswith("mono"):
        return y
    return None  # unknown colorspace: refuse rather than misparse


def decode_video(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode video blobs to container statistics — the video leg of the
    multimodal feature-extract stage (duration filters, resolution gates,
    frame-count sanity before a corpus keeps a video-text pair).

    REAL decode for YUV4MPEG2 (.y4m), the public uncompressed planar
    container: the header is ASCII, frames are fixed-size raw planes
    split by ``FRAME`` markers, so numpy slicing decodes it with no codec
    library. Compressed formats (MP4/WebM/AVI) need codecs absent in this
    container and come back decoded=false / NULL stats; a deployment
    drops ffmpeg into this same batch loop. Output per blob: width,
    height, fps_num/fps_den, n_frames (counted, not trusted from the
    header — truncated blobs report only complete frames), duration_ms
    (floor; NULL when the header omits the frame rate), colorspace.
    """

    def _frames_in(raw: bytes, hdr) -> int:
        width, height, _num, _den, cs, pos = hdr
        flen = _y4m_frame_len(width, height, cs)
        if flen is None:
            return -1
        n = 0
        while pos + 5 <= len(raw) and raw[pos : pos + 5] == b"FRAME":
            nl = raw.find(b"\x0a", pos + 5)
            if nl < 0 or nl + 1 + flen > len(raw):
                break
            n += 1
            pos = nl + 1 + flen
        return n

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        icols = ("width", "height", "fps_num", "fps_den", "n_frames", "duration_ms")
        for pdf in batches:
            out = {"media_id": [], "decoded": [], "colorspace": []}
            out.update({c: [] for c in icols})
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                raw = bytes(blob) if blob is not None else b""
                hdr = _y4m_header(raw)
                n = _frames_in(raw, hdr) if hdr is not None else -1
                out["media_id"].append(mid)
                out["decoded"].append(n >= 0)
                if n >= 0:
                    width, height, num, den, cs, _ = hdr
                    dur = n * 1000 * den // num if num > 0 else None
                    vals = (width, height, num, den, n, dur)
                    out["colorspace"].append(cs)
                else:
                    vals = (None,) * 6
                    out["colorspace"].append(None)
                for key, val in zip(icols, vals):
                    out[key].append(val)
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "decoded": out["decoded"],
                    **{c: pd.array(out[c], dtype="Int64") for c in icols},
                    "colorspace": out["colorspace"],
                }
            )

    return media.select(id_col, blob_col).mapInPandas(
        _dec,
        schema=(
            "media_id long, decoded boolean, width long, height long, "
            "fps_num long, fps_den long, n_frames long, duration_ms long, "
            "colorspace string"
        ),
    )


def video_frame_sample(
    media: DataFrame,
    stride: int = 1,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Sample every ``stride``-th frame of Y4M video blobs and emit
    per-frame luma statistics — the video analogue of audio frame
    sampling (feeds black-frame detection, scene-cut heuristics,
    per-segment brightness/contrast quality scores). One input row fans
    out to ceil(n_frames / stride) output rows; undecodable blobs emit
    zero rows (filtered, not errored, matching decode_audio's posture).
    Luma stats are exact integers from the Y plane (sum kept in int64):
    luma_mean_x100 = floor(100 * sum(Y) / (W*H)).
    """
    if stride < 1:
        raise ValueError("stride must be >= 1")

    import numpy as np

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("media_id", "frame_idx", "luma_mean_x100", "luma_min", "luma_max")
        for pdf in batches:
            out = {c: [] for c in cols}
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                raw = bytes(blob) if blob is not None else b""
                hdr = _y4m_header(raw)
                if hdr is None:
                    continue
                width, height, _num, _den, cs, pos = hdr
                flen = _y4m_frame_len(width, height, cs)
                if flen is None:
                    continue
                ysz, idx = width * height, 0
                while pos + 5 <= len(raw) and raw[pos : pos + 5] == b"FRAME":
                    nl = raw.find(b"\x0a", pos + 5)
                    if nl < 0 or nl + 1 + flen > len(raw):
                        break
                    if idx % stride == 0:
                        y = np.frombuffer(raw, dtype=np.uint8, count=ysz, offset=nl + 1)
                        out["media_id"].append(mid)
                        out["frame_idx"].append(idx)
                        out["luma_mean_x100"].append(
                            int(y.sum(dtype=np.int64)) * 100 // ysz
                        )
                        out["luma_min"].append(int(y.min()))
                        out["luma_max"].append(int(y.max()))
                    idx += 1
                    pos = nl + 1 + flen
            yield pd.DataFrame(
                {c: pd.array(v, dtype="Int64") for c, v in out.items()}
            )

    return media.select(id_col, blob_col).mapInPandas(
        _sample,
        schema=(
            "media_id long, frame_idx long, luma_mean_x100 long, "
            "luma_min long, luma_max long"
        ),
    )


# ---------------------------------------------------------------------------
# distributed k-means over embeddings (document clustering for corpus
# curation / topic balancing — the standard pre-training "cluster then
# rebalance" step, e.g. the SemDeDup / DSIR-style pipelines)
# ---------------------------------------------------------------------------


def _quantized_vec(vec_col: str):
    """float vector -> integer-quantized (x1000) long vector; the shared
    house rule that keeps vector arithmetic bit-exact across engines."""
    return F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1000).cast("long")
    )


def _kmeans_assign_once(v: DataFrame, cents: list[list[int]]) -> DataFrame:
    """One Lloyd assignment against literal centroids: per-row argmin of
    integer squared distance, ties to the lower cluster id. The centroid
    set rides into the plan as k x dim literals (broadcast by codegen,
    no join, no shuffle); distance is zip_with + aggregate entirely
    inside whole-stage codegen."""
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.array(*[F.lit(int(x)).cast("long") for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist_sq"),
            F.lit(i).cast("long").alias("cluster"),
        )
        for i, c in enumerate(cents)
    ]
    best = F.array_min(F.array(*dists))
    return v.select(
        "vec_id", "qv", best["cluster"].alias("cluster"), best["dist_sq"].alias("dist_sq")
    )


def kmeans_assign(
    embs: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means over an embedding column.

    Semantics (all integer-exact, so a DuckDB twin can replay them):
      - vectors quantized to longs (x1000);
      - init: the k vectors with the smallest ids, cluster id = rank;
      - `rounds` update iterations: assign = argmin squared distance
        (ties to the lower cluster id), new centroid = floor(sum/count)
        per coordinate; a cluster that loses every member keeps its
        previous centroid;
      - output: the final assignment (vec_id, cluster, dist_sq).

    100 TB posture: assignment is map-side only (centroids are plan
    literals — k*dim longs, broadcast for free); each update is ONE
    map-side-combinable groupBy producing k*dim rows; the only driver
    traffic is k*dim aggregated longs per round plus the k init rows.
    No corpus-sized collect, no per-row Python. k and dim scale to
    thousands before the literal-plan approach needs a broadcast-join
    variant."""
    if k < 1:
        raise ValueError("k must be >= 1")
    v = embs.select(F.col(id_col).alias("vec_id"), _quantized_vec(vec_col).alias("qv"))
    init = v.orderBy("vec_id").limit(k).collect()  # bounded: k rows
    cents: list[list[int]] = [list(r["qv"]) for r in init]
    if not cents:
        raise ValueError("kmeans_assign: input frame has no rows to seed centroids")
    dim = len(cents[0])
    for _ in range(rounds):
        assigned = _kmeans_assign_once(v, cents)
        stats = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()  # bounded: k x dim aggregated rows
        )
        by_cl: dict[int, dict[int, int]] = {}
        for r in stats:
            # floor of the double quotient — identical IEEE division and
            # floor in Spark/DuckDB/Python, so the twin replays it exactly
            by_cl.setdefault(r["cluster"], {})[r["pos"]] = math.floor(r["s"] / r["c"])
        cents = [
            [by_cl[cl][p] for p in range(dim)] if cl in by_cl else cents[cl]
            for cl in range(len(cents))
        ]
    return _kmeans_assign_once(v, cents).select("vec_id", "cluster", "dist_sq")


# ---------------------------------------------------------------------------
# corpus unigram-LM surprisal (CCNet-style LM quality scoring, with the
# n-gram LM replaced by the corpus's own unigram distribution; integer
# log2 via binary-representation length keeps it engine-exact)
# ---------------------------------------------------------------------------


def unigram_surprisal(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document surprisal under the corpus unigram LM, in whole bits.

    For token t with corpus count c_t in a corpus of N total tokens, the
    per-token surprisal is floor(log2 N) - floor(log2 c_t) bits, computed
    as length(bin(N)) - length(bin(c_t)) — pure integer arithmetic, no
    libm, so the DuckDB twin reproduces it bit-for-bit. A document's
    score is the sum over its token OCCURRENCES (repeats count).

    Output: doc_id, n_tokens, surprisal_bits (docs with no tokens score
    0/0). High mean surprisal = rare-vocabulary text (gibberish or
    genuinely novel); low = boilerplate. This is the integer skeleton of
    the CCNet perplexity filter.

    100 TB posture: per-doc token counts first (map-side combinable), so
    the vocab join moves one row per DISTINCT (doc, token), not one per
    occurrence; the vocab join key is Zipf-skewed ("the") — AQE skew-join
    splits the hot partitions, and the N-total side is a 1-row broadcast."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")).alias(
            "tok"
        ),
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    vocab = doc_tok.groupBy("tok").agg(F.sum("k").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    per_doc = (
        doc_tok.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(
                F.col("k")
                * (F.length(F.bin(F.col("n_total"))) - F.length(F.bin(F.col("cnt"))))
            )
            .cast("long")
            .alias("surprisal_bits"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal_bits", F.lit(0)).cast("long").alias("surprisal_bits"),
        )
    )


# ---------------------------------------------------------------------------
# end-to-end fuzzy-dedup canonicalization: minhash-LSH pairs -> undirected
# connected components -> min-id canonical per cluster (the full "which
# row do we keep" answer, not just the candidate pair list)
# ---------------------------------------------------------------------------


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy-dedup cluster map over the whole corpus.

    Composition: minhash_neardup_pairs (md5-based, SQL-recomputable) ->
    connected_components (scale-adaptive min-label propagation; doc ids
    zero-padded to 19 digits so string min == numeric min) -> every doc
    mapped to its cluster's minimum doc id (itself when unduplicated).

    Output: doc_id, canonical_id, cluster_size, is_canonical — one row
    per input document.

    100 TB posture: inherits the LSH bucket cap from the pair stage; CC
    rounds are O(cluster diameter) ≈ 2-4 for dup chains; the cluster-size
    join shuffles on canonical_id whose fan-in is bounded by the largest
    dup cluster (itself bounded by cap * bands in pathological corpora)."""
    pairs = minhash_neardup_pairs(
        docs, threshold=threshold, id_col=id_col, text_col=text_col
    )
    from graphiti_spark.operators.connected_components import connected_components

    spairs = pairs.select(
        F.format_string("%019d", F.col("a_id")).alias("a"),
        F.format_string("%019d", F.col("b_id")).alias("b"),
    )
    mapping = connected_components(spairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("canonical").cast("long").alias("canonical_id"),
    )
    assigned = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(mapping, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("canonical_id", F.col("doc_id")).alias("canonical_id")
        )
    )
    sizes = assigned.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return assigned.join(sizes, "canonical_id").select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic near-dup pairs: k-means partition + within-cluster
# exact cosine (Abbas et al. 2023 shape: the clustering bounds the quadratic)
# ---------------------------------------------------------------------------


def semantic_neardup_pairs(
    embs: DataFrame,
    k: int = 8,
    rounds: int = 2,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup candidates: cluster the corpus with
    the deterministic integer k-means (kmeans_assign), then emit every
    same-cluster pair (a < b) with quantized cosine >= threshold.

    The clustering is what makes semantic dedup tractable: cosine pairs
    are only computed WITHIN a cluster, so the quadratic is bounded by the
    largest cluster, not the corpus. Within a cluster the same block-grid
    used by embedding_neardup_pairs spreads the remaining quadratic over
    n_blocks*(n_blocks+1)/2 independent tasks keyed on (cluster, cell) —
    a hub cluster never serializes onto one task.

    Output: a_id, b_id, cluster, cos_x10000. Every arithmetic step is
    engine-exact (integer k-means, int64 dots, IEEE sqrt/div), so the
    DuckDB twin (kmeans oracle + within-cluster cross join) reproduces the
    pair set bit-for-bit.

    100 TB posture: kmeans_assign is map-side-only per round (centroid
    literals); the pair stage shuffles each vector n_blocks times keyed by
    (cluster, cell); k scales with corpus size (k ~ n/10k keeps expected
    cluster work constant)."""
    assigned = kmeans_assign(embs, k=k, rounds=rounds, id_col=id_col, vec_col=vec_col)
    rows = embs.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    ).join(assigned.select(F.col("vec_id").alias("id"), "cluster"), "id")
    return _grid_cosine_pairs(rows, threshold, n_blocks, group_col="cluster")


# ---------------------------------------------------------------------------
# per-host document caps (Common-Crawl curation: bound any one domain's share)
# ---------------------------------------------------------------------------


def host_cap(
    docs: DataFrame,
    per_host: int = 10,
    host_col: str = "source",
    id_col: str = "doc_id",
    order_col: str = "n_chars",
) -> DataFrame:
    """Keep at most `per_host` documents per host, best-first: rank within
    host by (order_col DESC, id ASC) and keep rank <= per_host.

    Two-phase at scale: a MAP-SIDE pre-pass caps every Arrow batch at
    per_host rows per host (mapInPandas — no shuffle, no skew exposure),
    so the global window only receives <= per_host * n_batches rows per
    host instead of the host's full document set — a hub domain holding
    1% of a 100 TB corpus arrives at the final shuffle pre-shrunk by
    ~n_docs/(per_host * batches). The pre-pass is lossless: a row outside
    its own batch's local top-N can never enter the global top-N. The
    global window then re-ranks exactly.

    Output: doc_id, host, host_rank (1-based) for kept rows only."""
    if per_host < 1:
        raise ValueError("per_host must be >= 1")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.col(order_col).cast("long").alias("ord"),
    )

    # phase 1: batch-local lossless prefilter (map-side only, no shuffle)
    def _local_cap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            pdf = pdf.sort_values(
                ["host", "ord", "doc_id"], ascending=[True, False, True]
            )
            yield pdf.groupby("host", sort=False).head(per_host)

    local = base.mapInPandas(_local_cap, schema="doc_id long, host string, ord long")
    # phase 2: exact global rank over the shrunken set
    w = Window.partitionBy("host").orderBy(F.desc("ord"), F.asc("doc_id"))
    return (
        local.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("host_rank") <= per_host)
        .select("doc_id", "host", "host_rank")
    )


def skew_profile(
    df: DataFrame, key_col: str, top_k: int = 20
) -> DataFrame:
    """Shuffle-key skew profiler: the `top_k` hottest values of `key_col`
    with row count and corpus share — the pre-flight check before any
    large join/groupBy (a key holding more than ~1/parallelism of the
    rows straggles its reducer: salt it, or let AQE's skew-join split it).

    100 TB posture: one partial-aggregatable groupBy (hot keys combine
    map-side, so the shuffle carries one row per key per task), a
    1-row broadcast for the total, and a TakeOrdered top-k — no full
    sort. Ties break by key text ascending, so the result set is
    deterministic on any partitioning. Output: key, n, share_x1e6."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    base = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = base.agg(F.sum("n").alias("total"))
    return (
        base.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(F.col("n") * 1000000.0 / F.col("total"))
            .cast("long")
            .alias("share_x1e6"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top_k)
    )


def curate_corpus(
    docs: DataFrame,
    per_host: int = 50,
    min_tokens: int = 5,
    min_uniq_ratio_x1e6: int = 200_000,
    split_weights: dict[str, float] | None = None,
    salt: str = "",
    id_col: str = "doc_id",
    text_col: str = "text",
    host_col: str = "source",
) -> DataFrame:
    """The full curation recipe as ONE call — the cascade every
    training-data pipeline runs, composed from this module's building
    blocks with bit-identical per-stage semantics:

      1. language gate   (lang_id's stopword-ratio rule)
      2. quality gate    (quality_scores' token-count + distinct-ratio rule)
      3. exact-dup canonicalization among gate survivors
         (exact_dedup's md5(text) key, min-id winner)
      4. per-host cap among canonical docs
         (host_cap's (length DESC, id ASC) rank, length(text) as the
         order key so the recipe needs no extra input columns)
      5. deterministic split assignment for kept docs
         (hash_split's md5 basis-point buckets)

    One row per INPUT document with the full drop-reason trail —
    (doc_id, host, lang_ok, quality_ok, is_canonical, host_rank, keep,
    split) — so corpus-loss accounting per stage is one groupBy away.

    100 TB posture: gates 1-2 are map-side column expressions; stages 3-4
    are two window shuffles (fp, host). The host rank is a conditional
    running count over the host window, which keeps the whole recipe a
    closed-form SQL expression (the DuckDB twin replays every row); a hub
    host at corpus scale takes host_cap's lossless map-side prefilter as
    a drop-in in front of stage 4 without changing any kept row. No
    Python, no collect, no join."""
    if split_weights is None:
        split_weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    if per_host < 1:
        raise ValueError("per_host must be >= 1")
    cum, bounds = 0, []
    for name, wt in split_weights.items():
        cum += int(round(wt * SPLIT_BUCKETS))
        bounds.append((name, cum))
    if bounds[-1][1] != SPLIT_BUCKETS:
        raise ValueError("split_weights must sum to 1.0 (in 1e-4 steps)")

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    stops = F.filter(toks, lambda x: F.lower(x).isin(EN_STOPWORDS))
    n_tok = F.size(toks)
    ratio = F.when(
        n_tok > 0, F.size(stops).cast("double") / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    uniq_x1e6 = (
        F.when(
            n_tok > 0,
            F.round(
                F.size(F.array_distinct(toks)).cast("double")
                / n_tok.cast("double")
                * 1000000
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    base = _spread_small_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.md5(F.col(text_col)).alias("fp"),
        F.length(F.col(text_col)).cast("long").alias("ord"),
        (ratio >= LANG_ID_THRESHOLD).alias("lang_ok"),
        ((n_tok >= min_tokens) & (uniq_x1e6 >= min_uniq_ratio_x1e6)).alias(
            "quality_ok"
        ),
    )
    gate = F.col("lang_ok") & F.col("quality_ok")
    base = base.withColumn(
        "canon_id",
        F.min(F.when(gate, F.col("doc_id"))).over(Window.partitionBy("fp")),
    ).withColumn("is_canonical", gate & (F.col("doc_id") == F.col("canon_id")))
    whost = (
        Window.partitionBy("host")
        .orderBy(F.desc("ord"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = base.withColumn(
        "host_rank",
        F.when(
            F.col("is_canonical"),
            F.sum(F.when(F.col("is_canonical"), 1).otherwise(0))
            .over(whost)
            .cast("long"),
        ),
    )
    keep = F.col("is_canonical") & (F.col("host_rank") <= per_host)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 12
            ),
            16,
            10,
        ).cast("long"),
        F.lit(SPLIT_BUCKETS),
    )
    split = F.lit(bounds[-1][0])
    for name, hi in reversed(bounds[:-1]):
        split = F.when(bucket < hi, F.lit(name)).otherwise(split)
    return base.select(
        "doc_id",
        "host",
        "lang_ok",
        "quality_ok",
        "is_canonical",
        "host_rank",
        keep.alias("keep"),
        F.when(keep, split).alias("split"),
    )


# ---------------------------------------------------------------------------
# greedy sequence packing (training-batch assembly: fill fixed token budgets)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy first-fit-in-order sequence packing for training batches.

    Documents hash into `n_shards` shards (first 48 bits of md5(id) mod
    n_shards — the same engine-portable bucket rule as hash_split, so the
    DuckDB twin replays the sharding); within a shard, docs are taken in
    id order and appended to
    the current sequence until the NEXT doc would overflow `budget`
    whitespace tokens, which starts a new sequence (a doc longer than the
    budget gets a sequence of its own). Output one row per doc:
    (doc_id, shard, seq_id, n_tokens) with seq_id 0-based per shard.

    The greedy scan is inherently sequential PER SHARD, so the unit of
    parallelism is the shard (n_shards ~ executor count at scale; packing
    state is one integer). Inside a shard the loop advances one SEQUENCE
    per iteration via binary search on the token cumsum — O(n_seqs log n)
    numpy, not a per-row Python loop.

    100 TB posture: one shuffle keyed on the uniform shard hash; token
    counts are computed JVM-side before the shuffle so only (id, n_tok)
    ships; shard count scales freely because shards are independent."""
    import numpy as np

    if budget < 1:
        raise ValueError("budget must be >= 1")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
            ).cast("long"),
            F.lit(int(n_shards)),
        ).alias("shard"),
        F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")).cast(
            "long"
        ).alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        toks = pdf["n_tokens"].to_numpy(dtype=np.int64)
        cum = np.cumsum(toks)
        n = len(pdf)
        seq = np.zeros(n, dtype=np.int64)
        start, sid = 0, 0
        while start < n:
            limit = (cum[start - 1] if start else 0) + budget
            end = int(np.searchsorted(cum, limit, side="right"))
            end = max(end, start + 1)  # an oversized doc still packs alone
            seq[start:end] = sid
            sid += 1
            start = end
        pdf["seq_id"] = seq
        return pdf[["doc_id", "shard", "seq_id", "n_tokens"]]

    return base.groupBy("shard").applyInPandas(
        _pack, schema="doc_id long, shard long, seq_id long, n_tokens long"
    )


def chunk_sequences(
    docs: DataFrame,
    max_len: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window training chunks: split every document into token
    windows of `max_len` whitespace tokens starting every `stride` tokens
    (stride < max_len gives overlapping context windows, the standard
    LM-pretraining chunking; stride == max_len gives disjoint blocks).

    Chunk starts are 1, 1+stride, 1+2*stride, ...; the number of chunks is
    1 + ceil(max(0, n - max_len) / stride) in pure integer arithmetic, so
    every token is covered, the final chunk may be shorter than max_len,
    and no chunk starts past the end. Output one row per chunk:
    (doc_id, chunk_idx, start_tok, n_toks, chunk_md5) — the md5 of the
    space-joined window stands in for the chunk payload so the row stays
    narrow while remaining value-checkable.

    100 TB posture: pure map-side column expressions (split → sequence →
    posexplode → slice) in whole-stage codegen — no shuffle, no Python,
    and fan-out is bounded at ~n_tokens/stride rows per document. Exact
    integer semantics, so the DuckDB oracle replays it bit-for-bit."""
    if max_len < 1 or stride < 1:
        raise ValueError("max_len and stride must be >= 1")
    if stride > max_len:
        # stride > max_len would leave tokens uncovered (contradicting the
        # every-token-covered contract above) and drives n_toks negative on
        # the final window, failing inside F.slice at runtime.
        raise ValueError("stride must be <= max_len")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    t = (
        _spread_small_input(docs)
        .select(F.col(id_col).alias("doc_id"), toks.alias("wd"))
        .filter(F.size("wd") > 0)
        .select("doc_id", "wd", F.size("wd").cast("long").alias("n"))
    )
    n_extra = F.expr(f"(greatest(n - {max_len}, 0) + {stride - 1}) div {stride}")
    starts = F.transform(
        F.sequence(F.lit(0), n_extra.cast("int")),
        lambda i: (i * stride + 1).cast("long"),
    )
    e = t.select(
        "doc_id",
        "wd",
        "n",
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    n_toks = F.least(F.lit(max_len).cast("long"), F.col("n") - F.col("start_tok") + 1)
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "start_tok",
        n_toks.alias("n_toks"),
        F.md5(
            F.array_join(F.slice("wd", F.col("start_tok").cast("int"), n_toks.cast("int")), " ")
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# PageRank (fixed rounds, integer-exact so the unrolled SQL twin replays it)
# ---------------------------------------------------------------------------

PAGERANK_SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round PageRank over a directed edge list, all-integer.

    Semantics (engine-exact): every node (any id appearing as src or dst)
    starts at rank 1_000_000. Per round, each node sends
    floor(rank / out_degree) along each out-edge (dangling nodes send
    nothing — their mass evaporates, the common sparse simplification),
    and every node's new rank is 150_000 + floor(85 * incoming / 100)
    (d = 0.85 at the same x1e6 scale). All arithmetic is int64 division
    on non-negative values, identical in Spark, DuckDB, and Python.

    Output: node id, rank_x1e6 after `rounds` rounds.

    100 TB posture: per round, one join of ranks onto edges keyed by src
    (broadcast when ranks fit; AQE skew-split for hub sources) and one
    map-side-combinable groupBy on dst. The plan is unrolled `rounds`
    times, so lineage stays bounded; each round's shuffle reuses the same
    (src)/(dst) partitioning and AQE coalesces the tails."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("pr", F.lit(PAGERANK_SCALE).cast("long"))
    for _ in range(int(rounds)):
        contrib = (
            e.join(ranks, e.src == ranks.id)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("id"),
                F.expr("pr DIV outdeg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(150_000)
                + F.expr("(85 * coalesce(inc, 0L)) DIV 100")
            ).cast("long").alias("pr"),
        )
    return ranks.select("id", F.col("pr").alias("rank_x1e6"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints: exact duplicated-SPAN detection (the substring-
# level dedup of Lee et al. "Deduplicating Training Data Makes Language
# Models Better"; fingerprint selection per Schleimer et al. winnowing)
# ---------------------------------------------------------------------------

WINNOW_K = 4  # tokens per gram
WINNOW_W = 4  # winnowing window (gram hashes per window)
# a fingerprint shared by more docs than this is boilerplate (site chrome,
# licence blocks); its pair fan-out is quadratic, so it is dropped — the
# same deliberate approximation as LSH_DOC_BUCKET_CAP
WINNOW_DOC_CAP = 64


def winnow_fingerprints(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints: md5-hash every word k-gram, then
    keep the MINIMUM hash of every window of w consecutive gram hashes.

    The selection is content-defined, so it is robust to where a span
    sits inside a document: any two documents sharing a token span of
    >= w + k - 1 words are GUARANTEED to share at least one fingerprint
    (the winnowing guarantee), and expected fingerprint density is
    2/(w+1) per token — sublinear output without missing matches above
    the threshold. Documents shorter than k tokens carry no fingerprint.

    Hash = first 48 bits of md5(gram), so a DuckDB oracle recomputes the
    selection bit-for-bit. Everything is native column expressions
    (split / transform / slice / array_min) inside whole-stage codegen —
    no shuffle, no Python. Output: id, fp (distinct per doc)."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    t = docs.select(F.col(id_col).alias("id"), toks.alias("wd")).filter(
        F.size("wd") >= k
    )
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.size("wd") - (k - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.array_join(F.slice(F.col("wd"), i, k), " ")), 1, 12),
            16,
            10,
        ).cast("long"),
    )
    g = t.select("id", gram_hashes.alias("gh"))
    # windows of w gram hashes; a doc with fewer than w grams winnows its
    # whole gram list as one window (the standard short-doc convention)
    fps = F.when(
        F.size("gh") < w, F.array(F.array_min("gh"))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("gh") - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("gh"), j, w)),
        )
    )
    return g.select("id", F.explode(F.array_distinct(fps)).alias("fp"))


def winnow_dup_span_pairs(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    doc_cap: int = WINNOW_DOC_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing duplicated token SPANS (not whole-document
    similarity): every pair sharing any span of >= w + k - 1 tokens
    appears, with the count of shared winnowing fingerprints as a span-
    volume proxy. This is the operator exact-substring training-data
    dedup needs where minhash (whole-doc Jaccard) goes blind: a 30-token
    licence block inside two otherwise-unrelated pages.

    100 TB posture: the only shuffle is the fingerprint equi-join;
    fingerprints held by more than `doc_cap` documents are dropped
    BEFORE the self-join (boilerplate chrome would otherwise fan out
    quadratically — same cap rule as the LSH buckets, applied with one
    map-side-combinable count). Candidate volume is output-sensitive:
    2/(w+1) fingerprints per token, pairs only where real shared spans
    exist. Output: a_id, b_id (a < b), n_shared_fps."""
    fp = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    sizes = fp.groupBy("fp").count()
    fp = fp.join(sizes.filter(F.col("count") <= doc_cap).drop("count"), on="fp")
    a = fp.select("fp", F.col("id").alias("a_id"))
    b = fp.select("fp", F.col("id").alias("b_id"))
    return (
        a.join(b, on="fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (the fastText-style model-based quality
# filter of CCNet/GPT-3 curation, with deterministic hash-derived weights
# so every engine replays the exact same model)
# ---------------------------------------------------------------------------


def quality_classifier_scores(
    docs: DataFrame,
    salt: str = "qw1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents with a hashed bag-of-words linear classifier.

    Each token's weight is derived from its hash — the first 48 bits of
    md5(token || ':' || salt) mapped to an integer in [-1000, 1000] —
    standing in for trained fastText weights with the same lookup shape
    and cost (the hashing-trick weight table IS how fastText buckets
    n-grams; a deployment writes real learned weights into the same
    expression or swaps in a broadcast weight table). The score is the
    token-weight sum; `keep` is the sign gate a curation pipeline
    thresholds on. All integer md5 arithmetic, so Spark, DuckDB, and a
    plain-Python replay agree bit-for-bit.

    100 TB posture: pure map-side column expressions (split → transform
    → aggregate) in whole-stage codegen; no shuffle, no Python, no
    weight-table join. Output: id, n_toks, w_sum, keep."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    weights = F.transform(
        F.col("wd"),
        lambda x: F.conv(
            F.substring(F.md5(F.concat(x, F.lit(":" + salt))), 1, 12), 16, 10
        ).cast("long")
        % 2001
        - 1000,
    )
    return (
        docs.select(F.col(id_col).alias("id"), toks.alias("wd"))
        .select(
            "id",
            F.size("wd").cast("long").alias("n_toks"),
            F.aggregate(
                weights, F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("w_sum"),
        )
        .select("id", "n_toks", "w_sum", (F.col("w_sum") >= 0).alias("keep"))
    )


def dsir_importance(
    docs: DataFrame,
    n_buckets: int = 4096,
    target_bp: int = 1000,
    salt: str = "dsir1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-shaped data selection: score every document by how much its
    hashed n-gram profile looks like a target distribution (Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling").

    Features are unigrams + word bigrams hashed into `n_buckets` buckets
    (the hashing trick, exactly DSIR's feature space). The target set here
    is a deterministic md5 split of the corpus itself (`target_bp` basis
    points, same idiom as hash_split) — a deployment swaps in a curated
    target corpus on the counting side without touching the scoring side.
    Per bucket we count feature occurrences in the target (cnt_t) and the
    whole corpus (cnt_r), add-one smoothed. A document's evidence is the
    sum of bucket counts over its features; `keep` is the integer
    cross-multiplied likelihood test sum_t/N_t >= sum_r/N_r (decimal
    arithmetic, no floats, so the DuckDB oracle replays it bit-for-bit).
    DSIR's log-product weight is a one-line swap (sum of log((cnt_t+1)/N_t
    / ((cnt_r+1)/N_r))) where float tolerance is acceptable.

    100 TB posture: the bucket-count pass is a groupBy over at most
    `n_buckets` keys (map-side combine collapses each task to <= n_buckets
    rows before the shuffle); the scoring pass broadcasts the counts table
    (n_buckets rows) and partially aggregates per doc before its shuffle,
    so both shuffles are doc/bucket-sized, never feature-occurrence-sized.
    No driver collect. Output: id, n_feats, sum_t, sum_r, keep (docs with
    zero tokens carry no evidence and are excluded).
    """
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    bigrams = F.when(
        F.size("wd") >= 2,
        F.zip_with(
            F.slice(F.col("wd"), 1, F.size("wd") - 1),
            F.slice(F.col("wd"), 2, F.size("wd") - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    is_t = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(id_col).cast("string"), F.lit(":" + salt + ":split")
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(SPLIT_BUCKETS),
        )
        < target_bp
    )
    base = _spread_small_input(docs).select(
        F.col(id_col).alias("id"), toks.alias("wd"), is_t.alias("is_t")
    )
    ex = base.select(
        "id",
        "is_t",
        F.explode(F.concat(F.col("wd"), bigrams)).alias("f"),
    ).select(
        "id",
        "is_t",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.col("f"), F.lit(":" + salt))), 1, 12),
                16,
                10,
            ).cast("long"),
            F.lit(n_buckets),
        ).alias("b"),
    )
    counts = ex.groupBy("b").agg(
        F.count("*").cast("long").alias("cnt_r"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("cnt_t"),
    )
    totals = counts.agg(
        (F.sum("cnt_r") + n_buckets).cast("long").alias("n_r"),
        (F.sum("cnt_t") + n_buckets).cast("long").alias("n_t"),
    )
    scored = (
        ex.join(F.broadcast(counts), on="b")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum(F.col("cnt_t") + 1).cast("long").alias("sum_t"),
            F.sum(F.col("cnt_r") + 1).cast("long").alias("sum_r"),
        )
    )
    dec = "decimal(38,0)"
    return scored.crossJoin(F.broadcast(totals)).select(
        "id",
        "n_feats",
        "sum_t",
        "sum_r",
        (
            F.col("sum_t").cast(dec) * F.col("n_r").cast(dec)
            >= F.col("sum_r").cast(dec) * F.col("n_t").cast(dec)
        ).alias("keep"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The counting step of BPE tokenizer training (Sennrich et al. 2016):
    the corpus-wide frequency of every adjacent character pair inside
    whitespace words, lowercased — iteration 1 of the merge loop picks the
    argmax of exactly this table (ties broken by pair text ascending so the
    winner is deterministic on any partitioning; subsequent iterations
    re-run the same count over the re-segmented vocabulary).

    100 TB posture: the corpus collapses to the distinct-word vocabulary
    FIRST (one groupBy with map-side combine — the classic word-count
    shuffle, vocabulary-sized not corpus-sized); pair explosion then runs
    over vocabulary rows only (a few million rows regardless of corpus
    size), and the final groupBy(pair) key space is bounded by alphabet².
    Top-k is a TakeOrdered, no full sort. Output: pair, n_occurrences,
    n_words."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    vocab = (
        _spread_small_input(docs)
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    per_word = (
        vocab.filter(F.length("w") >= 2)
        .select("w", "c", F.explode(grams).alias("pair"))
        .groupBy("w", "c", "pair")
        .agg(F.count("*").cast("long").alias("k"))
    )
    return (
        per_word.groupBy("pair")
        .agg(
            F.sum(F.col("c") * F.col("k")).cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_words"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_k)
    )


def hard_negatives(
    embs: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    lo: float = 0.0,
    hi: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive hard-negative mining for embedding-model training
    (DPR-style, Karpukhin et al. 2020): for each query vector, the top-k
    candidates whose cosine falls in [lo, hi) — similar enough to be
    confusable (random in-batch negatives are too easy), but below the
    near-duplicate band where a "negative" is really an unlabeled positive
    that would poison the loss.

    100 TB posture: identical to ann_topk — broadcast query side, JVM
    integer dot products, and the band filter runs BEFORE the rank window
    so near-dup rows never enter the top-k sort. At corpus scale, swap the
    brute-force candidate leg for ivf_topk / lsh_bucketed_ann cells and
    mine within the probed buckets only. Output: q_id, c_id, cos_x10000,
    rnk."""
    q = embs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = embs.filter(F.col(id_col) >= n_queries).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    out = cosine_topk(q, c, k=k, band=(lo, hi))
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("c_id").cast("long").alias("c_id"),
        F.round(F.col("cos") * 10000).cast("long").alias("cos_x10000"),
        "rnk",
    )
