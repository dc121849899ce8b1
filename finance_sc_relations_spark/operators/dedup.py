"""Deduplication operators for corpus curation at 100 TB scale.

Five tiers, cheapest first (a production pipeline composes them):
- exact:          fingerprint hash groupBy — one shuffle on the hash.
- ngram-jaccard:  exact set-similarity via n-gram posting-list self-join —
                  the oracle-checkable ground truth for the approximate tiers.
- MinHash + LSH:  shingle -> minhash signature -> banded bucket join ->
                  candidate verification. Scales linearly: candidates only
                  ever meet inside a band bucket (never a full cross join).
- SimHash:        64-bit signature, near-dups = small Hamming distance,
                  banded by rotating 16-bit blocks.
- embedding:      cosine >= threshold over an embedding column.

All signatures are computed in Arrow-batched pandas UDFs (numpy vectorized);
all joins are Catalyst equi-joins so AQE can handle bucket skew.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from .text_stats import fingerprint_col
from ..util import ensure_parallelism as _parallelize


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per fingerprint (deterministic winner).

    ONE shuffle: window row_number over the fingerprint (the groupBy-min +
    join-back form costs an extra join shuffle for the same result). On
    low-partition inputs the parallelize repartition hashes on the window
    key itself so Catalyst reuses that distribution for the window —
    still one shuffle (the r2 bench paid two: round-robin + window)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        _parallelize(
            docs.withColumn("fingerprint", fingerprint_col(text_col)),
            "fingerprint",
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact set similarity, the verification oracle)
# ---------------------------------------------------------------------------

def _word_hash_col(text_col: str) -> F.Column:
    """Per-word 64-bit hashes of the lowercased whitespace tokens — the
    materialization step of the hashed-gram path. Must be bound to a REAL
    projection column before windowed slicing: a lambda-captured expression
    is inlined into every slice and re-runs the whole transform per window
    position (O(len^2) per doc, measured 2x slower than gram strings)."""
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    return F.transform(words, lambda w: F.xxhash64(w))


def _ngram_hash_from(wh_col: str, n: int) -> F.Column:
    """Distinct word-level n-grams as 64-bit fingerprints (array<long>)
    over a materialized word-hash column (_word_hash_col).

    A gram is the space-joined slice of n lowercased whitespace words (a
    doc shorter than n words is one gram); two grams hash equal iff their
    word sequences are equal, modulo a ~2^-64 xxhash64 collision. The gram
    STRING is never built: each word is hashed once, and a window's
    fingerprint is xxhash64 over the slice of word hashes — O(len) string
    hashing + O(len*n) long folding instead of O(len*n) string building +
    hashing, and every downstream shuffle/join/intersect carries 8-byte
    longs instead of ~n-word strings."""
    wh = F.col(wh_col)
    return F.when(
        F.size(wh) > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(wh) - n, F.lit(0))),
                lambda i: F.xxhash64(F.slice(wh, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All (id_a < id_b) pairs with word-n-gram Jaccard >= threshold — EXACT.

    Prefix-filtered posting-list join (AllPairs, Bayardo et al. WWW'07):
    order every doc's grams by ascending global document frequency and keep
    only the first |x| - ceil(t*|x|) + 1 as join keys. Any pair with
    J >= t provably shares a prefix gram (its df-smallest common gram lands
    inside both prefixes), so candidate generation never joins on the
    high-df head — the stopword-gram quadratic blowup a naive posting join
    hits on web corpora. Candidates are verified by exact array_intersect,
    so the result is identical to the naive join (no silent truncation —
    nothing is dropped, high-df grams still count via the verify step).

    r6 shape changes (output unchanged, oracle-checked):
      - grams are 64-bit fingerprints (_ngram_hash_col), so the posting
        explode, df aggregation, prefix window and verification all move
        longs, never n-word strings;
      - the PPJoin POSITIONAL filter (Xiao et al. WWW'08) prunes candidates
        before verification: all shared grams of a pair sort at-or-after its
        first meeting gram in the (df, gram) canonical order, so
        co <= 1 + min(na - pa0, nb - pb0) where pa0/pb0 are the meeting
        gram's positions in each doc's full sorted gram list. Candidates
        whose bound cannot reach the required overlap ceil-free floor
        t*(na+nb)/(1+t) are dropped WITHOUT touching the gram arrays — at
        bench sf1.0 the prefix join emits 52M candidate rows for 2.5k true
        pairs, and verification (array_intersect over ~400-element arrays)
        was the dominant stage."""
    from pyspark import StorageLevel

    docs = _parallelize(docs)
    grams = docs.select(
        F.col(id_col).alias("id"), _word_hash_col(text_col).alias("_wh")
    ).select(
        "id", _ngram_hash_from("_wh", n).alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    # three consumers (posting explode + both verify sides) — without this
    # the O(len·n) gram-array build re-runs per consumer. The cache is
    # released below once the verified output is materialized, so repeated
    # calls in a long-lived session don't accumulate storage blocks.
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    exploded = grams.select("id", "n_grams", F.explode("grams").alias("gram"))
    gram_df = exploded.groupBy("gram").agg(F.count("*").alias("df"))
    # global canonical order: (df asc, gram asc); rarest grams first
    from pyspark.sql import Window

    pos_w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("gram").asc())
    prefix = (
        exploded.join(gram_df, "gram")
        .withColumn("pos", F.row_number().over(pos_w))
        .filter(
            F.col("pos")
            <= F.col("n_grams") - F.ceil(F.lit(threshold) * F.col("n_grams")) + 1
        )
        .select("id", "gram", "pos", "n_grams")
    )
    a = prefix.select(
        F.col("id").alias("id_a"), "gram",
        F.col("pos").alias("pa"), F.col("n_grams").alias("na"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"), "gram",
        F.col("pos").alias("pb"), F.col("n_grams").alias("nb"),
    )
    # per candidate pair, the FIRST meeting gram in canonical order has the
    # minimal position in BOTH sorted gram lists (common elements of two
    # lists sorted by one global order appear in the same relative order),
    # so min(pa)/min(pb) are attained at the same gram. The groupBy replaces
    # the old distinct() — same single shuffle, now carrying the bound.
    cand = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.min("pa").alias("pa0"), F.min("pb").alias("pb0"))
    )
    # positional upper bound on the overlap; floor() under-estimates the
    # required overlap, so no qualifying pair is ever pruned
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("pa0"), F.col("nb") - F.col("pb0")
    )
    required = F.floor(
        F.lit(threshold) * (F.col("na") + F.col("nb")) / F.lit(1.0 + threshold)
    )
    survivors = cand.filter(ubound >= required).select("id_a", "id_b")
    ga = grams.select(
        F.col("id").alias("id_a"), F.col("grams").alias("grams_a"),
        F.col("n_grams").alias("na"),
    )
    gb = grams.select(
        F.col("id").alias("id_b"), F.col("grams").alias("grams_b"),
        F.col("n_grams").alias("nb"),
    )
    verified = (
        survivors.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("co", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn(
            "jaccard", F.col("co") / (F.col("na") + F.col("nb") - F.col("co"))
        )
    )
    out = verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )
    # Materialize the (small) verified pair set, then drop the gram cache —
    # checkpoint blocks are ContextCleaner-managed (released when the result
    # frame is GC'd), unlike a leaked persist which lives until eviction.
    out = out.localCheckpoint(eager=True)
    grams.unpersist()
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def _hash64(s: str) -> int:
    """Deterministic 64-bit string hash (blake2b) — Python's builtin hash()
    is PYTHONHASHSEED-dependent and would break cross-run reproducibility."""
    return int.from_bytes(
        hashlib.blake2b(s.encode(), digest_size=8).digest(), "big"
    )


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    words = re.split(r"\s+", text.lower().strip())
    shingles = {" ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 1))}
    return np.fromiter(
        (_hash64(s) & 0x7FFFFFFFFFFFFFFF for s in shingles), dtype=np.uint64
    )


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, signature array<long>) via vectorized (a*x+b) mod p minwise
    hashing over word shingles."""
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("signature", ArrayType(LongType()), False),
        ]
    )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = _minhash_params(num_perm)
        for batch in batches:
            sigs = []
            for text in batch[text_col]:
                x = _shingle_hashes(text, shingle_n)
                if x.size == 0:
                    sigs.append(np.zeros(num_perm, dtype=np.int64))
                    continue
                # (num_perm, n_shingles) — vectorized over both axes
                hv = (np.outer(a, x) + b[:, None]) % _MERSENNE
                sigs.append(hv.min(axis=1).astype(np.int64))
            yield pd.DataFrame({"id": batch[id_col].astype("int64"), "signature": sigs})

    return _parallelize(docs.select(id_col, text_col)).mapInPandas(_map, schema=schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature-estimated
    Jaccard >= threshold.

    bands * rows_per_band == num_perm; the S-curve collision probability is
    1-(1-s^r)^b. Bucket join key = (band index, hash of the band slice);
    the band rows are shuffled once on it, and that one shuffle feeds both
    sides of the join, so the signatures are computed once.

    Candidate de-duplication (r6) is a FILTER, not a shuffle: a pair
    meeting in several band buckets is kept only from its FIRST matching
    band, judged by the SAME bucket-hash criterion the join key uses (so a
    pair joined via a rare 32-bit bucket collision is still kept exactly
    once and then rejected by verification, byte-identical to the old
    dropDuplicates + verify). The old path shuffled every candidate row —
    with both 64-long signature arrays as payload — through a
    dropDuplicates aggregate before verifying."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(docs, num_perm, shingle_n, text_col, id_col)
    band_arr = F.array(
        *[
            F.hash(
                F.slice(F.col("signature"), i * rows_per_band + 1, rows_per_band)
            )
            for i in range(bands)
        ]
    )
    # two-step select: _bh must be a materialized column before the
    # posexplode references it, or the hash array is recomputed per band
    base = sigs.select("id", "signature", band_arr.alias("_bh"))
    bands_df = base.select(
        "id", "signature", "_bh", F.posexplode("_bh").alias("band", "bucket")
    )
    # One shuffle on the bucket key feeds both sides of the self-join: the
    # two sides share the exchange, so the signature UDF runs once (a join
    # of the unshuffled band rows runs the UDF once per side). The
    # shuffle-hash hint keeps AQE from broadcasting one side, which would
    # cost its own job and ship every band row to every task; each task
    # hashes its own buckets and streams a hot bucket's pairs.
    bands_df = bands_df.repartition("band", "bucket")
    a = bands_df.select(
        F.col("id").alias("id_a"), F.col("signature").alias("sig_a"),
        F.col("_bh").alias("_bh_a"), "band", "bucket",
    )
    b = bands_df.select(
        F.col("id").alias("id_b"), F.col("signature").alias("sig_b"),
        F.col("_bh").alias("_bh_b"), "band", "bucket",
    )
    first_match = F.element_at(
        F.filter(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda j: F.element_at("_bh_a", j + 1)
            == F.element_at("_bh_b", j + 1),
        ),
        1,
    )
    cands = (
        a.join(b.hint("shuffle_hash"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("band") == first_match)
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    est = cands.withColumn(
        "est_jaccard",
        F.round(
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            )
            / F.lit(float(len(_minhash_params(num_perm)[0]))),
            4,
        ),
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over word tokens (sign-sum of per-token hash bits)."""
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("simhash", LongType(), False),
        ]
    )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_cols = np.arange(64, dtype=np.uint64)
        word_cache: dict = {}
        for batch in batches:
            out = []
            for text in batch[text_col]:
                words = re.split(r"\s+", text.lower().strip())
                if not words:
                    out.append(0)
                    continue
                for w in words:
                    if w not in word_cache:
                        word_cache[w] = _hash64(w)
                hv = np.fromiter(
                    (word_cache[w] for w in words), dtype=np.uint64
                )
                bits = (hv[:, None] >> bit_cols) & 1  # (n_words, 64)
                votes = bits.sum(axis=0) * 2 - len(words)
                sig = np.uint64(0)
                for i in range(64):
                    if votes[i] > 0:
                        sig |= np.uint64(1) << np.uint64(i)
                out.append(int(sig.astype(np.int64)))
            yield pd.DataFrame({"id": batch[id_col].astype("int64"), "simhash": out})

    return _parallelize(docs.select(id_col, text_col)).mapInPandas(_map, schema=schema)


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding: 4 x 16-bit blocks — any pair within Hamming 3 must agree on at
    least one block (pigeonhole), so the join key is (block index, block
    value); verification computes the exact popcount distance.

    Shape (r6): decide on distinct signatures, attach documents last (the
    guide §8 proxy pattern). Self-similar corpora collapse many documents
    onto one 64-bit signature (the bench corpus puts >half its docs on ONE
    value), so:
      (a) the banded join runs at DISTINCT-signature cardinality — 20k
          rows instead of 50k docs x 4 blocks at bench sf1.0;
      (b) candidate de-duplication is a FILTER, not a shuffle: a signature
          pair agreeing on several blocks is kept only from its FIRST
          matching block (the xor's lowest all-zero 16-bit block). The old
          dropDuplicates was a full shuffle + first() aggregation over
          every candidate DOC pair — the dominant stage at bench sf1.0;
      (c) verification (popcount) happens once per signature pair, then
          members are attached by two streaming equi-joins — the
          (intra-cluster) Hamming-0 pairs by a salted self-join on the
          signature (salting bounds the one-giant-cluster task: the hot
          cluster's quadratic output is streamed by `salt_buckets` tasks,
          not one), never via collected id arrays (a 25k-doc cluster would
          otherwise materialize 25k-element arrays per exploded row).
    Output rows are identical to the naive form: every (id_a < id_b) pair
    within max_hamming exactly once."""
    from pyspark import StorageLevel

    spark = docs.sparkSession
    salt_buckets = spark.sparkContext.defaultParallelism or 16
    sigs = simhash_signatures(docs, text_col, id_col)
    # consumed by: distinct-sig table, both intra legs, both attach joins
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)

    # intra-cluster pairs: identical signature => Hamming 0. Salted
    # self-join with the replication on the STREAMED side: the b-side keeps
    # one row per doc with its own deterministic salt (so the build/broadcast
    # side is never inflated — an exploded build side was measured OOMing the
    # 8g local heap at bench sf1.0), while the a-side is exploded across all
    # salts. Each (id_a < id_b) pair meets exactly once (at _salt =
    # h(id_b)), and under a shuffle join a hot identical-signature cluster's
    # C(m,2) enumeration is spread over salt_buckets tasks instead of one.
    a_side = sigs.select(
        "simhash", F.col("id").alias("id_a")
    ).withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    b_side = sigs.select(
        "simhash",
        F.col("id").alias("id_b"),
        F.pmod(F.xxhash64("id"), F.lit(salt_buckets)).alias("_salt"),
    )
    intra = (
        a_side.join(b_side, ["simhash", "_salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )

    # inter-cluster: banded join over DISTINCT signatures only
    dsig = sigs.select("simhash").distinct()
    blocks = dsig.select(
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), k * 16).bitwiseAND(F.lit(0xFFFF))
                    for k in range(4)
                ]
            )
        ).alias("block", "value"),
    )
    a = blocks.select(F.col("simhash").alias("sh_a"), "block", "value")
    b = blocks.select(F.col("simhash").alias("sh_b"), "block", "value")
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    block_zero = [
        F.shiftright(xor, k * 16).bitwiseAND(F.lit(0xFFFF)) == 0
        for k in range(4)
    ]
    first_match = (
        F.when(block_zero[0], 0)
        .when(block_zero[1], 1)
        .when(block_zero[2], 2)
        .otherwise(3)
    )
    sig_pairs = (
        a.join(b, ["block", "value"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .filter(
            (F.col("block") == first_match)
            & (F.bit_count(xor) <= max_hamming)
        )
        .select("sh_a", "sh_b", F.bit_count(xor).cast("int").alias("hamming"))
    )
    # attach members: two streaming equi-joins (no arrays, no broadcast
    # assumption on the signature pair set). The explicit repartitions are
    # LOAD-BEARING, not tuning: when statistics let Catalyst broadcast both
    # attach sides, whole-stage codegen fuses hashAgg->Generate->join->join
    # into ONE stage, and BufferedRowIterator buffers EVERY row fanned out
    # from a single outermost input row before the parent can drain — for a
    # hot signature that is (its pairs) x |A| x |B| rows in an in-memory
    # LinkedList (measured: 125M buffered UnsafeRows, ~10 GB, driver OOM).
    # An exchange before each member join caps the per-input-row fan-out of
    # every codegen stage at one cluster's membership, and pre-keys the
    # join so the exchange is reused rather than added.
    inter = (
        sig_pairs.repartition("sh_a")
        .join(
            sigs.select(F.col("simhash").alias("sh_a"), F.col("id").alias("ia")),
            "sh_a",
        )
        .repartition("sh_b")
        .join(
            sigs.select(F.col("simhash").alias("sh_b"), F.col("id").alias("ib")),
            "sh_b",
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    return intra.unionByName(inter)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a < id_b) pairs with cosine >= threshold.

    JVM-side: zip_with product + aggregate sum — no Python in the join. The
    O(n^2) self-join is the exact tier; at corpus scale you run the LSH
    bucketing in simsearch.py first and verify only candidates."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm.alias("norm"),
    )
    a = e.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
    )
    return pairs.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bands: int = 16,
    bits_per_band: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH candidates
    (any shared band bucket) verified by exact cosine — candidates only meet
    inside buckets, never a cross join. Near-identical vectors share all
    buckets with probability ~1, so recall at high thresholds is ~1 while
    candidate count stays near-linear."""
    from .simsearch import lsh_signatures

    sig = lsh_signatures(embeddings, dim, bands, bits_per_band, seed, id_col, vec_col)
    a = sig.withColumnRenamed("id", "id_a")
    b = sig.withColumnRenamed("id", "id_b")
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), norm.alias("nrm")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    verified = (
        cand.join(
            e.select(F.col("id").alias("id_a"), F.col("vec").alias("va"),
                     F.col("nrm").alias("na")), "id_a")
        .join(
            e.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"),
                     F.col("nrm").alias("nb")), "id_b")
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
    )
    return verified.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


# ---------------------------------------------------------------------------
# Cluster layer: pairs -> connected components -> canonical winner
# ---------------------------------------------------------------------------

def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    **minhash_params,
) -> DataFrame:
    """The dedup DECISION layer: (doc_id, cluster_id, is_canonical).

    Connected components over the near-dup pair graph (default: MinHash+LSH
    pairs) by the shared kernel operators/cc.py::cc_min_label: union-find
    per task of at most EDGES_PER_TASK edges, and min-label propagation
    with pointer jumping (O(log diameter) rounds) only over the links
    between tasks. A graph that fits one task costs a fixed number of jobs
    and no propagation round. If the propagation loop exhausts
    max_iterations before converging, a RuntimeWarning is raised instead
    of silently returning split components.

    cluster_id = min doc_id in the component; is_canonical marks the one
    row per cluster a curation pipeline keeps. Singletons are their own
    canonical cluster."""
    from .cc import cc_min_label

    if pairs is None:
        pairs = minhash_lsh_pairs(docs, id_col=id_col, **minhash_params)
    labels = cc_min_label(
        pairs.select("id_a", "id_b"),
        docs.select(F.col(id_col).alias("id")).distinct().withColumn(
            "label", F.col("id")
        ),
        key="id",
        max_iterations=max_iterations,
        warn_name="near_dup_clusters",
    )
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def duplicate_spans(
    docs: DataFrame,
    n: int = 13,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-SUBSTRING detection — the span-level dedup tier
    between exact-document dedup and MinHash near-dup (the "Deduplicating
    Training Data Makes Language Models Better" operation: memorized
    boilerplate usually repeats as passages inside otherwise-distinct
    documents, which whole-document fingerprints never see).

    Every n-token window that appears in >= min_docs DISTINCT documents is
    a duplicated window; per document, overlapping-or-adjacent duplicated
    windows merge into maximal spans. Returns one row per span:
    (doc_id, span_start, span_end, n_windows) with token offsets
    [span_start, span_end) — downstream curation can cut the spans or drop
    the doc on coverage.

    Scale shape (suffix arrays don't distribute; this does):
      1. window explode — one row per position, linear in corpus tokens
         (same posting-list shape as decontaminate's gram explode). Gram
         STRINGS never leave the codegen stage: each window is reduced to
         a 128-bit fingerprint (two independent xxhash64 lanes) inside the
         projection, so the shuffle/checkpoint carries 16 bytes per
         position instead of an n-token string (~90 B at n=13 — a ~6x
         shuffle-volume cut, which at web scale is the difference between
         shuffling the corpus and shuffling a fingerprint column). A
         false duplicate needs a simultaneous collision in both lanes:
         ~N^2 / 2^128 — at 10^13 windows that is ~1e-13, far below any
         storage-layer error rate (the DuckDB oracle compares via full
         gram strings, so a collision would surface as a mismatch);
      2. duplicated-fingerprint selection — groupBy count(DISTINCT doc):
         partial aggregation map-side, hot boilerplate grams are exactly
         the ones AQE's skew handling splits;
      3. semi-join windows against the duplicated set (equi-join on the
         fingerprint, no broadcast assumption — the dup set can be huge);
      4. per-doc gaps-and-islands merge: one window function over
         (doc_id, pos) — a single shuffle on doc_id.
    Nothing is quadratic; every stage is a hash shuffle Catalyst plans.

    The position table (one 16-byte row per corpus token position) feeds
    BOTH the dup-fingerprint aggregate and the semi-join leg, so it is
    persisted DISK_ONLY: lineage is kept, so an executor loss recomputes
    the lost blocks instead of failing the job, and the blocks spill to
    local disk rather than doubling executor memory — the position table
    is roughly corpus-sized.
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    # r6: the n-token window STRING is never built. Each word is hashed
    # into TWO independent lanes (wh2 seeded by a leading salt literal —
    # Spark folds xxhash64 args left-to-right with the running hash as
    # seed), and a window's fingerprint pair is xxhash64 over the slice of
    # each lane's word hashes. Equal word sequences still produce equal
    # (h1, h2); a false duplicate needs a simultaneous collision in both
    # lanes at BOTH levels (word and window), preserving the 2^128 bound
    # the string form had, while replacing O(n) string copies + ~90-byte
    # string hashing per position with O(n) 8-byte long folds.
    # The word-hash arrays are materialized as REAL projection columns
    # before the window transform references them: a lambda-captured
    # expression is inlined into every slice, re-running the whole
    # word-hash transform once per window position (measured 2x slower
    # than the string form at bench sf1.0 — O(len^2) per doc).
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(words, lambda t: F.xxhash64(t)).alias("_wh1"),
        F.transform(words, lambda t: F.xxhash64(F.lit(0x9E37), t)).alias("_wh2"),
    )
    wins = F.when(
        F.size("_wh1") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_wh1") - n),
            lambda i: F.struct(
                i.alias("pos"),
                F.xxhash64(F.slice(F.col("_wh1"), i + 1, n)).alias("h1"),
                F.xxhash64(
                    F.lit(0x9E37), F.slice(F.col("_wh2"), i + 1, n)
                ).alias("h2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h1:bigint,h2:bigint>>"))
    # Branch point: the window explode (the dominant cost — one fingerprint
    # pair per corpus token position) feeds BOTH the dup-fingerprint
    # aggregate and the semi-join leg; persist once instead of exploding
    # twice. Only the 16-byte fingerprint survives into the persisted
    # blocks and the shuffles.
    from pyspark import StorageLevel

    w = hashed.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id",
        F.col("w.pos").alias("pos"),
        F.col("w.h1").alias("h1"),
        F.col("w.h2").alias("h2"),
    ).persist(StorageLevel.DISK_ONLY)
    dup_grams = (
        w.groupBy("h1", "h2")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h1", "h2")
    )
    dw = w.join(dup_grams, ["h1", "h2"], "left_semi").select("doc_id", "pos")
    from pyspark.sql import Window

    order = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dw.withColumn(
        "_brk",
        F.when(
            F.col("pos") > F.lag("pos").over(order) + n, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_grp",
        F.sum("_brk").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("_grp")
    )


def decontaminate(
    docs: DataFrame,
    eval_texts: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Drop every document sharing a word n-gram with the evaluation set —
    the standard benchmark-decontamination step of LLM training pipelines
    (13-gram overlap is the GPT-3/PaLM convention).

    The eval side is tiny next to the corpus: its distinct n-grams become a
    broadcast left_anti join against the corpus posting list (one pass,
    no shuffle of the corpus beyond the explode). Grams travel as 64-bit
    fingerprints (r6, _ngram_hash_from): the broadcast set and the corpus
    explode carry 8-byte longs instead of n-word strings — same gram
    identity modulo a ~2^-64 xxhash64 collision."""
    eval_grams = (
        eval_texts.select(_word_hash_col(eval_text_col).alias("_wh"))
        .select(F.explode(_ngram_hash_from("_wh", n)).alias("gram"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), _word_hash_col(text_col).alias("_wh")
    ).select(id_col, F.explode(_ngram_hash_from("_wh", n)).alias("gram"))
    contaminated = (
        doc_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def cut_duplicate_spans(
    docs: DataFrame,
    n: int = 13,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span SURGERY over duplicate_spans: remove every duplicated passage
    from every document's text instead of dropping whole documents — the
    RefinedWeb/C4 boilerplate-removal form (whole-doc dedup keeps one copy
    of a press release; this also strips the copy embedded inside
    otherwise-unique pages).

    Output: (id_col, clean_text) for ALL input docs; clean_text is the
    document with duplicated token ranges removed, whitespace-normalized
    (tokens re-joined by single spaces — the same tokenization the span
    detector used, so offsets line up exactly). Docs with no duplicated
    span pass through with only whitespace normalization.

    Stays entirely JVM-side: spans collect_list per doc (bounded: spans
    are maximal, disjoint), one left join, and the cut itself is nested
    higher-order array functions (filter + exists with an outer index
    capture) — no Python in the path."""
    spans = duplicate_spans(
        docs, n=n, min_docs=min_docs, text_col=text_col, id_col=id_col
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    ).withColumnRenamed("doc_id", "_span_doc")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda p: ~F.exists(
            "_spans",
            lambda s: (p.getField("i") >= s.getField("span_start"))
            & (p.getField("i") < s.getField("span_end")),
        ),
    )
    return (
        docs.join(per_doc, docs[id_col] == per_doc["_span_doc"], "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("_spans").isNull(), F.concat_ws(" ", toks)
            )
            .otherwise(
                F.concat_ws(
                    " ", F.transform(kept, lambda p: p.getField("t"))
                )
            )
            .alias("clean_text"),
        )
    )
