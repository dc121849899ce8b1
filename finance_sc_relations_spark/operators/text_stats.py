"""Text-analysis operators for training-data curation at corpus scale.

All of these stay JVM-side (pure Catalyst expressions, whole-stage codegen)
except language-ID, which is an Arrow-batched pandas UDF over character
n-gram profiles. These extend the reference's per-sentence text handling
(SURVEY.md §2.2) to the corpus-curation operations a 100 TB training-data
pipeline needs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# Whitespace + BPE-ish token regex: word pieces OR single non-space symbols.
TOKEN_REGEX = r"[A-Za-z0-9]+|[^\sA-Za-z0-9]"

_STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on that the to "
    "was were will with"
).split()


def token_count_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), 0))


def whitespace_token_count_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), r"\s+"))


def punct_ratio_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(F.lower(F.trim(c)), r"\s+")
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.array_intersect(words, stop))  # distinct-stopword count
    # ratio over distinct words keeps both engines' semantics identical
    return F.when(
        F.size(words) > 0, n_stop / F.size(F.array_distinct(words))
    ).otherwise(F.lit(0.0))


def quality_score_col(text: Column | str) -> Column:
    """Composite quality score in [0,1]: rewards moderate length, penalizes
    punctuation soup and stopword-free word salad (heuristics standard in
    web-corpus curation pipelines)."""
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio_col(c) * 5.0)
    stop_score = F.least(stopword_ratio_col(c) * 4.0, F.lit(1.0))
    return F.round((len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3), 4)


def fingerprint_col(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (content-defined id for exact dedup; md5 exists in both Spark and the
    DuckDB oracle so values cross-check)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id",
        token_count_col(text_col).alias("n_tokens"),
        whitespace_token_count_col(text_col).alias("n_ws_tokens"),
        F.round(punct_ratio_col(text_col), 4).alias("punct_ratio"),
        F.round(stopword_ratio_col(text_col), 4).alias("stopword_ratio"),
        quality_score_col(text_col).alias("quality"),
        fingerprint_col(text_col).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Language-ID: character-n-gram profile heuristic (Cavnar-Trenkle style)
# ---------------------------------------------------------------------------

# Tiny built-in profiles: most-frequent trigrams per language (public
# linguistic knowledge). Real deployments would broadcast trained profiles.
_LANG_PROFILES = {
    "en": ["the", " th", "he ", "ing", "ng ", "and", " an", "nd ", " of", "of "],
    "de": ["en ", "er ", " de", "der", "ie ", "die", "sch", "ein", "ch ", "cht"],
    "fr": [" de", "de ", " le", "es ", "le ", "ent", "nt ", "que", " qu", "ue "],
    "es": [" de", "de ", "os ", " la", "la ", "el ", " el", "que", " qu", "as "],
    "zh": [],  # CJK detected by codepoint range instead
}

def lang_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_text: bool = True,
) -> DataFrame:
    """Append a detected_lang column via an Arrow-batched n-gram scorer.

    include_text=False returns only (id_col, detected_lang): Catalyst
    cannot prune columns THROUGH an opaque mapInPandas, so a caller that
    only needs the language decision (the curation lang gate) would
    otherwise pay Arrow serialization of the full text column on the way
    OUT of Python for nothing (guide §4.1)."""
    out_fields = (
        docs.select(id_col, text_col).schema.fields
        if include_text
        else docs.select(id_col).schema.fields
    )
    schema = StructType(
        out_fields + [StructField("detected_lang", StringType(), False)]
    )

    profiles = {
        lang: set(grams) for lang, grams in _LANG_PROFILES.items() if grams
    }

    def _detect(text: str) -> str:
        if any("一" <= ch <= "鿿" for ch in text[:400]):
            return "zh"
        t = f" {text[:400].lower()} "
        grams = {t[i : i + 3] for i in range(len(t) - 2)}
        best, best_hits = "en", -1
        for lang, prof in profiles.items():
            hits = len(grams & prof)
            if hits > best_hits:
                best, best_hits = lang, hits
        return best

    keep = [id_col, text_col] if include_text else [id_col]

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = batch[keep].copy()
            out["detected_lang"] = [_detect(t) for t in batch[text_col]]
            yield out

    return docs.select(id_col, text_col).mapInPandas(_map, schema=schema)


def sample_token_budget(
    docs: DataFrame,
    tokens_per_stratum: int,
    strata: tuple = ("lang",),
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic token-budgeted sampling: per stratum, keep documents in
    a seeded pseudo-random order until the cumulative token count reaches
    tokens_per_stratum (the 'sample N tokens per language' curation step of
    LLM data pipelines).

    The order key is md5(text || seed) — deterministic, uniform, and
    computable identically by any engine (unlike xxhash64, which is
    Spark-specific), so the exact sample is reproducible and cross-checkable.
    One window per stratum; no joins, no Python."""

    enriched = docs.withColumn(
        "n_tokens", token_count_col(text_col).cast("long")
    ).withColumn(
        "_ord", F.md5(F.concat(F.col(text_col), F.lit(str(seed))))
    )
    w = (
        Window.partitionBy(*strata)
        .orderBy(F.col("_ord").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        enriched.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= tokens_per_stratum)
        .drop("_ord")
    )


def token_cooccurrence(
    docs: DataFrame,
    min_df: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens_per_doc: int | None = 5000,
) -> DataFrame:
    """Document-level token co-occurrence statistics + PMI — the corpus
    association-mining op of a training-data pipeline (collocation /
    boilerplate discovery).

    (token_a < token_b, c_ab, c_a, c_b, n_docs, pmi) where c_ab counts docs
    containing BOTH tokens, c_x docs containing x, and
    pmi = ln(n_docs * c_ab / (c_a * c_b)).

    Scale shape: per-doc DISTINCT tokens explode once; the vocabulary is
    df-filtered (min_df) BEFORE the per-doc pair self-join, which bounds the
    quadratic pair fan-out to frequent tokens only (the long unique-token
    tail never pairs); all joins are equi-joins on token/doc so AQE handles
    hot tokens. Counts are exact ints — engine-portable; PMI is a derived
    double for consumers (compare the counts, not the log).

    `max_tokens_per_doc` bounds the remaining per-document quadratic term:
    the per-doc pair join is O(k^2) in each doc's distinct frequent-token
    count k, so one pathological 100k-token doc whose tokens all clear
    min_df would otherwise contribute ~10^10 pairs. When set, each doc
    keeps its `max_tokens_per_doc` RAREST frequent tokens (lowest df,
    token-lexicographic tiebreak — deterministic, and rare tokens carry
    the PMI signal). The DEFAULT is a conservative 5000 so the
    safe behavior is the ambient one at web scale (a doc must carry >5000
    DISTINCT min_df-frequent tokens before anything drops — ordinary
    documents are untouched); pass None for exact small-corpus runs."""
    tokens = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            )
        ).alias("token"),
    ).filter(F.length("token") > 0)
    dfreq = tokens.groupBy("token").agg(F.count("*").alias("df"))
    vocab = dfreq.filter(F.col("df") >= min_df)
    if max_tokens_per_doc is not None:
        wd = Window.partitionBy("doc").orderBy(
            F.col("df").asc(), F.col("token").asc()
        )
        # one materialization serves both pair-join legs.
        # persist, NOT localCheckpoint: now that the cap is the DEFAULT this
        # branch runs on every call, and a checkpoint of the corpus-sized
        # (doc, token) table would be unrecoverable on executor loss —
        # exactly the failure mode the pipeline's persist swap avoids;
        # persist keeps lineage and its blocks are ContextCleaner-managed
        from pyspark import StorageLevel

        ranked = (
            tokens.join(vocab, "token")
            .withColumn("_rn", F.row_number().over(wd))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        kept = ranked.filter(F.col("_rn") <= max_tokens_per_doc).select(
            "doc", "token"
        )
    else:
        kept = tokens.join(vocab, "token", "left_semi")
    a = kept.select("doc", F.col("token").alias("token_a"))
    b = kept.select("doc", F.col("token").alias("token_b"))
    pairs = (
        a.join(b, "doc")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count("*").alias("c_ab"))
    )
    n_docs = docs.count()
    ca = vocab.select(F.col("token").alias("token_a"), F.col("df").alias("c_a"))
    cb = vocab.select(F.col("token").alias("token_b"), F.col("df").alias("c_b"))
    return (
        pairs.join(ca, "token_a")
        .join(cb, "token_b")
        .select(
            "token_a",
            "token_b",
            "c_ab",
            "c_a",
            "c_b",
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.log(
                F.lit(float(n_docs)) * F.col("c_ab") / (F.col("c_a") * F.col("c_b"))
            ).alias("pmi"),
        )
    )


def bm25_top_terms(
    docs: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k BM25-scored terms — corpus keyword extraction /
    relevance-feature materialization (the Okapi BM25 term weight every
    retrieval-augmented training pipeline needs precomputed).

    score(t, d) = idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))   [Robertson-Sparck Jones].

    Scale shape: tf is one groupBy(doc, token) (map-side combinable); df
    one groupBy(token); dl one groupBy(doc); N and avgdl ride a 1-row
    broadcast cross join (no driver collect); the final top-k is one
    row_number window on doc_id. Scores are emitted quantized to basis
    points (score_bp) with a deterministic (score_bp desc, token asc)
    ranking, so results are engine-portable; min_df drops the
    singleton-token tail before the df join."""
    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("token"),
    )
    # tf feeds FOUR consumers (dl, stats via dl, dfreq, and the scored
    # join), so the plan carries four parallel Scan+Generate+HashAggregate
    # subtrees, recomputed rather than persisted: they are independent
    # broadcast-building jobs that overlap on idle executors, which at
    # bench scale beat a persist (measured 5.5s vs 7.0s at sf1.0: the cache
    # write serializes what the scheduler overlapped).
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * F.lit(k1 + 1) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score_bp",
            F.floor(idf * norm * 10000 + F.lit(0.5)).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_bp").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score_bp",
        )
    )


def repetition_stats(
    docs: DataFrame,
    ngram_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1:
    repetitious documents are low-quality web text):

    - dup_sent_frac: fraction of the doc's sentences that are duplicates
      (1 - distinct/total over [.!?]-split sentences);
    - top_ngram_frac: share of the doc's word-n-gram occurrences taken by
      the single most frequent n-gram (n=2 default).

    All-Catalyst: the sentence measure is pure array algebra; the n-gram
    mode is one explode + two map-side-combinable aggregations keyed by
    doc_id — no Python, scales linearly. Fractions emitted in basis points
    (exact ints, engine-portable)."""
    sents = F.filter(
        F.transform(
            F.split(F.col(text_col), r"(?<=[.!?])\s+"), lambda s: F.trim(s)
        ),
        lambda s: F.length(s) > 0,
    )
    base = docs.select(
        F.col(id_col),
        sents.alias("sents"),
        _ngram_all_col(text_col, ngram_n).alias("grams"),
    )
    sent_stats = base.select(
        id_col,
        F.when(
            F.size("sents") > 0,
            F.floor(
                (1.0 - F.size(F.array_distinct("sents")) / F.size("sents"))
                * 10000
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_sent_bp"),
        F.size("grams").alias("_n_grams"),
    )
    gram_rows = base.select(id_col, F.explode("grams").alias("gram"))
    top = (
        gram_rows.groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("_top"))
    )
    return (
        sent_stats.join(top, id_col, "left")
        .select(
            id_col,
            "dup_sent_bp",
            F.when(
                F.col("_n_grams") > 0,
                F.floor(
                    F.coalesce(F.col("_top"), F.lit(0)) / F.col("_n_grams") * 10000
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("top_ngram_bp"),
        )
    )


def _ngram_all_col(text_col, n: int):
    """ALL word n-grams (with repeats — unlike dedup's distinct grams).
    Docs with fewer than n words yield ZERO grams (a 1-word doc must not
    read as 100% 'repetitious' via a single partial gram)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ngrams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array())
    return F.filter(ngrams, lambda g: F.length(g) > 0)
