"""Round-4 additions: duplicate-substring spans and BM25 top terms."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


PASSAGE = "the quick brown fox jumps over the lazy dog near the old river bank today"


def test_duplicate_spans_merge_and_offsets(spark):
    from finance_sc_relations_spark.operators.dedup import duplicate_spans

    # passage is 15 tokens; with n=5 it is duplicated across docs 0/1;
    # doc 2 shares nothing long enough; doc 3 repeats the passage twice
    # with a unique separator -> two spans
    uniq = lambda tag, k: " ".join(f"{tag}{i}" for i in range(k))
    docs = spark.createDataFrame(
        [
            (0, f"{uniq('a', 6)} {PASSAGE} {uniq('b', 4)}"),
            (1, f"{uniq('c', 3)} {PASSAGE}"),
            (2, "the quick brown fox left " + uniq("d", 10)),
            (3, f"{PASSAGE} {uniq('e', 7)} {PASSAGE}"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["span_start"]): r
        for r in duplicate_spans(docs, n=5).collect()
    }
    n_pass = len(PASSAGE.split())
    # doc 0: passage occupies tokens [6, 6+15)
    assert out[(0, 6)]["span_end"] == 6 + n_pass
    assert out[(0, 6)]["n_windows"] == n_pass - 5 + 1
    # doc 1: offset 3
    assert out[(1, 3)]["span_end"] == 3 + n_pass
    # doc 3: two separate maximal spans (separator breaks the island)
    d3 = sorted(k for k in out if k[0] == 3)
    assert d3 == [(3, 0), (3, n_pass + 7)]
    assert out[(3, 0)]["span_end"] == n_pass
    # doc 2: no 5-gram shared -> no rows
    assert not any(k[0] == 2 for k in out)


def test_duplicate_spans_degenerate(spark):
    from finance_sc_relations_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(0, "short doc"), (1, ""), (2, "short doc")],
        "doc_id long, text string",
    )
    # docs shorter than n emit no windows at all
    assert duplicate_spans(docs, n=13).count() == 0
    # n=2: 'short doc' duplicated across docs 0 and 2
    rows = duplicate_spans(docs, n=2).collect()
    assert {(r["doc_id"], r["span_start"], r["span_end"]) for r in rows} == {
        (0, 0, 2),
        (2, 0, 2),
    }


def test_bm25_math_and_determinism(spark):
    from finance_sc_relations_spark.operators.text_stats import bm25_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple cherry"),
            (1, "apple banana banana date"),
            (2, "apple cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    out = bm25_top_terms(docs, k=10, min_df=2).collect()
    rows = {(r["doc_id"], r["token"]): r for r in out}
    # hand-computed BM25 for (doc 0, 'cherry'): tf=1, df=2, N=3,
    # dl=4, avgdl=13/3
    N, df, tf, dl, avgdl = 3, 2, 1, 4, 13 / 3
    idf = math.log(1 + (N - df + 0.5) / (df + 0.5))
    score = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    want_bp = math.floor(score * 10000 + 0.5)
    got = rows[(0, "cherry")]
    assert (got["tf"], got["df"], got["score_bp"]) == (1, 2, want_bp)
    # rank is deterministic: per doc, strictly ordered by
    # (score_bp desc, token asc) with no gaps
    for d in (0, 1, 2):
        seq = sorted(
            (r for k, r in rows.items() if k[0] == d),
            key=lambda r: r["rank"],
        )
        assert [r["rank"] for r in seq] == list(range(1, len(seq) + 1))
        keys = [(-r["score_bp"], r["token"]) for r in seq]
        assert keys == sorted(keys)
    # singleton tokens (df=1) never scored
    assert not any(r["df"] < 2 for r in out)


def test_bm25_quantization_margin(spark):
    """The cross-engine hash safety of score_bp rests on both engines'
    doubles quantizing identically: assert every fixture score sits far
    (>1e-6) from a basis-point rounding boundary, so a last-ulp libm
    difference between java.lang.Math.log and C ln cannot flip a bucket."""
    from finance_sc_relations_spark.operators.text_stats import bm25_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = bm25_top_terms(docs, k=5).collect()
    # brute recompute in python with float64 over the same corpus
    import collections

    pdf = docs.select("doc_id", "text").toPandas()
    tf = collections.Counter()
    dls = collections.Counter()
    dfc = collections.Counter()
    for rec in pdf.itertuples(index=False):
        toks = [t for t in rec.text.lower().strip().split() if t]
        for t in toks:
            tf[(rec.doc_id, t)] += 1
            dls[rec.doc_id] += 1
        for t in set(toks):
            dfc[t] += 1
    N = len(dls)
    avgdl = sum(dls.values()) / N
    frac_gaps = []
    for r in rows:
        t_f = tf[(r["doc_id"], r["token"])]
        d_f = dfc[r["token"]]
        dl = dls[r["doc_id"]]
        idf = math.log(1 + (N - d_f + 0.5) / (d_f + 0.5))
        x = idf * t_f * 2.2 / (t_f + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 10000 + 0.5
        assert math.floor(x) == r["score_bp"]
        frac_gaps.append(min(x % 1, 1 - (x % 1)))
    assert min(frac_gaps) > 1e-6


def test_sketch_aggregates_track_exact(spark):
    """The approximate siblings of percentile_profile — percentile_approx
    and approx_count_distinct, the 100-TB path where exact sorts/distincts
    are unaffordable — stay within their documented error bands of the
    exact aggregates on the fixture events table."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.9)).alias("p90"),
            F.countDistinct("user_id").alias("nd"),
        )
        .collect()
    }
    approx = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("p90"),
            F.approx_count_distinct("user_id", 0.02).alias("nd"),
        )
        .collect()
    }
    assert set(exact) == set(approx) and len(exact) >= 3
    for et, e in exact.items():
        a = approx[et]
        # percentile_approx returns a real data point near the true rank
        assert abs(a["p90"] - e["p90"]) <= max(0.05 * abs(e["p90"]), 1e-9)
        # HLL++ at rsd=0.02: allow 3 sigma
        assert abs(a["nd"] - e["nd"]) <= max(0.06 * e["nd"], 2)


def test_kg_negative_samples_filtered_setting(spark):
    from finance_sc_relations_spark.operators.negatives import (
        entity_pool,
        kg_negative_samples,
    )

    triples = spark.createDataFrame(
        [
            ("r0", "a", "supplies_to", "b"),
            ("r1", "b", "supplies_to", "c"),
            ("r2", "c", "supplies_to", "d"),
            ("r3", "d", "supplies_to", "a"),
        ],
        "r_id string, subj_id string, pred string, obj_id string",
    )
    out = kg_negative_samples(triples, k=4, max_pool=10).collect()
    assert len(out) > 0
    true = {("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")}
    for r in out:
        # filtered setting: no emitted negative is a true triple
        assert (r["subj_id"], r["obj_id"]) not in true
        # exactly one side was corrupted, consistent with the marker
        orig = {"r0": ("a", "b"), "r1": ("b", "c"),
                "r2": ("c", "d"), "r3": ("d", "a")}[r["r_id"]]
        if r["corrupted"] == "subj":
            assert r["obj_id"] == orig[1] and r["subj_id"] != orig[0]
        else:
            assert r["subj_id"] == orig[0] and r["obj_id"] != orig[1]
    # at most k per positive, deterministic across runs
    import collections

    per = collections.Counter(r["r_id"] for r in out)
    assert all(v <= 4 for v in per.values())
    again = kg_negative_samples(triples, k=4, max_pool=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # pool is content-keyed and hard-bounded
    pool = entity_pool(triples, max_pool=3)
    assert len(pool) == 3 and pool == entity_pool(triples, max_pool=3)


def test_cut_duplicate_spans_surgery(spark):
    from finance_sc_relations_spark.operators.dedup import cut_duplicate_spans

    docs = spark.createDataFrame(
        [
            (0, "aa bb cc SHARED ONE TWO THREE FOUR FIVE zz"),
            (1, "SHARED ONE TWO THREE FOUR FIVE yy ww"),
            (2, "Totally  Unique   text here"),
            (3, "SHARED ONE TWO THREE FOUR FIVE"),  # fully duplicated
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["clean_text"]
           for r in cut_duplicate_spans(docs, n=3).collect()}
    # duplicated passage removed, surrounding unique text survives
    assert out[0] == "aa bb cc zz"
    assert out[1] == "yy ww"
    # untouched doc passes through tokenization-normalized (lowercased,
    # single spaces — the same view the span detector indexed)
    assert out[2] == "totally unique text here"
    # a fully-duplicated doc cuts to the empty string
    assert out[3] == ""
