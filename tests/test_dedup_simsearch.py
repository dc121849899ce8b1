"""Dedup tiers + ANN: approximate tiers verified against exact ground truth."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from finance_sc_relations_spark.operators import dedup as D
from finance_sc_relations_spark.operators import simsearch as S
from finance_sc_relations_spark.operators import text_stats as T


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic docs with planted near-duplicates."""
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "engineers review the quarterly supply chain report in detail"
    )
    rows = []
    for i in range(40):
        rows.append((i, f"document number {i} " + base + f" unique token{i}"))
    # exact duplicates
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1]))
    # near duplicate (one word changed)
    rows.append((102, rows[2][1].replace("quarterly", "monthly")))
    # unrelated
    rows.append((103, "completely different text about gardening and tulips"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_keeps_min_id(spark, docs):
    out = D.exact_dedup(docs).toPandas()
    assert 100 not in set(out["doc_id"])  # duplicate of doc 0
    assert 101 not in set(out["doc_id"])
    assert 0 in set(out["doc_id"]) and 1 in set(out["doc_id"])
    assert len(out) == docs.count() - 2


def _exact_jaccard(a: str, b: str, n: int) -> float:
    def grams(t):
        ws = t.lower().split()
        return {" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1))}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def test_ngram_jaccard_matches_bruteforce(spark, docs):
    pdf = docs.toPandas().set_index("doc_id")["text"]
    got = D.ngram_jaccard_pairs(docs, n=3, threshold=0.6).toPandas()
    got_pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples(index=False)}
    ids = sorted(pdf.index)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            exact = _exact_jaccard(pdf[a], pdf[b], 3)
            if exact >= 0.6:
                assert (a, b) in got_pairs, (a, b, exact)
                assert abs(got_pairs[(a, b)] - exact) < 1e-3
            else:
                assert (a, b) not in got_pairs or got_pairs[(a, b)] >= 0.6


def test_ngram_jaccard_invariant_under_ultra_common_gram(spark):
    """Prefix filtering must keep the pair set EXACT even when one gram is
    shared by every document (the web-corpus stopword-shingle case that makes
    a naive posting join quadratic): the common gram sorts last in df order,
    stays out of every prefix, and still counts via array_intersect verify."""
    rows = []
    for i in range(60):
        rows.append((i, f"COMMON shared filler alpha{i} beta{i} gamma{i} delta{i}"))
    # planted near-dup pair: differs in one trailing word
    rows.append((200, "COMMON shared filler alpha1 beta1 gamma1 echo"))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = D.ngram_jaccard_pairs(docs, n=1, threshold=0.6).toPandas()
    got_pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples(index=False)}
    pdf = docs.toPandas().set_index("doc_id")["text"]
    ids = sorted(pdf.index)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            exact = _exact_jaccard(pdf[a], pdf[b], 1)
            if exact >= 0.6:
                expected[(a, b)] = exact
    assert set(got_pairs) == set(expected)
    assert (1, 200) in got_pairs
    for p, j in expected.items():
        assert abs(got_pairs[p] - j) < 1e-3


def test_minhash_finds_planted_dups(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, num_perm=64, bands=16, threshold=0.7).toPandas()
    found = {(r.id_a, r.id_b) for r in pairs.itertuples(index=False)}
    assert (0, 100) in found
    assert (1, 101) in found
    assert (2, 102) in found  # near-dup
    # estimated jaccard of exact dup ~1.0
    exact_row = pairs[(pairs.id_a == 0) & (pairs.id_b == 100)]
    assert exact_row["est_jaccard"].iloc[0] == 1.0
    # unrelated doc never pairs
    assert not any(103 in p for p in found)


def test_simhash_exact_dup_distance_zero(spark, docs):
    pairs = D.simhash_near_pairs(docs, max_hamming=3).toPandas()
    d = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples(index=False)}
    assert d.get((0, 100)) == 0
    assert d.get((1, 101)) == 0
    assert (2, 102) in d  # near-dup within small hamming distance


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((60, 16)).astype("float32")
    vecs[50] = vecs[0] + rng.standard_normal(16).astype("float32") * 0.01  # near-dup
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dups(spark, embeddings):
    pairs = D.embedding_near_dup_pairs(embeddings, threshold=0.99).toPandas()
    found = {(r.id_a, r.id_b) for r in pairs.itertuples(index=False)}
    assert (0, 50) in found


def test_lsh_topk_recall_vs_bruteforce(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(embeddings, queries, k=5).toPandas()
    ann = S.lsh_topk(
        embeddings, queries, dim=16, k=5, bands=16, bits_per_band=2
    ).toPandas()
    recall_hits = 0
    total = 0
    for q in range(8):
        b = set(brute[brute.query_id == q]["vec_id"])
        a = set(ann[ann.query_id == q]["vec_id"])
        recall_hits += len(a & b)
        total += len(b)
    assert recall_hits / total >= 0.6  # tunable recall; exact tier is brute


def test_brute_force_topk_correct(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = S.brute_force_topk(embeddings, queries, k=1).toPandas()
    assert top.iloc[0]["vec_id"] == 50  # the planted near-dup is rank 1


def test_lang_id_detects_cjk_and_english(spark):
    df = spark.createDataFrame(
        [
            (1, "the company and its suppliers are of the industry"),
            (2, "这是一个中文文档 关于供应链的内容"),
            (3, "der Lieferant und die Kunden sind ein Teil der Kette schlecht"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["detected_lang"] for r in T.lang_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "zh"
    assert out[3] == "de"


def test_quality_and_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog."),
         (2, "!!! ??? ... ;;; ###"),
         (3, "")],
        "doc_id long, text string",
    )
    out = T.text_stats(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_tokens"] == 10  # 9 words + final period
    assert out.loc[1, "quality"] > out.loc[2, "quality"]
    assert out.loc[2, "punct_ratio"] > 0.5


def test_ivf_topk_recall_vs_bruteforce(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(embeddings, queries, k=5).toPandas()
    ivf = S.ivf_topk(
        embeddings, queries, dim=16, k=5, n_cells=8, n_probe=4
    ).toPandas()
    hits, total = 0, 0
    for q in range(8):
        b = set(brute[brute.query_id == q]["vec_id"])
        a = set(ivf[ivf.query_id == q]["vec_id"])
        hits += len(a & b)
        total += len(b)
    assert hits / total >= 0.6
    # the planted near-dup of vec 0 must be found at rank 1
    top0 = ivf[(ivf.query_id == 0) & (ivf["rank"] == 1)]
    assert top0.iloc[0]["vec_id"] == 50


def test_embedding_near_dup_lsh_finds_planted(spark, embeddings):
    got = D.embedding_near_dup_pairs_lsh(
        embeddings, dim=16, threshold=0.99, bands=16, bits_per_band=2
    ).toPandas()
    found = {(r.id_a, r.id_b) for r in got.itertuples(index=False)}
    assert (0, 50) in found
    # every LSH-verified pair is also in the exact tier (no false positives
    # survive verification)
    exact = D.embedding_near_dup_pairs(embeddings, threshold=0.99).toPandas()
    exact_set = {(r.id_a, r.id_b) for r in exact.itertuples(index=False)}
    assert found <= exact_set


def test_embedding_near_dup_lsh_equals_exact_on_testdata(spark):
    """Driver-entry parameters (bands=16, bits=4, seed 42) deterministically
    capture EVERY pair at threshold 0.45 on the shared sf0.01 fixture — the
    LSH scale path and the exact crossJoin tier emit identical pair sets."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = D.embedding_near_dup_pairs(emb, threshold=0.45).toPandas()
    lsh = D.embedding_near_dup_pairs_lsh(
        emb, dim=64, threshold=0.45, bands=16, bits_per_band=4
    ).toPandas()
    e = {(r.id_a, r.id_b, r.cosine) for r in exact.itertuples(index=False)}
    l = {(r.id_a, r.id_b, r.cosine) for r in lsh.itertuples(index=False)}
    assert e == l and len(e) > 0


def test_ivf_training_sample_is_driver_bounded(spark, embeddings):
    """The driver-side k-means training matrix must stay hard-bounded no
    matter the corpus size (a 10^12-row toPandas would OOM the driver)."""
    mat = S._collect_training_sample(embeddings, max_sample_rows=20, seed=42,
                                     vec_col="embedding")
    assert mat.shape[0] <= 20
    # and training still yields usable centroids from the bounded sample
    cents = S.train_ivf_centroids(embeddings, dim=16, n_cells=4,
                                  max_sample_rows=20)
    assert cents.shape == (4, 16)


def test_near_dup_clusters_planted(spark, docs):
    """Exact dups + the near-dup chain collapse into one cluster each with
    the min doc_id canonical; the unrelated doc is its own cluster."""
    # threshold 0.95: exact dups (est 1.0) pair; ~0.7-similar template
    # siblings and the one-word near-dup (est just under) do not
    out = D.near_dup_clusters(
        docs, num_perm=64, bands=16, threshold=0.95
    ).toPandas().set_index("doc_id")
    assert out.loc[100, "cluster_id"] == 0 and not out.loc[100, "is_canonical"]
    assert out.loc[0, "is_canonical"] and out.loc[0, "cluster_id"] == 0
    assert out.loc[101, "cluster_id"] == 1
    assert out.loc[103, "is_canonical"] and out.loc[103, "cluster_id"] == 103
    # exactly one canonical per cluster
    per = out.groupby("cluster_id")["is_canonical"].sum()
    assert (per == 1).all()


def test_near_dup_clusters_job_count(spark, docs, count_jobs):
    """The near-dup decision layer costs a fixed number of jobs: one
    MinHash pass (the signature UDF appears once in the executed plan)
    and a connected-components kernel that runs no propagation round
    while the edges fit one union-find task."""
    def run():
        D.near_dup_clusters(docs, threshold=0.95).write.format(
            "noop").mode("overwrite").save()

    # the MinHash shuffle and edge checkpoint, the union-find task, and
    # the final relabeling join with its write
    assert count_jobs(run) <= 8
    pairs = D.minhash_lsh_pairs(docs, threshold=0.95)
    pairs.collect()
    adaptive = pairs._jdf.queryExecution().executedPlan()
    assert adaptive.toString().startswith("AdaptiveSparkPlan isFinalPlan=true")
    final = adaptive.executedPlan().toString()
    assert final.count("MapInPandas") == 1, final


def test_near_dup_clusters_transitive_chain(spark):
    """Explicit pair graph: a-b, b-c, plus isolated d — one component with
    min-id canonical, singleton untouched."""
    docs = spark.createDataFrame(
        [(10, "x"), (11, "x"), (12, "x"), (13, "y")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(10, 11), (11, 12)], "id_a long, id_b long")
    out = D.near_dup_clusters(docs, pairs=pairs).toPandas().set_index("doc_id")
    assert set(out.loc[[10, 11, 12], "cluster_id"]) == {10}
    assert out.loc[10, "is_canonical"] and not out.loc[11, "is_canonical"]
    assert out.loc[13, "cluster_id"] == 13 and out.loc[13, "is_canonical"]


def test_sample_token_budget(spark):
    """Budgeted sampling keeps <= budget tokens per stratum, is deterministic,
    and takes docs in the seeded md5 order (prefix property: a bigger budget
    yields a superset)."""
    rows = [(i, " ".join(f"w{j}" for j in range(10)), "en") for i in range(30)]
    rows += [(100 + i, "kurz satz hier", "de") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    small = T.sample_token_budget(df, tokens_per_stratum=50).toPandas()
    per = small.groupby("lang")["n_tokens"].sum()
    assert (per <= 50).all()
    assert per["en"] == 50  # 5 docs x 10 tokens fill the budget exactly
    big = T.sample_token_budget(df, tokens_per_stratum=100).toPandas()
    assert set(small.doc_id) <= set(big.doc_id)  # prefix property
    again = T.sample_token_budget(df, tokens_per_stratum=50).toPandas()
    assert sorted(small.doc_id) == sorted(again.doc_id)


def test_decontaminate_removes_eval_overlap(spark):
    words = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, words + " unique tail one"),
         (2, "completely unrelated short text"),
         (3, "prefix words " + " ".join(f"tok{i}" for i in range(5, 19)))],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(words,)], "text string")
    kept = set(D.decontaminate(docs, evals, n=13).toPandas().doc_id)
    # doc 1 shares full 13-grams with the eval text; doc 3 shares a 14-token
    # window (tok5..tok18) -> also contaminated; doc 2 survives
    assert kept == {2}
    # short n (harder gate) still keeps the clean doc
    kept5 = set(D.decontaminate(docs, evals, n=5).toPandas().doc_id)
    assert 2 in kept5


def test_near_dup_clusters_long_chain_pointer_jumping(spark, monkeypatch):
    """A 30-node chain (the ADVICE r2 repro: one-hop propagation yields 10
    split clusters at the default iteration cap) must converge to ONE
    component with one canonical row — pointer jumping gives O(log n)
    rounds. Two edges per union-find task spread the chain over many
    partitions, so the merge runs the propagation loop."""
    import warnings

    from finance_sc_relations_spark.operators import cc
    from finance_sc_relations_spark.operators.dedup import near_dup_clusters

    monkeypatch.setattr(cc, "EDGES_PER_TASK", 2)
    n = 30
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "id_a long, id_b long, est_jaccard double",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # convergence warning must NOT fire
        out = near_dup_clusters(docs, pairs=pairs, max_iterations=8).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert sum(r["is_canonical"] for r in out) == 1


def test_near_dup_clusters_warns_when_cap_hit(spark, monkeypatch):
    import pytest

    from finance_sc_relations_spark.operators import cc
    from finance_sc_relations_spark.operators.dedup import near_dup_clusters

    monkeypatch.setattr(cc, "EDGES_PER_TASK", 2)
    n = 40
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "id_a long, id_b long, est_jaccard double",
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        near_dup_clusters(docs, pairs=pairs, max_iterations=1).collect()


def test_simhash_pairs_equal_bruteforce_banding_free(spark):
    """r6 restructure evidence: the distinct-signature + first-matching-
    block shape must emit EXACTLY the brute-force Hamming pair set (each
    unordered pair once, id_a < id_b), including intra-cluster Hamming-0
    pairs and pairs that agree on several blocks (the old dropDuplicates
    path's job)."""
    texts = []
    for i in range(40):
        # three near-identical families + unique tail => identical-sig
        # clusters AND multi-block agreements
        fam = i % 3
        base = f"family {fam} shares almost all of its words " * 5
        texts.append((i, base + (f"tail {i // 12}" if fam == 0 else "")))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_near_pairs(docs, max_hamming=3)
        .toPandas()
        .itertuples(index=False)
    }
    sigs = {
        r.id: r.simhash
        for r in D.simhash_signatures(docs).toPandas().itertuples(index=False)
    }
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            # pigeonhole banding guarantees capture only within hamming 3
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect and len(expect) > 0
