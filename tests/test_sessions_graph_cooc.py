"""Round-3 additions: sessionization, triangle counting, token
co-occurrence, and the end-to-end curation DAG."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F


def _stage_survivors(spark, docs, tmp_path, evals=None, **kwargs) -> dict:
    """Per-stage survivor counts of the checkpointed curation run over
    docs: the `_lineage` output_rows summed per stage, plus the first
    stage's input_rows (a stage-level count on every partition row) under
    "input"."""
    from finance_sc_relations_spark.plans.curate import (
        run_curation_checkpointed,
    )

    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    evals_path = None
    if evals is not None:
        evals_path = str(tmp_path / "evals.parquet")
        evals.write.parquet(evals_path)
    out = run_curation_checkpointed(
        spark, docs_path, tmp_path / "ckpt", eval_texts_path=evals_path,
        **kwargs,
    )
    lin = out["lineage"].toPandas()
    counts = lin.groupby("stage")["output_rows"].sum().to_dict()
    counts["input"] = lin.loc[lin["stage"] == "curate_lang", "input_rows"].max()
    return {k.removeprefix("curate_"): v for k, v in counts.items()}


def _ts(minutes: float) -> datetime:
    return datetime(2024, 1, 1) + timedelta(minutes=minutes)


def test_sessionize_gap_rule(spark):
    from finance_sc_relations_spark.operators.sessions import sessionize

    rows = [
        # user 1: two sessions (gap of 31 min between event 2 and 3)
        (0, _ts(0), 1, "click", 1.0, "{}"),
        (1, _ts(10), 1, "click", 2.0, "{}"),
        (2, _ts(41), 1, "click", 4.0, "{}"),
        # user 2: one session, exactly-30-min gap does NOT split
        (3, _ts(0), 2, "view", 1.5, "{}"),
        (4, _ts(30), 2, "view", 2.5, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    assert out[(1, 0)]["n_events"] == 2 and out[(1, 1)]["n_events"] == 1
    assert out[(2, 0)]["n_events"] == 2
    assert out[(1, 0)]["value_cents"] == 300
    assert out[(1, 0)]["end_us"] - out[(1, 0)]["start_us"] == 10 * 60 * 1_000_000


def test_triangle_count_small_graph(spark):
    from finance_sc_relations_spark.operators.graph import triangle_count

    # triangle a-b-c plus pendant edge c-d; directions/duplicates ignored
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4)],
        "subj_id long, obj_id long",
    )
    out = {r["entity_id"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_token_cooccurrence_counts(spark):
    from finance_sc_relations_spark.operators.text_stats import (
        token_cooccurrence,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta"),
            (2, "alpha delta"),
            (3, "beta beta alpha"),  # duplicate tokens count once per doc
        ],
        "doc_id long, text string",
    )
    out = {
        (r["token_a"], r["token_b"]): r
        for r in token_cooccurrence(docs, min_df=2).collect()
    }
    ab = out[("alpha", "beta")]
    assert ab["c_ab"] == 3 and ab["c_a"] == 4 and ab["c_b"] == 3
    assert ab["n_docs"] == 4
    # gamma/delta are below min_df=2: never paired
    assert all("gamma" not in k and "delta" not in k for k in out)
    import math

    assert ab["pmi"] == pytest.approx(math.log(4 * 3 / (4 * 3)))


def test_curate_corpus_stages_and_report(spark, tmp_path):
    """Survivors of each curation gate; the per-stage report is the
    checkpointed run's `_lineage`."""
    from finance_sc_relations_spark.plans.curate import curate_corpus

    good = (
        "the quick brown fox jumps over the lazy dog and it was a good day "
        "for all of the animals in the forest with many things to do "
    ) * 3
    other = (
        "markets were steady on tuesday as traders weighed the new report "
        "from the central bank about rates and the outlook for inflation "
    ) * 3
    docs = spark.createDataFrame(
        [
            (0, good + "unique one", "en-doc"),
            (1, "zzz qqq xxx !!!! ####", "junk"),          # fails quality
            (2, good + "unique one", "exact-dup of 0"),     # exact dup
            (3, good + "unique one extra", "near-dup of 0"),
            (4, other + "a keeper with a different body", "keeper"),
        ],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs.select("doc_id", "text", "source"),
        eval_texts=None,
        min_quality=0.5,
    )
    kept = sorted(r["doc_id"] for r in out["curated"].collect())
    # 1 fails quality; 2 exact-dups 0; 3 near-dups 0 (minhash); 0 & 4 remain
    assert kept == [0, 4]
    report = _stage_survivors(spark, docs, tmp_path, min_quality=0.5)
    assert report["input"] == 5
    assert report["quality"] == 4
    assert report["exact_dedup"] == 3
    assert report["near_dup"] == 2


def test_repetition_stats(spark):
    from finance_sc_relations_spark.operators.text_stats import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "One two. One two. Three four."),   # 1 dup sentence of 3
            (1, "spam spam spam spam"),              # top 2-gram dominates
            (2, ""),                                  # degenerate
            (3, "All distinct sentences here. Nothing repeats at all."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[0]["dup_sent_bp"] == 3333  # 1 - 2/3
    # 'spam spam' occupies all 3 of the 3 bigram slots
    assert out[1]["top_ngram_bp"] == 10000 and out[1]["dup_sent_bp"] == 0
    assert out[2]["dup_sent_bp"] == 0 and out[2]["top_ngram_bp"] == 0
    assert out[3]["dup_sent_bp"] == 0 and out[3]["top_ngram_bp"] < 10000


def test_asof_join_semantics(spark):
    """Inclusive equal-ts match, greatest-prior wins, null when no prior
    right row, tiebreak picks the greatest among equal-ts right rows."""
    from finance_sc_relations_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (0, "u1", _ts(10)),   # between r@5 and r@20 -> 5's value
            (1, "u1", _ts(20)),   # exactly at r@20 -> inclusive
            (2, "u1", _ts(1)),    # before any right row -> null
            (3, "u2", _ts(50)),   # other key, one prior
        ],
        "event_id long, user_id string, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts(5), 1.0, 100),
            ("u1", _ts(20), 2.0, 200),
            ("u1", _ts(20), 3.0, 201),  # equal ts: greatest tiebreak wins
            ("u2", _ts(49), 9.0, 300),
        ],
        "user_id string, ts timestamp_ntz, value double, rid long",
    )
    out = {
        r["event_id"]: r["asof_value"]
        for r in asof_join(
            left, right, by="user_id", ts_col="ts",
            value_cols=["value"], tiebreak="rid",
        ).collect()
    }
    assert out[0] == 1.0
    assert out[1] == 3.0  # inclusive + tiebreak rid=201 wins
    assert out[2] is None
    assert out[3] == 9.0


def test_new_operators_degenerate_inputs(spark):
    """Empty/singleton inputs: no crashes, sane outputs."""
    from finance_sc_relations_spark.operators.asof import asof_join
    from finance_sc_relations_spark.operators.graph import triangle_count
    from finance_sc_relations_spark.operators.sessions import sessionize

    empty_edges = spark.createDataFrame([], "subj_id long, obj_id long")
    assert triangle_count(empty_edges).count() == 0

    one_event = spark.createDataFrame(
        [(0, _ts(0), 7, "click", 1.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    rows = sessionize(one_event).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 1
    assert rows[0]["session_idx"] == 0

    # duplicate left rows at the same ts both receive the same match, and
    # the left frame's own columns survive untouched
    left = spark.createDataFrame(
        [(1, "u", _ts(10), "keep-a"), (2, "u", _ts(10), "keep-b")],
        "event_id long, user_id string, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [("u", _ts(5), 4.0)], "user_id string, ts timestamp_ntz, value double"
    )
    out = asof_join(left, right, by="user_id", ts_col="ts").collect()
    assert {r["event_id"]: r["asof_value"] for r in out} == {1: 4.0, 2: 4.0}
    assert {r["tag"] for r in out} == {"keep-a", "keep-b"}


def test_curate_decontaminate_stage(spark, tmp_path):
    """eval overlap drops a curated doc; the `_lineage` report carries the
    stage."""
    from finance_sc_relations_spark.plans.curate import curate_corpus

    body_a = (
        "the committee said that it would review the annual report and "
        "publish the findings for all of the members in the coming weeks "
    ) * 3
    body_b = (
        "markets were steady on tuesday as traders weighed a new report "
        "from the central bank about rates and the outlook for inflation "
    ) * 3
    docs = spark.createDataFrame(
        [(0, body_a, "s"), (1, body_b, "s")],
        "doc_id long, text string, source string",
    )
    evals = spark.createDataFrame([(body_a[:400],)], "text string")
    out = curate_corpus(docs, eval_texts=evals, min_quality=0.1)
    kept = [r["doc_id"] for r in out["curated"].collect()]
    assert kept == [1]
    report = _stage_survivors(spark, docs, tmp_path, evals, min_quality=0.1)
    assert report["near_dup"] == 2 and report["decontaminate"] == 1


def test_asof_join_null_fields_come_from_matched_row(spark):
    """A matched right row's NULL value column must surface as NULL (not
    fall back to an older row), and multiple value_cols must all come from
    the SAME matched right row — the struct-pack guarantee."""
    from finance_sc_relations_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(0, "u", _ts(30)), (1, "u", _ts(7))],
        "event_id long, user_id string, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            ("u", _ts(5), 1.0, "old"),
            # most recent row before ts=30 carries a NULL price but a
            # fresh label — both must be taken from THIS row
            ("u", _ts(20), None, "new"),
        ],
        "user_id string, ts timestamp_ntz, price double, label string",
    )
    out = {
        r["event_id"]: (r["asof_price"], r["asof_label"])
        for r in asof_join(
            left, right, by="user_id", ts_col="ts",
            value_cols=["price", "label"],
        ).collect()
    }
    assert out[0] == (None, "new")  # NOT (1.0, "new"): no column blending
    assert out[1] == (1.0, "old")


def test_triangle_count_degree_oriented_star(spark):
    """Degree orientation: a hub of degree 1000 contributes ZERO wedges
    (every edge points AT the hub), so the wedge join stays near-linear
    instead of O(d^2); triangles hanging off the hub are still found."""
    from finance_sc_relations_spark.operators.graph import (
        _orient_edges,
        triangle_count,
    )

    star = [(f"leaf{i}", "hub") for i in range(1000)]
    # one triangle among two leaves and the hub, one hub-free triangle
    extra = [("leaf0", "leaf1"), ("x", "y"), ("y", "z"), ("z", "x")]
    edges = spark.createDataFrame(star + extra, "subj_id string, obj_id string")

    oriented = _orient_edges(edges)
    outdeg = {r["src"]: r["n"] for r in
              oriented.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # hub (degree 1000) emits nothing; wedge rows = sum C(outdeg, 2)
    assert "hub" not in outdeg
    wedge_rows = sum(d * (d - 1) // 2 for d in outdeg.values())
    assert wedge_rows <= 5  # near-linear: ~1 wedge per triangle, not 500k

    out = {r["entity_id"]: r["n_triangles"]
           for r in triangle_count(edges).collect()}
    assert out == {"hub": 1, "leaf0": 1, "leaf1": 1, "x": 1, "y": 1, "z": 1}


def test_token_cooccurrence_per_doc_cap(spark):
    """max_tokens_per_doc keeps each doc's rarest frequent tokens and
    leaves under-cap corpora byte-identical."""
    from finance_sc_relations_spark.operators.text_stats import (
        token_cooccurrence,
    )

    # 'common' appears in 3 docs (df=3), rare pair tokens in 2 each
    docs = spark.createDataFrame(
        [
            (0, "common ra rb"),
            (1, "common ra rb"),
            (2, "common other"),
        ],
        "doc_id long, text string",
    )
    base = {
        (r["token_a"], r["token_b"]): r["c_ab"]
        for r in token_cooccurrence(docs, min_df=2).collect()
    }
    # cap larger than any doc: identical output
    capped_loose = {
        (r["token_a"], r["token_b"]): r["c_ab"]
        for r in token_cooccurrence(
            docs, min_df=2, max_tokens_per_doc=10
        ).collect()
    }
    assert capped_loose == base

    # cap of 2: docs 0/1 keep their two RAREST tokens (ra, rb; df=2 beats
    # common's df=3) and drop 'common'
    capped = {
        (r["token_a"], r["token_b"]): r["c_ab"]
        for r in token_cooccurrence(
            docs, min_df=2, max_tokens_per_doc=2
        ).collect()
    }
    assert capped == {("ra", "rb"): 2}


def test_copurchase_hot_supplier_aqe_skew_split(spark):
    """Skew evidence for the khop_2 co-purchase self-join: the join is on
    the supplier key, so a hot supplier's partition fans out quadratically.
    The engine's backstop is AQE skew-join — this test plants one supplier
    with 80x the median degree, lowers the skew thresholds to fixture
    scale, executes the SAME join shape khop_2 uses, and asserts the final
    adaptive plan split the skewed partitions (SortMergeJoin(skew=true))."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        rows = [(0, c) for c in range(4000)] + [
            (s, c) for s in range(1, 51) for c in range(5)
        ]
        edges = spark.createDataFrame(rows, "subj_id long, obj_id long")
        a = edges.select(F.col("subj_id").alias("s"), F.col("obj_id").alias("c_a"))
        b = edges.select(F.col("subj_id").alias("s"), F.col("obj_id").alias("c_b"))
        co = a.join(b, "s").filter(F.col("c_a") != F.col("c_b"))
        qe = co._jdf.queryExecution()
        n = qe.executedPlan().execute().count()  # run THIS plan object
        plan = qe.executedPlan().toString()
        assert n == 4000 * 3999 + 50 * 5 * 4
        assert "skew=true" in plan, plan.splitlines()[:20]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
