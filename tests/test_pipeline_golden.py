"""Golden end-to-end tests on the deterministic fixture corpus.

BASELINE.md targets: triple P/R >= 0.95, byte-identical cleaned text per url,
reverse-ensemble + position-mean semantics.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from finance_sc_relations_spark.functions.text_clean import rm_special_char
from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline
from finance_sc_relations_spark.operators.segment import segment_sentences


@pytest.fixture(scope="module")
def pipeline_output(spark, fixture_corpus):
    pages_pdf, gold_pdf, companies_pdf = fixture_corpus
    pages = spark.createDataFrame(pages_pdf)
    company_dict = spark.createDataFrame(companies_pdf)
    out = run_pipeline(spark, pages, company_dict, PipelineConfig())
    return out, gold_pdf


def test_triple_precision_recall(pipeline_output):
    out, gold_pdf = pipeline_output
    got = (
        out["linked_triples"]
        .select("sentence_id", "subj_id", "obj_id")
        .distinct()
        .toPandas()
    )
    gold = gold_pdf[["sentence_id", "subj_id", "obj_id"]].drop_duplicates()
    got_set = set(map(tuple, got.values))
    gold_set = set(map(tuple, gold.values))
    tp = len(got_set & gold_set)
    precision = tp / max(len(got_set), 1)
    recall = tp / max(len(gold_set), 1)
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"


def test_cleaned_text_byte_identical(spark, fixture_corpus):
    """Spark-side cleaned+segmented text must equal the in-process reference
    rm_special_char output per url (src/utils/data_clean.py:5-6)."""
    pages_pdf, _, _ = fixture_corpus
    sample = pages_pdf[pages_pdf.lang == "en"].head(50)
    pages = spark.createDataFrame(sample)
    sent = segment_sentences(pages, lang="en")
    spark_joined = (
        sent.groupBy("url")
        .agg(F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("sent_index", "sentence"))
                                           ).getField("sentence")).alias("clean"))
        .toPandas()
        .set_index("url")["clean"]
    )
    for _, row in sample.iterrows():
        expected = rm_special_char(row["text"])
        assert spark_joined[row["url"]] == expected, row["url"]


def test_edges_direction_normalized(pipeline_output):
    out, _ = pipeline_output
    preds = [r["pred"] for r in out["edges"].select("pred").distinct().collect()]
    assert preds == ["supplies_to"]


def test_multi_org_gate(pipeline_output):
    out, _ = pipeline_output
    assert out["multi_org"].filter(F.col("num_orgs") <= 1).count() == 0


def test_global_edges_consistent_with_page_edges(pipeline_output):
    out, _ = pipeline_output
    page_pairs = (
        out["edges"].select("subj_id", "obj_id").distinct()
    )
    global_pairs = out["edges_global"].select("subj_id", "obj_id").distinct()
    assert page_pairs.exceptAll(global_pairs).count() == 0
    assert global_pairs.exceptAll(page_pairs).count() == 0


def test_deterministic_rerun(spark, fixture_corpus):
    """Same input -> identical triple set (mutation seeding, grouping and
    linking are all deterministic). Each run's persisted frames are
    returned under "cached", and unpersisting them releases every block
    the run pinned (garbage collection alone does not)."""
    pages_pdf, _, companies_pdf = fixture_corpus
    pages = spark.createDataFrame(pages_pdf.head(60))
    cd = spark.createDataFrame(companies_pdf)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    n0 = persistent().size()
    out = run_pipeline(spark, pages, cd)
    a = out["linked_triples"].toPandas()
    assert len(out["cached"]) == 5
    assert persistent().size() == n0 + 5
    for df in out["cached"]:
        df.unpersist()
    assert persistent().size() == n0
    b = run_pipeline(spark, pages, cd)["linked_triples"].toPandas()
    key = ["sentence_id", "r_id", "subj_id", "obj_id"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_html_fallback_extraction(spark):
    """Rows with null text fall back to JVM-side html extraction."""
    import pandas as pd
    from datetime import datetime, timezone
    from finance_sc_relations_spark.fixtures import company_universe
    from finance_sc_relations_spark.plans.pipeline import run_pipeline

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    html = (b"<html><head><style>p{color:red}</style></head><body>"
            b"<p>Sonexa Inc supplies components to Veltrix Systems Inc.</p>"
            b"<script>var x=1;</script></body></html>")
    pages = spark.createDataFrame(
        pd.DataFrame([dict(url="h1", warc_ts=ts, html=html, text=None, lang="en")])
    )
    cd = spark.createDataFrame(company_universe())
    out = run_pipeline(spark, pages, cd)
    rows = out["linked_triples"].collect()
    assert len(rows) == 1
    assert rows[0]["subj_surface"] == "Sonexa Inc"
    assert rows[0]["obj_surface"] == "Veltrix Systems Inc"


def test_fused_equals_unfused_extraction(spark, fixture_corpus, fused_and_unfused):
    """The fused tagging+scoring path must be semantically identical to the
    composable two-stage path."""
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline

    pages_pdf, _, companies_pdf = fixture_corpus
    pages = spark.createDataFrame(pages_pdf.head(80))
    cd = spark.createDataFrame(companies_pdf)
    cfg = PipelineConfig()
    fused, unfused = fused_and_unfused(run_pipeline(spark, pages, cd, cfg), cfg)
    assert fused == unfused and len(fused) > 0


def test_standalone_sc_classifier_matches_fused(spark, fixture_corpus):
    """The composable sc_classify operator and the fused with_sc NER pass
    agree on every sentence."""
    from finance_sc_relations_spark.operators.ner import detect_mentions
    from finance_sc_relations_spark.operators.sc_classifier import sc_classify
    from finance_sc_relations_spark.operators.segment import segment_sentences
    from finance_sc_relations_spark.fixtures import company_universe

    pages_pdf, _, _ = fixture_corpus
    pages = spark.createDataFrame(pages_pdf.head(40))
    cd = company_universe()
    sent = segment_sentences(pages)
    fused = detect_mentions(sent, cd, include_spans=False, with_sc=True)
    standalone = sc_classify(
        detect_mentions(sent, cd, include_spans=False, with_sc=False)
    )
    a = {r["sentence_id"]: (r["sc_label"], round(r["sc_score"], 5))
         for r in fused.select("sentence_id", "sc_label", "sc_score").collect()}
    b = {r["sentence_id"]: (r["sc_label"], round(r["sc_score"], 5))
         for r in standalone.select("sentence_id", "sc_label", "sc_score").collect()}
    assert a == b


def test_extreme_skew_salted_aggregation(spark):
    """90% of pages mention the same hot pair: the salted two-phase global
    rollup must still produce exact counts and scores (north-rule skew
    requirement)."""
    import pandas as pd
    from datetime import datetime, timezone
    from pyspark.sql import functions as F
    from finance_sc_relations_spark.fixtures import company_universe
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(300):
        if i % 10 != 0:  # 90% hot pair
            text = "Quantrix Semiconductors Corporation supplies components to Borealis Logistics Group."
        else:
            text = f"Sonexa Inc supplies components to Veltrix Systems Inc."
        rows.append(dict(url=f"u{i}", warc_ts=ts, html=b"", text=text, lang="en"))
    pages = spark.createDataFrame(pd.DataFrame(rows))
    cd = spark.createDataFrame(company_universe())
    out = run_pipeline(spark, pages, cd, PipelineConfig(salt_buckets=8))
    g = out["edges_global"].toPandas().set_index(["subj_id", "obj_id"])
    # hot pair: 270 evidence rows aggregated exactly despite salting
    hot = g[g.n_evidence == 270]
    assert len(hot) == 1
    assert hot.iloc[0]["score"] == pytest.approx(270 * 0.97, rel=1e-6)
    cold = g[g.n_evidence == 30]
    assert len(cold) == 1


def test_sc_token_id_seam(spark):
    """The SC classifier's C2 contract (tokenizers.py:14-44
    batch_encode_plus: truncate to max_length, pad to the FIXED width): a
    model exposing score_ids_batch(ids, attention_mask) receives a
    (B, max_length) matrix + mask through the broadcast-model seam;
    SCProbeModel validates the contract and echoes (width, true_length)."""
    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
    )
    from finance_sc_relations_spark.operators.models import (
        SCProbeModel,
        serialize_model,
    )
    from finance_sc_relations_spark.operators.sc_classifier import sc_classify

    sents = [
        "acme supplies widgets to zenith",
        "acme supplies widgets to zenith " + " ".join(["filler"] * 80),
    ]
    tok = build_re_tokenizer(sents, vocab_size=300, min_freq=1)
    tok_bc = spark.sparkContext.broadcast(tok)
    model_bc = spark.sparkContext.broadcast(
        serialize_model("sc_probe", SCProbeModel())
    )
    mentions = spark.createDataFrame(
        [(f"s{i}", s) for i, s in enumerate(sents)],
        "sentence_id string, sentence string",
    ).coalesce(1)
    rows = {
        r["sentence_id"]: (int(r["sc_label"]), float(r["sc_score"]))
        for r in sc_classify(
            mentions,
            model_broadcast=model_bc,
            tokenizer_broadcast=tok_bc,
            max_length=32,
        ).collect()
    }
    short_len = len(tok.encode(sents[0], max_length=32))
    # probe echoes (neg=width, pos=true_length); label=argmax, score=max
    assert rows["s0"] == (0, 32.0)  # width 32 > short true length
    assert short_len < 32
    # the long sentence saturates max_length: true length == width == 32,
    # argmax breaks to label 0 with score 32
    assert rows["s1"] == (0, 32.0)

    # per-row detail through a direct probe call: true lengths differ
    from finance_sc_relations_spark.functions.wordpiece import pad_batch

    enc = [tok.encode(s, max_length=32) for s in sents]
    ids, mask = pad_batch(enc, tok.pad_token_id, width=32)
    scores = SCProbeModel().score_ids_batch(ids, mask)
    assert scores[0].tolist() == [32.0, float(short_len)]
    assert scores[1].tolist() == [32.0, 32.0]

    # without a tokenizer the string path still runs (lexical default)
    plain = sc_classify(mentions).collect()
    assert {r["sc_label"] for r in plain} == {1}  # supply cue present


def test_sc_seam_reaches_fused_ner_pass(spark):
    """The C1-C3 drop-in must reach the PRODUCTION fused pass: a broadcast
    SC model + tokenizer wired through PipelineConfig changes the fused
    detect_mentions sc scores exactly as it changes standalone sc_classify
    (shared sc_scores kernel)."""
    from finance_sc_relations_spark.fixtures import company_universe
    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
    )
    from finance_sc_relations_spark.operators.models import (
        SCProbeModel,
        serialize_model,
    )
    from finance_sc_relations_spark.operators.ner import detect_mentions
    from finance_sc_relations_spark.operators.sc_classifier import sc_classify

    sents_txt = [
        "Acme Corp supplies widgets to Zenith Holdings",
        "the weather was pleasant in october",
    ]
    tok_bc = spark.sparkContext.broadcast(
        build_re_tokenizer(sents_txt, vocab_size=300, min_freq=1)
    )
    model_bc = spark.sparkContext.broadcast(
        serialize_model("sc_probe", SCProbeModel())
    )
    sentences = spark.createDataFrame(
        [("u", f"s{i}", s) for i, s in enumerate(sents_txt)],
        "url string, sentence_id string, sentence string",
    )
    fused = detect_mentions(
        sentences, company_universe(), include_spans=False, with_sc=True,
        sc_model_broadcast=model_bc, sc_tokenizer_broadcast=tok_bc,
        sc_max_length=24,
    )
    standalone = sc_classify(
        sentences, model_broadcast=model_bc, tokenizer_broadcast=tok_bc,
        max_length=24,
    )
    a = {r["sentence_id"]: (r["sc_label"], r["sc_score"])
         for r in fused.select("sentence_id", "sc_label", "sc_score").collect()}
    b = {r["sentence_id"]: (r["sc_label"], r["sc_score"])
         for r in standalone.select("sentence_id", "sc_label", "sc_score").collect()}
    assert a == b and len(a) == 2
    # probe echo proves the token-ID contract ran (score = width or length)
    assert all(v[1] <= 24.0 for v in a.values())


def test_sc_token_path_requires_max_length(spark):
    """sc_max_length=None with a tokenizer + token-ID model must fail
    loudly (the contract is a FIXED width), not silently emit per-batch
    variable shapes."""
    import pytest

    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
    )
    from finance_sc_relations_spark.operators.models import SCProbeModel
    from finance_sc_relations_spark.operators.sc_classifier import sc_scores

    tok = build_re_tokenizer(["alpha beta"], min_freq=1)
    with pytest.raises(ValueError, match="max_length"):
        sc_scores(SCProbeModel(), tok, ["alpha beta"], None)


def test_sc_classify_driver_side_max_length_guard(spark):
    """The misconfiguration must fail when the PLAN is built, not as a
    retried task failure at action time (and not silently on empty input)."""
    import pytest

    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
    )
    from finance_sc_relations_spark.operators.ner import detect_mentions
    from finance_sc_relations_spark.operators.sc_classifier import sc_classify
    from finance_sc_relations_spark.fixtures import company_universe

    tok_bc = spark.sparkContext.broadcast(
        build_re_tokenizer(["alpha"], min_freq=1)
    )
    empty = spark.createDataFrame([], "sentence_id string, sentence string")
    with pytest.raises(ValueError, match="max_length"):
        sc_classify(empty, tokenizer_broadcast=tok_bc, max_length=None)
    with pytest.raises(ValueError, match="sc_max_length"):
        detect_mentions(
            empty.withColumn("url", empty.sentence_id),
            company_universe(), with_sc=True,
            sc_tokenizer_broadcast=tok_bc, sc_max_length=None,
        )
