"""Doc-level reporter aggregation (L7-L10)."""

import pytest

from finance_sc_relations_spark.operators.reporter import aggregate_doc_relations


@pytest.fixture()
def doc_triples(spark):
    # page hosted at quantrix.example.com mentions itself + two partners
    triples = spark.createDataFrame(
        [
            ("https://quantrix.example.com/a", "s0", "Quantrix Semiconductors", "supplies_to",
             "Borealis Logistics Group", "Quantrix Semiconductors", "Borealis Logistics Group", 0.97),
            ("https://quantrix.example.com/a", "s1", "Cobaltec Materials Inc", "supplies_to",
             "Quantrix Semiconductors", "Cobaltec Materials Inc", "Quantrix Semiconductors", 0.96),
            ("https://quantrix.example.com/a", "s2", "Quantrix Semiconductors", "supplies_to",
             "Borealis Logistics Group", "Quantrix Semiconductors", "Borealis Logistics Group", 0.95),
        ],
        "url string, sentence_id string, subj_id string, pred string, obj_id string, "
        "subj_surface string, obj_surface string, score double",
    )
    mentions = spark.createDataFrame(
        [("https://quantrix.example.com/a", [])],
        "url string, aliases array<struct<target:string,alias:string>>",
    )
    return triples, mentions


def test_reporter_removed_other_company_holds_relation(spark, doc_triples):
    triples, mentions = doc_triples
    out = aggregate_doc_relations(triples, mentions).toPandas()
    companies = set(out["company"])
    # the reporter (Quantrix, host match) never appears as a relation holder
    assert not any("Quantrix" in c for c in companies)
    by_co = out.set_index("company")
    # Borealis is on the receiving side of the reporter's supply -> customer
    assert by_co.loc["Borealis Logistics Group", "relationship"] == "customer"
    assert by_co.loc["Borealis Logistics Group", "n_evidence"] == 2
    assert by_co.loc["Borealis Logistics Group", "score"] == pytest.approx(1.92)
    # Cobaltec supplies the reporter -> supplier
    assert by_co.loc["Cobaltec Materials Inc", "relationship"] == "supplier"


def test_log_sum_top_n_scoring_variant(spark, doc_triples):
    triples, mentions = doc_triples
    out = aggregate_doc_relations(triples, mentions, scoring="log_sum_top_n").toPandas()
    b = out.set_index("company").loc["Borealis Logistics Group"]
    # avg(0.97,0.95) * (1 + log(1.92)) = 0.96 * 1.652...
    assert b["score"] == pytest.approx(0.96 * (1 + __import__("math").log(1.92)), abs=1e-3)
