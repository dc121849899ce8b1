"""Port of the reference NER/alias test family (test/test_language_model.py:10-32)
plus alias-regex and grouping unit checks.
"""

import pandas as pd
import pytest

from finance_sc_relations_spark.operators.ner import (
    _Gazetteer,
    analyze_sentence,
    detect_spans,
    extract_alias_candidates,
    filter_aliases,
)
from finance_sc_relations_spark.functions.similarity import HashEmbedder

# The reference sentence (test/test_language_model.py:19), cleaned per
# rm_special_char (hyphens collapse: Hewlett-Packard -> Hewlett Packard).
CHECK_SENTENCE = (
    'Hewlett Packard reports that "Cisco", NetApp Inc, Lenovo Group Ltd, '
    'International Business Machines Corporation "IBM", Huawei Technologies '
    'Co Ltd, Amazon.com Inc "Amazon", Oracle Corporation or "Oracle", '
    'Fujitsu Limited ("Fujitsu"), Juniper Networks Inc, Inspur Co, Ltd, '
    "Hitachi Ltd, Extreme Networks Inc, Pure Storage Inc, Brocade "
    "Communications Systems Inc, VMware, Nutanix Inc, Google Inc and "
    "Rackspace Inc"
)

GAZETTEER_FORMS = [
    "Hewlett Packard", "Cisco", "NetApp Inc", "Lenovo Group Ltd",
    "International Business Machines Corporation", "IBM",
    "Huawei Technologies Co Ltd", "Amazon.com Inc", "Amazon",
    "Oracle Corporation", "Oracle", "Fujitsu Limited", "Fujitsu",
    "Juniper Networks Inc", "Inspur Co", "Hitachi Ltd",
    "Extreme Networks Inc", "Pure Storage Inc",
    "Brocade Communications Systems Inc", "VMware", "Nutanix Inc",
    "Google Inc", "Rackspace Inc",
]

# expected aliases per test/test_language_model.py:22-26
EXPECTED_ALIASES = [
    ("International Business Machines Corporation", "IBM"),
    ("Amazon.com Inc", "Amazon"),
    ("Fujitsu Limited", "Fujitsu"),
    ("Oracle Corporation", "Oracle"),
]


@pytest.fixture(scope="module")
def gaz():
    return _Gazetteer(GAZETTEER_FORMS)


@pytest.fixture(scope="module")
def embedder():
    return HashEmbedder()


def test_org_grouping_reference_invariants(gaz, embedder):
    """The reference asserts every found alias pair is expected and that
    target and alias share a group id (test_language_model.py:29-32)."""
    spans, groups, aliases = analyze_sentence(CHECK_SENTENCE, gaz, embedder)
    assert len(aliases) >= 3
    for target, alias in aliases:
        assert (target, alias) in EXPECTED_ALIASES
        assert groups[target] == groups[alias]


def test_spans_have_offsets(gaz, embedder):
    spans = detect_spans(CHECK_SENTENCE, gaz)
    texts = {s["text"] for s in spans}
    assert "International Business Machines Corporation" in texts
    assert "Fujitsu Limited" in texts
    for s in spans:
        assert CHECK_SENTENCE[s["start"] : s["end"]] == s["text"]
        assert s["label"] == "ORG"
        assert s["token_end"] > s["token_start"]


def test_pattern_tier_detects_unknown_company():
    gaz0 = _Gazetteer([])
    spans = detect_spans("Zorblatt Industries Inc won the contract.", gaz0)
    assert [s["text"] for s in spans] == ["Zorblatt Industries Inc"]


def test_alias_candidates_brac_quote_or():
    ents = ["Fujitsu Limited", "Fujitsu", "Amazon.com Inc", "Amazon",
            "Oracle Corporation", "Oracle"]
    sent = ('Fujitsu Limited ("Fujitsu"), Amazon.com Inc "Amazon", '
            'Oracle Corporation or "Oracle" were named.')
    cands = extract_alias_candidates(sent, ents)
    assert ("Fujitsu Limited", "Fujitsu") in cands
    assert ("Amazon.com Inc", "Amazon") in cands
    assert ("Oracle Corporation", "Oracle") in cands


def test_filter_aliases_word_overlap(embedder):
    kept = filter_aliases([("Fujitsu Limited", "Fujitsu")], embedder)
    assert kept == [("Fujitsu Limited", "Fujitsu")]


def test_filter_aliases_initials(embedder):
    kept = filter_aliases(
        [("International Business Machines", "IBM")], embedder
    )
    assert kept == [("International Business Machines", "IBM")]


def test_filter_aliases_rejects_unrelated(embedder):
    kept = filter_aliases([("Quantrix Semiconductors", "ZZQ")], embedder)
    assert kept == []
