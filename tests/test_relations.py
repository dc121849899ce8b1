"""Label-algebra semantics (G5, G6) vs the reference's own test values."""

from finance_sc_relations_spark.functions.relations import (
    check_relation_tuples,
    resort_relation,
    return_possible_pairs,
)


def test_resort_relation_reference_case():
    # test/test_conflict_finder.py:24-27
    assert resort_relation(("Apple inc", "customer", "Google"), {"customer": "supplier"}) == [
        "Google", "supplier", "Apple inc",
    ]
    assert resort_relation(("A", "supplier", "B"), {"customer": "supplier"}) == [
        "A", "supplier", "B",
    ]


def test_return_possible_pairs_reference_cases():
    # test/test_re_dataset_creation.py:37-39
    assert return_possible_pairs([1, 2, 3]) == [(1, 2), (1, 3), (2, 3)]
    assert return_possible_pairs([]) == []


def test_check_relation_tuples_reference_cases():
    # test/test_re_dataset_creation.py:31-35
    assert check_relation_tuples([]) is True
    assert check_relation_tuples([(1, 2, 3)]) is True
    assert check_relation_tuples([(1, 2)]) is False
    assert check_relation_tuples([(1, 2, 3), (4, 5, 6), (7, 8, 9)]) is True
