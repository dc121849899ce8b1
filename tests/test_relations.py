"""Label-algebra semantics (G5, G6) vs the reference's own test values."""

from finance_sc_relations_spark.functions.relations import (
    check_relation_tuples,
    return_possible_pairs,
)


def test_emit_triples_normalizes_reference_direction(spark):
    """The reference's resort_relation values (test/test_conflict_finder.py:
    24-27) through emit_triples: (c1, customer, c2) -> (c2, supplies_to,
    c1), and (c1, supplier, c2) keeps its direction. A classified pair
    labels the role of entity2, so a reference tuple (c1, rel, c2) is the
    pair entity1=c2, entity2=c1 with relation rel."""
    from finance_sc_relations_spark.operators.graph import emit_triples

    ref = [("Apple inc", "customer", "Google"), ("A", "supplier", "B"),
           ("X", "other", "Y")]
    pairs = spark.createDataFrame(
        [("u", f"s{i}", f"r{i}", c2, c1, rel, 0.9)
         for i, (c1, rel, c2) in enumerate(ref)],
        "url string, sentence_id string, r_id string, entity1 string,"
        " entity2 string, relation string, score double",
    )
    got = sorted(
        (r["subj_surface"], r["pred"], r["obj_surface"])
        for r in emit_triples(pairs).collect()
    )
    assert got == [("A", "supplies_to", "B"),
                   ("Google", "supplies_to", "Apple inc")]


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
